"""In-memory span tracer for the benchmark's traced runs.

A span records (name, start, end, parent, op id) around one call into a
layer.  Each span runs under its own Spark job group, so the jobs it starts
can be read back from the status tracker and the AppStatusStore when the run
ends: job, stage and task counts, shuffle, spill and output bytes, executor
run time, and Python UDF time.
A span's *self* figures cover only what ran while it was the innermost span;
its *inclusive* figures add its descendants'.

``Tracer.install`` wraps the public callables of the package's layer modules
from the outside (the package itself is not edited): every module attribute
bound to the original callable is rebound to the wrapper, so call sites that
imported the name before the wrapper existed are traced too.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

_JOB_GROUP = "spark.jobGroup.id"
_DURATION_RE = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_DURATION_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_PY_METRIC_RE = re.compile(r"SQLPlanMetric\(time to run Python workers,(\d+),")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    info: dict = field(default_factory=dict)
    children: list[int] = field(default_factory=list)
    # filled by Tracer.collect(): figures of the jobs this span ran itself
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    executor_run_ms: int = 0
    python_ms: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


COUNT_FIELDS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "output_bytes", "executor_run_ms", "python_ms")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # --- recording -----------------------------------------------------------
    def _group(self, sid: int) -> str:
        # unique per tracer: job groups outlive it in the session's status store
        return f"perfbench-{id(self):x}-{sid}"

    @contextmanager
    def span(self, name: str, op: int | None = None):
        """Record a span around the block; ``op`` starts a new operation that
        nested spans inherit."""
        parent = self._stack[-1] if self._stack else None
        if op is not None:
            self._op = op
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent, op=self._op)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        self._stack.append(s.id)
        self.sc.setLocalProperty(_JOB_GROUP, self._group(s.id))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_JOB_GROUP, self._group(self._stack[-1]) if self._stack else None)
            if op is not None:
                self._op = None

    def wrap(self, fn: Callable, name: str, on_result: Callable | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        return traced

    def patch(self, owner, attr: str, name: str, on_result: Callable | None = None, make=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method) with a
        traced wrapper, and rebind every package module attribute that still
        points at the original."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return  # renamed or removed upstream: its figures read 0
        traced = make(orig) if make is not None else self.wrap(orig, name, on_result)
        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))
        if isinstance(owner, type):
            return
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if mod is owner or not (mname.startswith("usearch_spark") or mname == "__spark_entry__"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, traced)
                    self._patches.append((mod, k, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def install(self) -> None:
        """Trace the layers the benchmark reports (names are module paths
        under ``usearch_spark``)."""
        import usearch_spark.engine as engine
        import usearch_spark.operators.search as search
        import usearch_spark.plans.iterative as iterative
        import usearch_spark.plans.pagerank as pagerank
        import usearch_spark.sources.graph_store as graph_store
        import usearch_spark.streaming.crawl as crawl

        E = engine.USearchEngine
        for m in ("run_crawl_pass", "run_pagerank_pass", "search"):
            self.patch(E, m, f"engine.{m}")
        self.patch(E, "_write_documents", "sources.index_store.write")
        self.patch(crawl, "crawl_pass", "streaming.crawl.crawl_pass")
        for m in ("replace_links", "replace_edges", "upsert_links"):
            self.patch(graph_store.ParquetGraphStore, m, "sources.graph_store.write")
        self.patch(search.SearchIndex, "__init__", "operators.search.build")
        self.patch(search.SearchIndex, "search", "operators.search.search")
        self.patch(pagerank, "pagerank", "plans.pagerank.pagerank", on_result=_record_steps)
        self.patch(iterative, "run_fixpoint", "plans.iterative.run_fixpoint", make=self._trace_fixpoint)
        self.patch(iterative, "checkpoint_with_metrics", "plans.iterative.checkpoint_with_metrics")

    def _trace_fixpoint(self, orig):
        """run_fixpoint with each ``step_fn`` call traced as one superstep."""
        tracer = self

        @functools.wraps(orig)
        def traced(state, step_fn, *args, **kwargs):
            step = tracer.wrap(step_fn, "plans.iterative.superstep")
            with tracer.span("plans.iterative.run_fixpoint") as s:
                out = orig(state, step, *args, **kwargs)
                s.info["steps"] = out.steps
                return out

        return traced

    # --- reading the counts back ---------------------------------------------
    def collect(self) -> None:
        """Fill each span's self counts from the Spark status stores.  Each
        stage is charged once, to the first span whose jobs list it (later
        jobs that reuse its shuffle output skip it)."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen_stages: set[int] = set()
        job_span: dict[int, Span] = {}
        for s in self.spans:
            for jid in sorted(tracker.getJobIdsForGroup(self._group(s.id))):
                job_span[jid] = s
        for jid in sorted(job_span):
            s = job_span[jid]
            job = store.job(jid)
            s.jobs += 1
            ids = [int(x) for x in str(job.stageIds().mkString(",")).split(",") if x]
            for sid in sorted(ids):
                if sid in seen_stages:
                    continue
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                seen_stages.add(sid)
                s.stages += 1
                s.tasks += st.numCompleteTasks() + st.numFailedTasks()
                s.shuffle_bytes += st.shuffleReadBytes() + st.shuffleWriteBytes()
                s.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                s.output_bytes += st.outputBytes()
                s.executor_run_ms += st.executorRunTime()
        self._collect_python_time(job_span)

    def _collect_python_time(self, job_span: dict[int, Span]) -> None:
        """Python UDF worker time ("time to run Python workers", a SQL plan
        metric) per span, summed over the SQL executions its jobs ran."""
        sql_store = self._spark._jsparkSession.sharedState().statusStore()
        execs = sql_store.executionsList()
        for i in range(execs.length()):
            ex = execs.apply(i)
            # SQLPlanMetric(name,accumulatorId,metricType) entries
            acc_ids = {int(a) for a in _PY_METRIC_RE.findall(str(ex.metrics().mkString("|")))}
            if not acc_ids:
                continue
            jids = [int(x) for x in str(ex.jobs().keys().mkString(",")).split(",") if x]
            owners = {job_span[j].id for j in jids if j in job_span}
            if not owners:
                continue
            values = str(sql_store.executionMetrics(ex.executionId()).mkString("\x1e"))
            ms = 0.0
            for entry in values.split("\x1e"):
                acc, _, text = entry.partition(" -> ")
                if acc.strip().isdigit() and int(acc) in acc_ids:
                    ms += _duration_ms(text)
            self.spans[min(owners)].python_ms += ms

    # --- aggregation -----------------------------------------------------------
    def inclusive(self, s: Span) -> dict:
        tot = {f: getattr(s, f) for f in COUNT_FIELDS}
        for c in s.children:
            for f, v in self.inclusive(self.spans[c]).items():
                tot[f] += v
        return tot

    def self_time(self, s: Span, minus: tuple[str, ...] | None = None) -> float:
        """Wall time minus the union of the intervals its children cover
        (with ``minus``, only the children of those names)."""
        kids = [self.spans[c] for c in s.children]
        if minus is not None:
            kids = [c for c in kids if c.name in minus]
        covered, cur_end = 0.0, None
        for c in sorted(kids, key=lambda c: c.start):
            if cur_end is None or c.start > cur_end:
                covered += c.wall
                cur_end = c.end
            elif c.end > cur_end:
                covered += c.end - cur_end
                cur_end = c.end
        return s.wall - covered

    def named(self, name: str, under: str | None = None) -> list[Span]:
        """Spans called ``name``; with ``under``, only those with an ancestor
        called ``under``."""
        return [s for s in self.spans if s.name == name and (under is None or self.has_ancestor(s, under))]

    def has_ancestor(self, s: Span, name: str) -> bool:
        p = s.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
                "op": s.op,
                "self_s": round(self.self_time(s), 6),
                **{f: getattr(s, f) for f in COUNT_FIELDS},
                **s.info,
            }
            for s in self.spans
        ]


def _duration_ms(text: str) -> float:
    m = _DURATION_RE.search(text)
    return float(m.group(1).replace(",", "")) * _DURATION_UNIT_MS[m.group(2)] if m else 0.0


def _record_steps(span: Span, out) -> None:
    span.info["steps"] = int(out.steps)
