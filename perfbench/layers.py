"""Per-layer metrics of a traced run, derived from its spans.

Layer names are the package's module paths.  Timings are medians per call
unless the name says otherwise; job/stage/task/byte counts are per operation
(search, crawl pass) or per query.  Counts repeat exactly between runs of the
same code and seed, except graph_louvain_dist's ~165 jobs: adaptive query
execution runs some query stages as jobs of their own, and how many depends on
the order in which stages finish.  A layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from spans import Span, Tracer
from workloads import GRAPH_QUERIES, Outcome, mean_ms


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return float(statistics.fmean(xs)) if xs else 0.0


def per_layer(tr: Tracer, out: Outcome) -> dict[str, float]:
    measured = [s for s in tr.spans if s.name == "bench.measure"]

    def under_measure(name: str) -> list[Span]:
        return tr.named(name, under="bench.measure")

    def incl(spans: list[Span], field: str) -> list[float]:
        return [tr.inclusive(s)[field] for s in spans]

    m: dict[str, float] = {}

    searches = under_measure("bench.search")
    m["operators.search.index_build_s"] = _median(s.wall for s in tr.named("operators.search.build"))
    m["operators.search.search_s"] = _median(s.wall for s in under_measure("operators.search.search"))
    m["operators.search.page_collect_s"] = _median(s.wall for s in under_measure("operators.search.page_collect"))
    for f in ("jobs", "stages", "tasks", "shuffle_bytes"):
        m[f"operators.search.{f}"] = _median(incl(searches, f))
    m["operators.summarize.assemble_s"] = _median(v / 1e3 for v in incl(searches, "python_ms"))

    m["streaming.crawl.crawl_pass_s"] = _median(s.wall for s in under_measure("streaming.crawl.crawl_pass"))
    m["streaming.crawl.pages_fetched"] = float(out.pages_fetched)
    m["streaming.crawl.useful_ratio"] = out.useful / out.pages_fetched if out.pages_fetched else 0.0

    # what run_crawl_pass does itself: materializing the pass's outputs,
    # not building the crawl plan or writing the stores
    passes = under_measure("engine.run_crawl_pass")
    delegated = ("streaming.crawl.crawl_pass", "sources.graph_store.write", "sources.index_store.write")
    m["engine.crawl_materialize_s"] = _median(tr.self_time(s, minus=delegated) for s in passes)
    for f in ("jobs", "stages", "tasks", "shuffle_bytes"):
        m[f"engine.{f}"] = _mean(incl(passes, f))

    for layer in ("sources.graph_store", "sources.index_store"):
        writes = tr.named(f"{layer}.write")
        m[f"{layer}.write_s"] = _median(s.wall for s in writes)
        m[f"{layer}.bytes_written"] = _median(incl(writes, "output_bytes"))

    # crawl_cycle: the warm re-rank of the cycle (the cold one seeds it)
    ranks = [s for s in under_measure("plans.pagerank.pagerank") if not tr.has_ancestor(s, "bench.drain")]
    m["plans.pagerank.pagerank_s"] = _median(s.wall for s in ranks)
    m["plans.pagerank.steps"] = _median(s.info.get("steps", 0) for s in ranks)
    m["plans.pagerank.jobs"] = _median(incl(ranks, "jobs"))

    # a superstep is one step_fn call of run_fixpoint; checkpoint jobs are
    # those of checkpoint_with_metrics and of run_fixpoint's own checkpoints
    steps = under_measure("plans.iterative.superstep")
    m["plans.iterative.supersteps"] = float(len(steps))
    m["plans.iterative.superstep_s"] = _median(s.wall for s in steps)
    m["plans.iterative.checkpoint_jobs"] = float(
        sum(incl(under_measure("plans.iterative.checkpoint_with_metrics"), "jobs"))
        + sum(s.jobs for s in under_measure("plans.iterative.run_fixpoint"))
    )

    for q in GRAPH_QUERIES:
        runs = under_measure(f"graph_loops.{q}")
        m[f"graph_loops.{q}.wall_s"] = _median(s.wall for s in runs)
        first = tr.inclusive(runs[0]) if runs else {}
        for f in ("jobs", "stages", "tasks", "shuffle_bytes"):
            m[f"graph_loops.{q}.{f}"] = float(first.get(f, 0))

    # the measured window, less the answer checks made inside it
    session = [tr.inclusive(s) for s in measured]
    checks = [tr.inclusive(s) for s in under_measure("bench.check")]
    for key, f, scale in (("jobs_total", "jobs", 1), ("tasks_total", "tasks", 1), ("executor_run_s", "executor_run_ms", 1e3)):
        m[f"session.{key}"] = (sum(s[f] for s in session) - sum(s[f] for s in checks)) / scale

    m["failed_ratio"] = out.failed / out.attempted if out.attempted else 0.0
    m["trace.op_mean_ms"] = mean_ms(out)
    return m
