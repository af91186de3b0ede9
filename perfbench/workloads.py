"""The benchmark workloads.  Each is a closed loop with one client: the next
operation starts only after the previous one returned.

Every workload sets up its inputs ``SETUP_REPS`` times (the median is
``setup_s``), then runs its operations, and checks every answer outside the
timed region.  A wrong answer counts as a failed operation.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import math
import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import gen

SETUP_REPS = 3
VOCAB_SIZE = 3000
PAGE_SIZE = 10


@dataclass
class Outcome:
    """What one run measured, before it is turned into metrics."""

    setup_s: list[float] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)  # successful operations
    op_failed: int = 0
    cycle_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    items: int = 0  # units of work for items_per_s, done in items_s seconds
    items_s: float = 0.0
    useful: int = 0  # crawl: new or changed documents the passes produced
    pages_fetched: int = 0
    named: dict = field(default_factory=dict)  # the workload's own figures

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)


class _NoTrace:
    def span(self, name, op=None):
        return nullcontext()


NO_TRACE = _NoTrace()


def percentile_ms(out: Outcome, p: float) -> float:
    """Operation latency percentile in ms.  A failed operation ranks above
    every success; where the percentile lands on one it reads as the time
    of every operation together (the failed one never completed)."""
    vals = sorted(out.op_s) + [math.inf] * out.op_failed
    if not vals:
        return 0.0
    k = (len(vals) - 1) * p
    lo, hi = vals[math.floor(k)], vals[math.ceil(k)]
    if math.isinf(hi):
        return sum(out.op_s) * 1e3
    return (lo + (hi - lo) * (k - math.floor(k))) * 1e3


def mean_ms(out: Outcome) -> float:
    """Mean operation latency in ms; a failed operation counts as taking as
    long as every operation together."""
    n = len(out.op_s) + out.op_failed
    return sum(out.op_s) * (1 + out.op_failed) / n * 1e3 if n else 0.0


def _timed_setup(out: Outcome, tr, fn):
    t0 = time.perf_counter()
    with tr.span("bench.setup"):
        result = fn()
    out.setup_s.append(time.perf_counter() - t0)
    return result


def _median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


# --- crawl_cycle --------------------------------------------------------------

CRAWL_T0 = dt.datetime(2024, 1, 1)
REINDEX_THRESHOLD = dt.timedelta(minutes=2)
MUTATED_SHARE = 0.1
# Searches served after the re-crawl: two 3:1 MATCH:PHRASE rotations, so
# every run (and every seed) does the same mix; more follow only while the
# measured window is shorter than --seconds.
SERVE_SEARCHES = 8
MAX_DRAIN_PASSES = 10
# Two runs of the reference's PageRank that each stop once a step moves the
# vector by less than min_sad (L1) are each within min_sad * d / (1 - d) of
# the fixpoint (the step map contracts by d in L1), so they may differ by
# twice that.
PAGERANK_MIN_SAD = 0.001
PAGERANK_DAMPING = 0.85
WARM_COLD_SAD_TOL = 2 * PAGERANK_MIN_SAD * PAGERANK_DAMPING / (1 - PAGERANK_DAMPING)


def _check_page(q: gen.Query, expected: set[str], total: int, rows) -> str | None:
    if total != len(expected):
        return f"total {total} != {len(expected)} matching documents"
    want = min(PAGE_SIZE, max(0, total - q.offset))
    if len(rows) != want:
        return f"page has {len(rows)} rows, expected {want}"
    if any(r["url"] not in expected for r in rows):
        return "page holds a non-matching document"
    keys = [(-r["final_score"], r["link_id"]) for r in rows]
    if keys != sorted(keys):
        return "page not ordered by final_score desc, link_id asc"
    if any(r["summary"] is None for r in rows):
        return "page row without a summary"
    return None


def _ranks(eng) -> dict[str, float]:
    return {r["url"]: r["pagerank"] for r in eng.documents().select("url", "pagerank").collect()}


def _check_store(eng, w: gen.Web, n_edges: int, ranks: dict[str, float]) -> str | None:
    counts = (eng.graph.links().count(), eng.graph.edges().count(), len(ranks))
    if counts != (len(w.urls), n_edges, len(w.urls)):
        return f"links/edges/docs {counts} != {(len(w.urls), n_edges, len(w.urls))}"
    mass = sum(v for v in ranks.values() if v is not None)
    if abs(mass - 1.0) > 1e-3:
        return f"PageRank mass {mass}"
    return None


def crawl_cycle(spark, rng, work: str, tr, seconds: float) -> Outcome:
    """Write path, then the read path that has to see the writes.

    1. ``seed`` the host roots, ``run_crawl_pass`` until nothing is due;
    2. a cold ``run_pagerank_pass`` (the local-solve branch);
    3. the clock moves past the re-index threshold, 10% of pages change,
       and one ``run_crawl_pass`` re-crawls every page;
    4. a warm ``run_pagerank_pass``, then the search for the changed pages
       (steps 3-4 are one cycle, timed as crawl-to-searchable);
    5. serving: SERVE_SEARCHES Zipf-popular MATCH/PHRASE searches, each
       with its page collect, and more until ``seconds`` have passed.
    """
    from usearch_spark.engine import USearchEngine
    from usearch_spark.streaming.crawl import due_links, static_fetcher

    out = Outcome()
    vocab = gen.vocabulary(VOCAB_SIZE)
    w = gen.web(rng, n_hosts=8, pages_per_host=40, vocab=vocab)
    n_edges = sum(len(v) for v in w.links.values())
    word = "zqmut"  # not a vocabulary word: the syllables hold no q
    mutated = {w.urls[int(k)] for k in rng.choice(len(w.urls), int(len(w.urls) * MUTATED_SHARE), replace=False)}
    fetch = static_fetcher(gen.serve(w, {}))
    fetch_mutated = static_fetcher(gen.serve(w, {u: word for u in mutated}))
    served = gen.indexed(w, {u: word for u in mutated})
    queries = gen.search_queries(rng, 1000, vocab, served)
    oracle = gen.SearchOracle(served)

    def setup(rep: int) -> USearchEngine:
        eng = USearchEngine(spark, os.path.join(work, f"crawl-{rep}"))
        eng.seed(w.roots)
        return eng

    eng = [_timed_setup(out, tr, lambda r=r: setup(r)) for r in range(SETUP_REPS)][-1]
    crawl_s: list[float] = []
    rank_s: list[float] = []

    def crawl(fetch_fn, now) -> None:
        t0 = time.perf_counter()
        n = eng.run_crawl_pass(fetch_fn, now=now, reindex_threshold=REINDEX_THRESHOLD)
        crawl_s.append(time.perf_counter() - t0)
        out.pages_fetched += n

    def rank(warm: bool) -> None:
        t0 = time.perf_counter()
        eng.run_pagerank_pass(min_sad=PAGERANK_MIN_SAD, damping=PAGERANK_DAMPING, warm_start=warm)
        rank_s.append(time.perf_counter() - t0)

    t_measure = time.perf_counter()
    with tr.span("bench.measure"):
        out.attempted += 1
        try:
            with tr.span("bench.drain", op=0):
                for i in range(MAX_DRAIN_PASSES):
                    now = CRAWL_T0 + dt.timedelta(seconds=i)
                    crawl(fetch, now)
                    if due_links(eng.graph.links(), now + dt.timedelta(seconds=1), REINDEX_THRESHOLD).isEmpty():
                        break
                rank(warm=False)
        except Exception as exc:
            out.fail("initial crawl + cold re-rank", exc)
            return out
        with tr.span("bench.check"):
            cold = _ranks(eng)
            err = _check_store(eng, w, n_edges, cold)
        if err:
            out.fail(f"after the initial crawl: {err}")
        out.useful += len(cold)

        out.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("bench.cycle", op=1):
                crawl(fetch_mutated, CRAWL_T0 + dt.timedelta(hours=1))
                rank(warm=True)
                with tr.span("bench.search"):
                    total, page = eng.search(word)
                    with tr.span("operators.search.page_collect"):
                        rows = page.collect()
            took = time.perf_counter() - t0
            if total != len(mutated) or len(rows) != min(PAGE_SIZE, total) or any(r["url"] not in mutated for r in rows):
                out.fail(f"re-crawl: search for the changed pages returned {total} (expected {len(mutated)})")
            else:
                out.cycle_s.append(took)
                out.useful += len(mutated)
        except Exception as exc:
            out.fail("re-crawl cycle", exc)

        for i, q in enumerate(queries):
            if i >= SERVE_SEARCHES and time.perf_counter() - t_measure >= seconds:
                break
            out.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("bench.search", op=2 + i):
                    total, page = eng.search(q.expression, offset=q.offset)
                    with tr.span("operators.search.page_collect"):
                        rows = page.collect()
            except Exception as exc:
                out.op_failed += 1
                out.fail(f"search {q.expression!r}", exc)
                continue
            took = time.perf_counter() - t0
            err = _check_page(q, oracle.matching(q), total, rows)
            if err:
                out.op_failed += 1
                out.fail(f"search {q.expression!r} offset {q.offset}: {err}")
            else:
                out.op_s.append(took)

    warm = _ranks(eng)
    err = _check_store(eng, w, n_edges, warm)
    sad = sum(abs((warm.get(u) or 0.0) - (cold.get(u) or 0.0)) for u in set(warm) | set(cold))
    if err or sad > WARM_COLD_SAD_TOL:
        out.fail(f"after the re-crawl: {err or f'warm-vs-cold PageRank SAD {sad} > {WARM_COLD_SAD_TOL}'}")
    out.items, out.items_s = out.pages_fetched, sum(crawl_s)
    out.named = {
        "search_p50_ms": ("ms", percentile_ms(out, 0.5)),
        "search_p90_ms": ("ms", percentile_ms(out, 0.9)),
        "crawl_pages_per_s": ("1/s", out.items / out.items_s),
        "crawl_to_searchable_s": ("s", _median(out.cycle_s)),
        "rank_pass_s": ("s", rank_s[-1]),
        "cold_rank_pass_s": ("s", rank_s[0]),
        "warm_cold_sad": ("1", sad),
    }
    return out


# --- graph_loops --------------------------------------------------------------

# Distributed superstep queries: the distributed branch of plans.pagerank and
# the query with the most Spark jobs.  graph_partition_kway, graph_scc,
# graph_kcenters, graph_hits_dist, graph_harmonic_dist and
# graph_betweenness_dist are left out: they would push a run past its time
# budget.
GRAPH_QUERIES = ["graph_pagerank_dist", "graph_louvain_dist"]
GRAPH_SF = 0.1  # TPC-H scale factor of the generated tables


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive value hash over columns sorted by name (the repo's
    Spark-vs-DuckDB correctness contract)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for row in sorted(tuple(_canon(r[i]) for i in order) for r in rows):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def graph_loops(spark, rng, work: str, tr, seconds: float) -> Outcome:
    """Passes over GRAPH_QUERIES, each query built and written to the noop
    sink, until ``seconds`` have passed (at least one pass); every result is
    then hashed against its DuckDB oracle.

    The tables are generated once, untimed; a timed set-up loads and counts
    every table.  The first query of the first pass also builds the
    supplier->part graph artifact the graph queries share, which
    ``__spark_entry__`` persists once per data directory."""
    import __spark_entry__ as entry
    from usearch_spark.sources.testdata import load_table

    out = Outcome()
    queries, oracles = entry.queries(), entry.oracle_sql()
    # the entry module keys its artifacts by the data directory's name: a
    # fresh name per process
    tag = f"gl{os.getpid()}"
    data = os.path.join(work, tag)
    gen.tpch_tables(rng, data, GRAPH_SF)

    def setup() -> None:
        for name in gen.TPCH_TABLES:
            if load_table(spark, name, data).count() == 0:
                raise RuntimeError(f"generated table {name} is empty")

    warehouse = os.path.join(os.path.dirname(os.path.abspath(entry.__file__)), "spark-warehouse")
    try:
        for _ in range(SETUP_REPS):
            _timed_setup(out, tr, setup)
        _graph_passes(spark, out, tr, seconds, queries, oracles, data)
    finally:
        for artifact in glob.glob(os.path.join(warehouse, f"*_{tag}")):
            shutil.rmtree(artifact, ignore_errors=True)
    out.items, out.items_s = len(out.op_s), sum(out.cycle_s)
    out.named = {"graph_loops_s": ("s", _median(out.cycle_s))}
    return out


def _graph_passes(spark, out: Outcome, tr, seconds: float, queries, oracles, data: str) -> None:
    import duckdb

    results: list[tuple[str, object, float]] = []
    with tr.span("bench.measure"):
        spent = 0.0
        while not out.cycle_s or spent < seconds:
            t_pass = time.perf_counter()
            for q in GRAPH_QUERIES:
                out.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tr.span(f"graph_loops.{q}", op=out.attempted):
                        df = queries[q](spark, data)
                        df.write.format("noop").mode("overwrite").save()
                except Exception as exc:
                    out.op_failed += 1
                    out.fail(q, exc)
                    continue
                results.append((q, df, time.perf_counter() - t0))
            out.cycle_s.append(time.perf_counter() - t_pass)
            spent += out.cycle_s[-1]

    con = duckdb.connect()
    for name in gen.TPCH_TABLES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data}/{name}.parquet')")
    want = {}
    for q, df, took in results:
        if q not in want:
            o = con.sql(oracles[q])
            want[q] = (sorted(o.columns), table_hash(o.columns, o.fetchall()))
        got = (sorted(df.columns), table_hash(df.columns, [tuple(r) for r in df.collect()]))
        if got == want[q]:
            out.op_s.append(took)
        else:
            out.op_failed += 1
            out.fail(f"{q}: result {got} != DuckDB oracle {want[q]}")
    con.close()


WORKLOADS = {"crawl_cycle": crawl_cycle, "graph_loops": graph_loops}
