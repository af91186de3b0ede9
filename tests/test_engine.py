"""End-to-end engine test: seed -> crawl -> pagerank -> search with
rank blend and summaries — the full monolith lifecycle (SURVEY §3) on
fixture pages."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from usearch_spark.engine import USearchEngine
from usearch_spark.streaming.crawl import static_fetcher

# a tiny 3-page site: hub links to a and b; a links to b (b has most
# inbound links -> highest pagerank)
HUB = "http://site.test/"
PAGE_A = "http://site.test/a"
PAGE_B = "http://site.test/b"

PAGES = {
    HUB: (
        200,
        "text/html",
        '<html><head><title>Hub</title></head><body>shared term here.'
        f'<a href="{PAGE_A}">a</a><a href="{PAGE_B}">b</a></body></html>',
    ),
    PAGE_A: (
        200,
        "text/html",
        '<html><head><title>Page A</title></head><body>shared term content on page a.'
        f'<a href="{PAGE_B}">b</a></body></html>',
    ),
    PAGE_B: (
        200,
        "text/html",
        "<html><head><title>Page B</title></head><body>shared term content on page b.</body></html>",
    ),
}


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = USearchEngine(spark, str(tmp_path_factory.mktemp("engine")))
    eng.seed([HUB])
    fetch = static_fetcher(PAGES)
    # pass 1 crawls the hub; pass 2 re-crawls it (stale beyond the 2min
    # threshold) plus the two discovered pages
    n1 = eng.run_crawl_pass(fetch, now=dt.datetime(2024, 5, 1))
    n2 = eng.run_crawl_pass(fetch, now=dt.datetime(2024, 5, 2))
    assert (n1, n2) == (1, 3)
    eng.run_pagerank_pass()
    return eng


def test_crawl_builds_graph(engine):
    links = {r["url"] for r in engine.graph.links().collect()}
    assert links == {HUB, PAGE_A, PAGE_B}
    assert engine.graph.edges().count() == 3


def test_pagerank_scores_merged_into_documents(engine):
    docs = {r["url"]: r for r in engine.documents().collect()}
    assert all(d["pagerank"] is not None for d in docs.values())
    # b has two inbound links -> highest score; hub has none -> lowest
    assert docs[PAGE_B]["pagerank"] > docs[PAGE_A]["pagerank"] > docs[HUB]["pagerank"]
    total = sum(d["pagerank"] for d in docs.values())
    assert total == pytest.approx(1.0, abs=0.01)


def test_search_blends_pagerank(engine):
    total, page = engine.search("shared term")
    assert total == 3
    rows = page.collect()
    # all three docs match equally-ish on text; pagerank decides the order
    assert rows[0]["url"] == PAGE_B
    assert rows[0]["display_title"] == "Page B"
    assert "<em>shared</em>" in rows[0]["summary"]


def test_search_phrase_mode(engine):
    total, page = engine.search('"content on page a"')
    assert total == 1
    assert page.first()["url"] == PAGE_A


def test_search_pagination(engine):
    total, p1 = engine.search("shared", offset=0, size=2)
    _, p2 = engine.search("shared", offset=2, size=2)
    assert total == 3
    assert p1.count() == 2 and p2.count() == 1
    assert {r["url"] for r in p1.collect()} | {r["url"] for r in p2.collect()} == {HUB, PAGE_A, PAGE_B}


PARITY_QUERIES = [
    ("shared term", {}),  # MATCH
    ('"content on page a"', {}),  # PHRASE
    ("zebra", {}),  # no hits
    ("shared", {"offset": 5}),  # offset past the end
]


def test_search_page_matches_udf_assembly(engine, spark):
    """The engine's driver-assembled page equals the UDF assembly of the
    index's page, every column, with a session time zone that is not the
    process's (a page round-tripped through Python datetimes would shift
    ``indexed_at``)."""
    from usearch_spark.operators.summarize import assemble_results

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        for expression, kw in PARITY_QUERIES:
            total, page = engine.search(expression, **kw)
            ref_total, ref_page = engine.index().search(expression, **kw)
            ref = assemble_results(ref_page, expression)
            assert total == ref_total
            assert page.schema == ref.schema
            assert page.collect() == ref.collect(), expression
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_search_runs_no_python_worker(engine, spark):
    """A served page is a local frame (its collect starts no Spark job), and
    the index's MATCH plan scans no Python-built frame and runs no Python
    UDF."""
    sc = spark.sparkContext
    total, page = engine.search("shared term")
    assert total == 3
    assert "LocalTableScan" in page._jdf.queryExecution().executedPlan().toString()
    group = "test-search-page-collect"
    sc.setJobGroup(group, "page collect")
    try:
        assert len(page.collect()) == 3
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    _, match_page = engine.index().search("shared term")
    plan = match_page._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan
    assert "ArrowEvalPython" not in plan


def test_reindex_preserves_pagerank(engine, spark):
    """Re-crawl after pagerank: scores must survive the re-index (S8)."""
    fetch = static_fetcher(PAGES)
    engine.run_crawl_pass(fetch, now=dt.datetime(2024, 5, 3))
    docs = {r["url"]: r for r in engine.documents().collect()}
    assert docs[PAGE_B]["pagerank"] is not None
    assert docs[PAGE_B]["pagerank"] > docs[HUB]["pagerank"]


@pytest.mark.slow
def test_streaming_crawl_loop_resumes_from_table_state(spark, tmp_path):
    """True Structured Streaming frontier loop: passes fire on stream
    triggers and persist the three tables; a STOPPED then RESTARTED stream
    resumes the frontier from the tables (crawling a seed added between
    runs) — state lives in storage, not in the stream."""
    import threading
    import time

    eng = USearchEngine(spark, str(tmp_path / "stream_engine"))
    eng.seed([HUB])

    passes = []
    done = threading.Event()

    def on_pass(epoch, n):
        passes.append(n)
        if len(passes) >= 3:
            done.set()

    q = eng.streaming_crawl(static_fetcher(PAGES), interval="0 seconds", on_pass=on_pass)
    try:
        assert done.wait(timeout=120), f"only {len(passes)} passes fired"
    finally:
        q.stop()
    docs = eng.documents()
    urls = {r["url"] for r in docs.select("url").collect()}
    # hub crawled first; a/b discovered and crawled by later stream ticks
    assert {HUB, PAGE_A, PAGE_B} <= urls

    # restart: a new seed added between runs is picked up by the new stream
    extra = "http://site.test/late"
    pages2 = dict(PAGES)
    pages2[extra] = (200, "text/html", "<html><title>Late</title><body>late page.</body></html>")
    eng.seed([extra])
    passes.clear()
    done.clear()
    q2 = eng.streaming_crawl(static_fetcher(pages2), interval="0 seconds", on_pass=on_pass)
    try:
        assert done.wait(timeout=120)
    finally:
        q2.stop()
    urls2 = {r["url"] for r in eng.documents().select("url").collect()}
    assert extra in urls2


def test_pagerank_pass_warm_start_fewer_steps(engine):
    """The hourly-cadence shape: a second pass over the unchanged graph
    seeds from the persisted scores and converges in fewer supersteps,
    landing on the same scores."""
    before = {r["url"]: r["pagerank"] for r in engine.documents().collect()}
    cold_steps = engine.run_pagerank_pass(warm_start=False)
    warm_steps = engine.run_pagerank_pass(warm_start=True)
    assert warm_steps < cold_steps
    after = {r["url"]: r["pagerank"] for r in engine.documents().collect()}
    assert set(before) == set(after)
    assert all(abs(before[u] - after[u]) < 1e-3 for u in before)


def test_engine_runs_on_versioned_store(spark, tmp_path):
    """The full crawl -> pagerank -> search flow on the snapshot-commit
    store: same results, plus a version history left behind."""
    from usearch_spark.sources.graph_store import VersionedGraphStore

    eng = USearchEngine(spark, str(tmp_path / "veng"), store_cls=VersionedGraphStore)
    eng.seed([HUB])
    eng.run_crawl_pass(fetch_fn=static_fetcher(PAGES))
    eng.run_pagerank_pass()
    total, page = eng.search("shared term")
    assert total >= 1 and page.count() >= 1
    assert eng.graph.current_version(eng.graph.links_path) >= 1
    assert len(eng.graph.versions(eng.graph.links_path)) >= 1
