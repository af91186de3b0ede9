"""USearchEngine — the monolith facade (reference monolith/main.go +
monolith/service/*): persistent link graph + document index + the three
passes (crawl, pagerank, search) wired together.

The reference runs crawl every 2min and PageRank hourly against remote
stores; here each pass is one Spark batch job against parquet-backed
tables, and the search path is the SearchIndex operator over the documents
table with the additive relevance+pagerank blend.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from usearch_spark.operators.search import MATCH, SearchIndex
from usearch_spark.operators.summarize import assemble_on_driver
from usearch_spark.sources.graph_store import ParquetGraphStore
from usearch_spark.sources.index_store import update_scores
from usearch_spark.plans.pagerank import pagerank
from usearch_spark.streaming.crawl import FetchFn, crawl_pass, due_links, stub_fetch


class USearchEngine:
    def __init__(self, spark: SparkSession, root: str, store_cls: type | None = None):
        """``store_cls``: the graph-store implementation — defaults to
        ParquetGraphStore (read-join-overwrite); pass VersionedGraphStore
        for crash-safe snapshot commits + time travel, or DeltaGraphStore
        on a Delta-enabled cluster.  All three share one interface."""
        self.spark = spark
        self.root = root
        self.graph = (store_cls or ParquetGraphStore)(spark, root)
        self.docs_path = os.path.join(root, "documents")
        self._index: SearchIndex | None = None

    # --- stores -----------------------------------------------------------
    def documents(self) -> DataFrame | None:
        from pyspark.errors import AnalysisException

        try:
            return self.spark.read.parquet(self.docs_path)
        except AnalysisException:
            # path-not-found / no-schema = store not created yet; any other
            # failure (IO, corruption) must propagate, not masquerade as
            # an empty store and get overwritten
            return None

    def _write_documents(self, docs: DataFrame) -> None:
        docs.localCheckpoint(eager=True).write.mode("overwrite").parquet(self.docs_path)
        self._index = None

    # --- passes -----------------------------------------------------------
    def seed(self, urls: list[str]) -> None:
        """Add seed URLs to the link graph (never retrieved -> due).  The
        frame is built from Arrow: one built from a Python list is a
        PythonRDD, whose every action waits on Python workers."""
        df = self.spark.createDataFrame(pa.table({"url": pa.array(urls, pa.string())}))
        self.graph.upsert_links(df)

    def run_crawl_pass(
        self,
        fetch_fn: FetchFn = stub_fetch,
        now: dt.datetime | None = None,
        reindex_threshold: dt.timedelta = dt.timedelta(minutes=2),
    ) -> int:
        """ST1/ST2: one timer tick of the reference crawler service."""
        now = now or dt.datetime.utcnow()
        links = self.graph.links()
        if links is None:
            return 0
        due = due_links(links, now, reindex_threshold)
        result = crawl_pass(links, self.graph.edges(), self.documents(), due, fetch_fn, now)
        # materialize ALL outputs before overwriting any store they read from
        new_links = result.links.localCheckpoint(eager=True)
        new_edges = result.edges.localCheckpoint(eager=True)
        new_docs = result.documents.localCheckpoint(eager=True)
        self.graph.replace_links(new_links)
        self.graph.replace_edges(new_edges)
        self._write_documents(new_docs)
        return result.n_crawled

    def streaming_crawl(
        self,
        fetch_fn: FetchFn = stub_fetch,
        interval: str = "2 minutes",
        reindex_threshold: dt.timedelta = dt.timedelta(minutes=2),
        now_fn=None,
        on_pass=None,
    ):
        """ST1 as a TRUE Structured Streaming frontier loop: every
        processing-time trigger executes one crawl pass via foreachBatch,
        persisting links/edges/documents.  The stream supplies only the
        clock and restart semantics — ALL state lives in the parquet
        tables, so a stopped-and-restarted stream resumes the frontier
        exactly where the previous run left off (the reference's crawler
        service restart behavior, monolith/main.go timer loop).

        ``now_fn``/``on_pass`` are test hooks: a deterministic clock and a
        per-pass callback receiving (epoch, n_crawled)."""
        from usearch_spark.streaming.events import periodic_crawl_stream

        def tick(epoch: int) -> None:
            now = now_fn() if now_fn else None
            n = self.run_crawl_pass(fetch_fn, now=now, reindex_threshold=reindex_threshold)
            if on_pass is not None:
                on_pass(epoch, n)

        return periodic_crawl_stream(self.spark, tick, interval)

    def run_pagerank_pass(
        self, min_sad: float = 0.001, damping: float = 0.85, warm_start: bool = True
    ) -> int:
        """ST3: the reference pagerank service pass — whole-graph PageRank,
        scores merged into the documents table (one MERGE instead of the
        reference's per-doc network round-trips).

        ``warm_start``: seed from the scores persisted by the PREVIOUS pass
        (documents table pagerank column) — on the reference's hourly
        cadence the graph barely changes between passes, so the SAD
        criterion converges in a couple of steps instead of 10+.  The
        fixpoint is identical either way; pass False to force the cold
        uniform start."""
        links = self.graph.links()
        if links is None:
            return 0
        edges = self.graph.edges()
        init = None
        if warm_start:
            docs = self.documents()
            if docs is not None and "pagerank" in docs.columns:
                prev = docs.select(
                    F.col("link_id").alias("id"), F.col("pagerank").alias("score")
                ).filter(F.col("score").isNotNull())
                init = prev
        res = pagerank(
            links.select("id"),
            edges if edges is not None else self.spark.createDataFrame([], "src string, dst string"),
            damping=damping,
            min_sad=min_sad,
            init_scores=init,
        )
        ranks = res.state.select(F.col("id").alias("link_id"), F.col("score"))
        self._write_documents(update_scores(self.documents(), ranks))
        return res.steps

    # --- queries ----------------------------------------------------------
    def index(self) -> SearchIndex:
        if self._index is None:
            docs = self.documents()
            if docs is None:
                raise ValueError("no documents indexed yet")
            self._index = SearchIndex(docs)
        return self._index

    def search(
        self, expression: str, mode: str = MATCH, offset: int = 0, size: int = 10, with_summaries: bool = True
    ) -> tuple[int, DataFrame]:
        """GET /search parity: (total_count, page with summary/highlight/
        display-title columns).

        With summaries, the page (at most ``size`` rows) is collected once
        and assembled on the driver by ``assemble_on_driver``, with the
        code ``assemble_results`` runs in its UDF.  The page comes back as a
        local frame: collecting it starts no Spark job, and no step of the
        search runs in a Python worker."""
        total, page = self.index().search(expression, mode=mode, offset=offset, size=size)
        if with_summaries:
            page = assemble_on_driver(page, expression)
        return total, page
