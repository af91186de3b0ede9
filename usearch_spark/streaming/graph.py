"""Streaming graph maintenance: edge upsert + periodic re-rank under the
idempotent snapshot pointer.

The reference's pipeline continuously ingests links and periodically
re-ranks the whole graph (ST3 semantics — the hourly PageRank pass over
the updated link store; see SURVEY §2's S5/S6 upsert and G1 rank
stages).  This module wires that loop into Structured Streaming
`foreachBatch` with the shared crash-safety machinery
(streaming/sketches.py):

  * each epoch UPSERTS its batch into the edge store: new edges only
    (one anti-join against the committed set — linear in the batch, the
    S5/S6 identity contract) land in a version-keyed fragment directory
    (``edges/v<n>`` — the monotonic, lineage-independent counter), so a
    crash-replayed epoch rewrites identical rows and an adopted lineage
    can never collide with fragments the adopted manifest lists;
  * after the merge the epoch RE-RANKS the full edge set with the
    deterministic fixed-step PageRank (plans/pagerank.pagerank,
    min_sad=0 — the oracle-replayable form) and writes the scores into
    the new version directory;
  * the committed state (edge-fragment manifest + scores) is published
    by the atomic ``_CURRENT`` pointer swap with the lineage-aware
    idempotent epoch guard (`_guard_epoch`): replays no-op, foreign
    checkpoints raise (or adopt).

``warm_start=True`` seeds each re-rank from the previous epoch's scores
(the engine's incremental SAD-convergence path — far fewer supersteps on
a mildly-changed graph).  The warm path changes step COUNT, not the
fixpoint, but its renormalization is a float sum, so hash-gated callers
use the default cold fixed-step form; the warm speedup is pinned by
pytest step-count assertions instead.

Scale shape: the upsert touches batch ∪ probe (anti-join co-partitioned
on (src, dst)); the re-rank is the only graph-sized job, amortized by
micro-batch cadence exactly like the reference's hourly pass — and at
100 TB you point ``rerank_every`` at the cadence you can afford.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from usearch_spark.plans.iterative import release_local_checkpoint
from usearch_spark.streaming.sketches import (
    _commit_current,
    _guard_epoch,
    _lineage_id,
    _read_current,
)


def _read_edges(spark, target_path: str, fragments: list[str]) -> DataFrame:
    parts = [
        spark.read.parquet(os.path.join(target_path, "edges", f)) for f in fragments
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def pagerank_stream_rerank(
    stream_edges: DataFrame,
    target_path: str,
    checkpoint_path: str,
    steps: int = 10,
    damping: float = 0.85,
    warm_start: bool = False,
    rerank_every: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
    on_mismatch: str = "error",
) -> StreamingQuery:
    """Start the ingest-and-rerank stream over a streaming DataFrame of
    (src_col, dst_col) edges.  Every epoch upserts new edges; every
    ``rerank_every``-th merged epoch recomputes PageRank over the full
    committed edge set (fixed ``steps``, cold by default — see module
    docstring for the warm_start trade-off).  Versions that skip the
    re-rank carry the previous scores forward."""
    from usearch_spark.plans.pagerank import pagerank

    ptr = os.path.join(target_path, "_CURRENT")
    lineage = _lineage_id(checkpoint_path)

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        adm = _guard_epoch(ptr, lineage, epoch_id, target_path, on_mismatch)
        if adm is None:
            return  # replayed epoch: already merged and committed
        committed, version = adm
        batch = (
            batch_df.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )
        # version-keyed fragment (not epoch-keyed): versions are unique
        # across checkpoint lineages, so an adopted lineage restarting
        # its epoch ids at 0 can neither overwrite a manifest-listed
        # fragment nor anti-join against the directory it is writing;
        # a replayed un-committed epoch reuses its version and rewrites
        # the same fragment identically.
        frag = f"v{version}"
        cur = None
        if committed < 0:
            fragments, since = [], 0
            new_edges = batch
        else:
            meta = json.load(open(os.path.join(target_path, f"v{committed}", "_meta.json")))
            fragments, since = meta["fragments"], meta["epochs_since_rerank"] + 1
            cur = _read_edges(spark, target_path, fragments)
            # S5/S6 upsert identity: only edges NOT already stored append
            new_edges = batch.join(cur, ["src", "dst"], "left_anti")
        # materialize the upsert once: it feeds the fragment write AND the
        # re-rank's edge set below — without the checkpoint the anti-join
        # runs twice, and the re-rank would re-READ every fragment parquet
        # (including the one just written) instead of reusing cur + delta
        new_edges = new_edges.localCheckpoint(eager=True)
        new_edges.write.mode("overwrite").parquet(
            os.path.join(target_path, "edges", frag)
        )
        fragments = fragments + [frag]
        vdir = os.path.join(target_path, f"v{version}")
        os.makedirs(vdir, exist_ok=True)
        if since % rerank_every == 0:
            # committed fragments ∪ the just-written delta — identical rows
            # to re-listing the fragment dirs (the write is the checkpoint's
            # own rows), one multi-fragment parquet re-read saved per epoch
            edges = (
                new_edges if cur is None else cur.unionByName(new_edges)
            ).localCheckpoint(eager=True)
            verts = (
                edges.select(F.col("src").alias("id"))
                .unionByName(edges.select(F.col("dst").alias("id")))
                .dropDuplicates(["id"])
            )
            init = None
            if warm_start and committed >= 0:
                init = spark.read.parquet(
                    os.path.join(target_path, f"v{committed}", "scores")
                )
            res = pagerank(
                verts,
                edges,
                damping=damping,
                min_sad=0.001 if init is not None else 0.0,
                max_steps=steps,
                # the anti-join upsert guarantees a (src,dst) appears in
                # exactly one fragment and batches are self-loop-free, so
                # the defensive dedup shuffle is skipped
                edges_deduped=True,
                init_scores=init,
            )
            res.state.write.mode("overwrite").parquet(os.path.join(vdir, "scores"))
            release_local_checkpoint(edges)
            since, ranked, steps_run = 0, True, res.steps
        else:
            # carry the previous scores forward unchanged
            prev = spark.read.parquet(
                os.path.join(target_path, f"v{committed}", "scores")
            )
            prev.write.mode("overwrite").parquet(os.path.join(vdir, "scores"))
            ranked, steps_run = False, 0
        # the epoch's checkpoints are dead once its scores are written —
        # release them now, or every micro-batch pins one more block set
        release_local_checkpoint(new_edges)
        tmp = os.path.join(vdir, "_meta.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "fragments": fragments,
                    "epochs_since_rerank": since,
                    "ranked": ranked,
                    "steps_run": steps_run,
                },
                fh,
            )
        os.replace(tmp, os.path.join(vdir, "_meta.json"))
        _commit_current(ptr, version, lineage, int(epoch_id))

    return (
        stream_edges.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def read_stream_scores(spark, target_path: str) -> DataFrame:
    """(id, score) of the committed version."""
    version, _, _ = _read_current(os.path.join(target_path, "_CURRENT"))
    return spark.read.parquet(os.path.join(target_path, f"v{version}", "scores"))


def read_stream_meta(target_path: str) -> dict:
    version, _, _ = _read_current(os.path.join(target_path, "_CURRENT"))
    return json.load(open(os.path.join(target_path, f"v{version}", "_meta.json")))
