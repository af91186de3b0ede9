"""Streaming edge ingest + periodic re-rank (streaming/graph.py): upsert
identity, crash-window replay, lineage guard, rerank cadence with
carried-forward scores, and the warm-start step-count win."""

from __future__ import annotations

import glob
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from usearch_spark.streaming.graph import (
    pagerank_stream_rerank,
    read_stream_meta,
    read_stream_scores,
)
from tests.test_streaming import _drop_last_commit

pytestmark = pytest.mark.slow  # streaming replays: multi-micro-batch runs dominate the suite clock



def _ring_edges(spark, n=60):
    return spark.range(n).select(
        F.col("id").cast("string").alias("src"),
        ((F.col("id") + 1) % n).cast("string").alias("dst"),
    )


def _write_batches(spark, tmp_path, overlap=True):
    """batch0 = even-src ring edges, batch1 = odd-src PLUS a replayed
    even-src slice (the at-least-once overlap the upsert must absorb)."""
    e = _ring_edges(spark)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    parts = [
        e.filter(F.col("src").cast("long") % 2 == 0),
        e.filter(
            (F.col("src").cast("long") % 2 == 1)
            | (F.col("src").cast("long") < (10 if overlap else 0))
        ),
    ]
    for b, df in enumerate(parts):
        tmp = str(tmp_path / f"t{b}")
        df.coalesce(1).write.parquet(tmp)
        dst = f"{src}/batch{b}.parquet"
        shutil.copy(glob.glob(tmp + "/part-*.parquet")[0], dst)
        os.utime(dst, (1000000 + b * 100,) * 2)
    return e, src


def _stream(spark, src):
    return (
        spark.readStream.schema("src string, dst string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _drain(stream, target, ckpt, **kw):
    kw.setdefault("steps", 8)
    q = pagerank_stream_rerank(stream, target, ckpt, **kw)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_upsert_dedups_and_scores_match_batch(spark, tmp_path):
    """Overlapping batches store each edge exactly once (fragment e1 holds
    ONLY the genuinely new edges), and the drained scores equal the
    one-shot fixed-step pagerank over the same graph."""
    from usearch_spark.plans.pagerank import pagerank

    e, src = _write_batches(spark, tmp_path)
    target, ckpt = str(tmp_path / "g"), str(tmp_path / "ckpt")
    _drain(_stream(spark, src), target, ckpt)

    frags = {
        f: spark.read.parquet(os.path.join(target, "edges", f)).count()
        for f in sorted(os.listdir(os.path.join(target, "edges")))
    }
    assert frags == {"v0": 30, "v1": 30}  # the replayed even slice was absorbed
    got = {r["id"]: round(r["score"], 8) for r in read_stream_scores(spark, target).collect()}
    verts = e.select(F.col("src").alias("id")).unionByName(e.select(F.col("dst").alias("id"))).distinct()
    want_res = pagerank(verts, e, min_sad=0.0, max_steps=8, edges_deduped=True)
    want = {r["id"]: round(r["score"], 8) for r in want_res.state.collect()}
    assert got == want and len(got) == 60


def test_replay_and_lineage(spark, tmp_path):
    _, src = _write_batches(spark, tmp_path)
    target, ckpt = str(tmp_path / "g"), str(tmp_path / "ckpt")
    _drain(_stream(spark, src), target, ckpt)
    first = sorted(map(tuple, read_stream_scores(spark, target).collect()))

    _drop_last_commit(ckpt)  # crash window: epoch 1 re-delivered, same lineage
    _drain(_stream(spark, src), target, ckpt)
    assert sorted(map(tuple, read_stream_scores(spark, target).collect())) == first
    assert sorted(os.listdir(os.path.join(target, "edges"))) == ["v0", "v1"]

    q = pagerank_stream_rerank(_stream(spark, src), target, str(tmp_path / "ckpt_b"), steps=8)
    try:
        with pytest.raises(Exception, match="lineage mismatch"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_rerank_cadence_carries_scores(spark, tmp_path):
    """rerank_every=2: epoch 1 only merges (scores carried forward from
    epoch 0's version, meta says ranked=False), so the committed scores
    cover only epoch-0 vertices until the next cadence point."""
    _, src = _write_batches(spark, tmp_path, overlap=False)
    target, ckpt = str(tmp_path / "g"), str(tmp_path / "ckpt")
    _drain(_stream(spark, src), target, ckpt, rerank_every=2)
    meta = read_stream_meta(target)
    assert meta["ranked"] is False and meta["epochs_since_rerank"] == 1
    assert meta["fragments"] == ["v0", "v1"]  # the merge itself DID commit
    # carried scores = epoch-0 re-rank over the 30 even-src edges' graph
    assert read_stream_scores(spark, target).count() == 60  # ring: evens touch all


def test_warm_start_converges_in_fewer_steps(spark, tmp_path):
    """The warm path (previous scores as init) must hit the SAD criterion
    in fewer supersteps on the mildly-changed graph — the incremental
    claim, measured."""
    # a MILDLY-changed graph: batch0 = the ring minus two edges, batch1 =
    # just those two — warm starts one epsilon from the new fixpoint
    e = _ring_edges(spark)
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    parts = [
        e.filter(F.col("src").cast("long") >= 2),
        e.filter(F.col("src").cast("long") < 2),
    ]
    for b, df in enumerate(parts):
        tmp = str(tmp_path / f"wt{b}")
        df.coalesce(1).write.parquet(tmp)
        dst = f"{src}/batch{b}.parquet"
        shutil.copy(glob.glob(tmp + "/part-*.parquet")[0], dst)
        os.utime(dst, (1000000 + b * 100,) * 2)
    cold_t, warm_t = str(tmp_path / "cold"), str(tmp_path / "warm")
    _drain(_stream(spark, src), cold_t, str(tmp_path / "ck_c"), steps=40)
    _drain(_stream(spark, src), warm_t, str(tmp_path / "ck_w"), steps=40, warm_start=True)
    cold_steps = read_stream_meta(cold_t)["steps_run"]
    warm_steps = read_stream_meta(warm_t)["steps_run"]
    # cold mode runs the full fixed budget; warm converges early
    assert cold_steps == 40
    assert 0 < warm_steps < cold_steps


@pytest.mark.parametrize("rerank_every", [1, 5])
def test_merge_releases_epoch_checkpoints(spark, tmp_path, rerank_every):
    """A long-running stream must not pin one more checkpoint block set
    per micro-batch: each epoch releases its upsert checkpoint and, on a
    re-rank, the full edge set and PageRank's input checkpoints, as soon
    as the scores are written.  Only a re-rank's result frame (a select
    over its checkpoint, so no eager release applies) may wait for GC —
    with one re-rank in five epochs the growth is O(1), and with a re-rank
    every epoch it stays below one block set per epoch."""
    import gc

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for b in range(5):  # five epochs of disjoint 20-vertex rings
        ring = _ring_edges(spark, 20).select(
            F.concat(F.lit(f"{b}_"), "src").alias("src"), F.concat(F.lit(f"{b}_"), "dst").alias("dst")
        )
        tmp = str(tmp_path / f"t{b}")
        ring.coalesce(1).write.parquet(tmp)
        dst = f"{src}/batch{b}.parquet"
        shutil.copy(glob.glob(tmp + "/part-*.parquet")[0], dst)
        os.utime(dst, (1000000 + b * 100,) * 2)
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    # settle leftovers from earlier tests first: otherwise their GC-driven
    # cleanup during this run could hide this run's growth
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    before = pinned().size()
    for _ in range(20):
        time.sleep(0.25)
        before, prev = pinned().size(), before
        if before == prev:
            break
    target = str(tmp_path / "g")
    _drain(_stream(spark, src), target, str(tmp_path / "ck"), rerank_every=rerank_every)
    assert read_stream_meta(target)["fragments"] == [f"v{i}" for i in range(5)]
    growth = pinned().size() - before
    reranks = 5 // rerank_every
    assert growth <= reranks, f"pinned RDDs grew by {growth} over 5 epochs ({reranks} re-ranks)"
