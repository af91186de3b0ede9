"""HITS (Kleinberg hubs & authorities) as a fixed-round iterative plan.

The link-analysis sibling of PageRank (plans/pagerank.py): per round,
authority(v) = Σ hub(u) over in-edges u→v, then hub(u) = Σ authority(v)
over out-edges, each vector L1-normalized after its update.  Fixed rounds
(not convergence) so the DuckDB oracle can unroll the identical recurrence.

Physical strategies, same adaptive switch as the other graph algorithms:
  - "local": |V|+|E| within one task -> single mapInPandas solve running
    numpy bincount mat-vecs (one Spark job total).
  - "distributed": per-round DataFrame plan — two edge joins + two aggs +
    the L1 sums observed on the checkpoint job; lineage truncated per round.
On a bipartite graph (e.g. supplier→part) hubs concentrate on the source
side and authorities on the target side — the classic use.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from usearch_spark.plans.iterative import (
    LOCAL_SOLVE_MAX_ROWS,
    IterationResult,
    checkpoint_with_metrics,
    known_edges,
    local_graph_solve,
    loop_tuned_session,
    release_local_checkpoint,
    run_fixpoint,
)


def hits(
    vertices: DataFrame,
    edges: DataFrame,
    rounds: int = 5,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    strategy: str = "auto",
    edges_deduped: bool = False,
) -> IterationResult:
    """Returns IterationResult whose state is (id, hub, authority).

    Initial hub = authority = 1/N; per round both vectors update and
    L1-normalize (sum = 1), so scores are comparable across graph sizes.
    """
    spark = vertices.sparkSession
    v = vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"]).localCheckpoint(eager=True)
    n = v.count()
    if n == 0:
        empty = v.withColumn("hub", F.lit(0.0)).withColumn("authority", F.lit(0.0))
        return IterationResult(state=empty, steps=0, converged=True, history=[])

    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not edges_deduped:
        e0 = e0.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])
    e0 = e0.localCheckpoint(eager=True)
    n_edges = e0.count()
    if strategy == "auto":
        strategy = "local" if n + n_edges <= LOCAL_SOLVE_MAX_ROWS else "distributed"
    if strategy == "local":
        out = local_graph_solve(v, e0, partial(_hits_kernel, rounds=rounds), "hub double, authority double")
        res = IterationResult(state=out, steps=rounds, converged=True, history=[])
    else:
        with loop_tuned_session(spark, max(n, n_edges)) as n_part:
            res = _hits_loop(v, n, e0, rounds, n_part)
    # the result is its own checkpoint: the input checkpoints are dead
    release_local_checkpoint(v)
    release_local_checkpoint(e0)
    return res


def _hits_kernel(ids, src, dst, cols, rounds):
    """``rounds`` HITS rounds as numpy bincount mat-vecs (the local
    strategy's single-task kernel)."""
    import numpy as np

    nv = len(ids)
    src, dst, _ = known_edges(src, dst)
    hub = np.full(nv, 1.0 / nv)
    auth = np.full(nv, 1.0 / nv)
    for _ in range(rounds):
        auth = np.bincount(dst, weights=hub[src], minlength=nv)
        s = auth.sum()
        if s > 0:
            auth = auth / s
        hub = np.bincount(src, weights=auth[dst], minlength=nv)
        s = hub.sum()
        if s > 0:
            hub = hub / s
    return {"hub": hub, "authority": auth}


def _hits_loop(v, n, e0, rounds, n_part) -> IterationResult:
    # TWO edge checkpoints, keyed by each phase's join key: the state is
    # checkpointed as hashpartitioning(id, n_part), so with shuffle_hash
    # hints every join in the round is CO-PARTITIONED — no per-round
    # BroadcastExchange build of either side and no edge movement; the
    # only per-round exchanges are the two message aggregations (guide
    # §2.4/§3.1).  Measured at sf0.1: 5 rounds 8.7s (state broadcast per
    # half-step) -> ~3.5-5s.
    e = e0.repartition(n_part, "src").localCheckpoint(eager=True)
    e_d = e0.repartition(n_part, "dst").localCheckpoint(eager=True)
    state = (
        v.withColumn("hub", F.lit(1.0 / n))
        .withColumn("authority", F.lit(1.0 / n))
        .repartition(n_part, "id")
        .localCheckpoint(eager=True)
    )
    # step_fn returns a DERIVED select (the hub normalizer divide needs the
    # checkpoint-observed scalar), so run_fixpoint's bare-checkpoint release
    # cannot fire — the closure releases its own superseded checkpoints:
    # the half-step (with_auth) dies once the full-step materializes, and
    # the previous round's full-step dies with it.  ``state`` is created
    # here, so seeding prev with it is safe.
    prev = {"full": state}

    def step_fn(current: DataFrame, step: int):
        # authority <- sum of in-neighbor hubs (join on src, deliver to dst)
        auth_raw = (
            current.hint("shuffle_hash").join(e, current.id == e.src, "inner")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("a_raw"))
        )
        with_auth = current.join(
            auth_raw.hint("shuffle_hash"), "id", "left"
        ).withColumn("a_raw", F.coalesce(F.col("a_raw"), F.lit(0.0)))
        # fuse the normalizer sum into a checkpoint of the half-step: a bare
        # .agg().first() would execute the join/agg once for the scalar and
        # then AGAIN for the hub phase (2x recompute per round); an unfused
        # broadcast-scalar join is worse still (the scalar branch re-scans
        # the un-materialized half-step inside the same job — measured)
        with_auth, m_a = checkpoint_with_metrics(
            with_auth, asum=F.coalesce(F.sum("a_raw"), F.lit(0.0))
        )
        half_cp = with_auth  # the bare checkpoint handle (released below)
        a_sum = float(m_a["asum"])
        with_auth = with_auth.withColumn(
            "authority2", F.col("a_raw") / F.lit(a_sum) if a_sum > 0 else F.lit(0.0)
        )
        # hub <- sum of out-neighbor authorities (join on dst side)
        hub_raw = (
            with_auth.select("id", "authority2")
            .hint("shuffle_hash")
            .join(e_d, F.col("id") == e_d.dst, "inner")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("authority2").alias("h_raw"))
        )
        new_state = (
            with_auth.join(hub_raw.hint("shuffle_hash"), "id", "left")
            .withColumn("h_raw", F.coalesce(F.col("h_raw"), F.lit(0.0)))
        )
        new_state, metrics = checkpoint_with_metrics(
            new_state.select("id", F.col("h_raw").alias("hub_u"), F.col("authority2").alias("authority")),
            hsum=F.coalesce(F.sum("hub_u"), F.lit(0.0)),
        )
        # the full-step checkpoint is materialized: the half-step and the
        # previous round's full-step are both dead — free their blocks now
        release_local_checkpoint(half_cp)
        release_local_checkpoint(prev["full"])
        prev["full"] = new_state
        h_sum = float(metrics["hsum"])
        out = new_state.select(
            "id",
            (F.col("hub_u") / F.lit(h_sum) if h_sum > 0 else F.lit(0.0)).alias("hub"),
            "authority",
        )
        return out, {}

    result = run_fixpoint(
        state,
        step_fn,
        should_continue=lambda m, step: True,
        max_steps=rounds,
        checkpoint_every=10**9,  # step_fn checkpoints internally
    )
    release_local_checkpoint(e)
    release_local_checkpoint(e_d)
    return result
