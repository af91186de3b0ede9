"""Pregel-style vertex-program API on the fixpoint harness — the engine's
version of the reference's pluggable ComputeFunc (bsp/interfaces.go:52-53,
SURVEY §2.14 U2).

A vertex program is three declarative pieces:
  - ``send_msgs(state, edges) -> (dst_id, msg)`` rows,
  - ``agg_msg`` an aggregate expression combining messages per vertex,
  - ``apply(state_cols, msg_col) -> new value column``
and the loop stops when no vertex changed (vote-to-halt) or max_steps.

Connected components below doubles as the worked example and as proof the
same harness runs algorithms beyond the three ported from the reference.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usearch_spark.plans.iterative import (
    LOCAL_SOLVE_MAX_ROWS,
    IterationResult,
    checkpoint_with_metrics,
    known_edges,
    local_graph_fixpoint,
    loop_tuned_session,
    release_local_checkpoint,
    run_fixpoint,
)


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    initial_value: Column,
    send_msg: Callable[[DataFrame, DataFrame], DataFrame],
    agg_msg: Column,
    apply_msg: Callable[[Column, Column], Column],
    max_steps: int = 100,
    id_col: str = "id",
) -> IterationResult:
    """Generic vertex-centric loop.

    ``send_msg(state, edges)`` returns a DataFrame with columns (id, msg)
    addressed to destination vertices; ``agg_msg`` combines the ``msg``
    column per vertex (e.g. F.min("msg")); ``apply_msg(old, agg)`` yields
    the new value.  A vertex with no incoming messages keeps its value.
    Convergence = no value changed in a step.
    """
    spark = vertices.sparkSession
    # one materialization of the vertex set (count + init would otherwise
    # recompute a possibly-expensive derived input plan)
    v = vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"]).localCheckpoint(eager=True)
    n = v.count()
    e = edges.localCheckpoint(eager=True)

    # partitions sized by the dominant per-step volume (edges, usually)
    with loop_tuned_session(spark, max(n, e.count())) as n_part:
        if "src" in e.columns and n_part > 1:
            # partition the loop-invariant edge frame by the conventional
            # send key ONCE (guide §2.4): every in-repo send_msg joins
            # state.id == e.src, so the per-step join reuses the
            # checkpoint's hashpartitioning instead of re-exchanging |E|
            # rows each superstep.  Single-partition loops skip it — the
            # extra materialization job costs more than the 1-task
            # per-round exchange it would save.
            e_part = e.repartition(n_part, "src").localCheckpoint(eager=True)
            release_local_checkpoint(e)
            e = e_part
        state = v.withColumn("value", initial_value).localCheckpoint(eager=True)

        def step_fn(current: DataFrame, step: int):
            msgs = send_msg(current, e).groupBy("id").agg(agg_msg.alias("_agg"))
            new_state = (
                current.withColumnRenamed("value", "_old")
                .join(msgs, "id", "left")
                .select(
                    "id",
                    F.when(F.col("_agg").isNotNull(), apply_msg(F.col("_old"), F.col("_agg")))
                    .otherwise(F.col("_old"))
                    .alias("value"),
                    "_old",
                )
            )
            # vote-to-halt count observed inside the checkpoint job; the
            # projection INSIDE the checkpoint drops _old from the stored
            # state and returns a BARE checkpoint so run_fixpoint releases
            # the superseded step eagerly
            new_state, metrics = checkpoint_with_metrics(
                new_state,
                project=["id", "value"],
                changed=F.coalesce(
                    F.sum((~F.col("value").eqNullSafe(F.col("_old"))).cast("long")), F.lit(0)
                ),
            )
            return new_state, {"changed": int(metrics["changed"])}

        result = run_fixpoint(
            state,
            step_fn,
            should_continue=lambda m, step: m["changed"] > 0,
            max_steps=max_steps,
            checkpoint_every=10**9,
        )
    release_local_checkpoint(e)  # the final state no longer references it
    return result


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_steps: int = 100,
    strategy: str = "auto",
) -> IterationResult:
    """Label propagation: every vertex converges to the minimum vertex id
    in its (undirected) component.  state = (id, value=component).

    ``strategy``: like the other graph algorithms — small graphs
    (|V|+|E| <= LOCAL_SOLVE_MAX_ROWS) run the same recurrence as a
    single-task numpy loop; "distributed" forces the generic pregel
    superstep path."""
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    und = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).dropDuplicates(
        ["src", "dst"]
    )

    if strategy in ("auto", "local"):
        # size the switch on raw input counts (an upper bound on the deduped
        # graph) so the distributed path never pays an extra materialization
        # round just to be told it's big
        if strategy == "local" or vertices.count() + 2 * edges.count() <= LOCAL_SOLVE_MAX_ROWS:
            v = vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"])
            kernel = partial(_components_kernel, max_steps=max_steps)
            return local_graph_fixpoint(v, und, kernel, f"value {dict(v.dtypes)['id']}")

    def send(state: DataFrame, e: DataFrame) -> DataFrame:
        return state.join(e, state.id == e.src, "inner").select(
            F.col("dst").alias("id"), F.col("value").alias("msg")
        )

    return pregel(
        vertices,
        und,
        initial_value=F.col("id"),
        send_msg=send,
        agg_msg=F.min("msg"),
        apply_msg=lambda old, agg: F.least(old, agg),
        max_steps=max_steps,
        id_col=id_col,
    )


def label_propagation(
    vertices: DataFrame,
    edges: DataFrame,
    rounds: int = 4,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
) -> IterationResult:
    """Synchronous label propagation (community detection): every vertex
    adopts the most frequent label among its neighbors each round, ties
    broken by minimum label — fully deterministic, so a SQL oracle can
    unroll the same recurrence round by round.

    Runs a FIXED number of rounds rather than to convergence: synchronous
    LPA can oscillate between two labelings on bipartite-ish structure, so
    a fixpoint test would never halt there.  Fixed-round is the standard
    remedy and keeps the oracle finite.

    Per round: one edge join + a (vertex, label) count + an argmax — two
    shuffles on vertex id, both partial-aggregated.  The vote argmax is
    min(struct(-n, label)), a single-pass aggregate (no window over the
    full vote set).
    """
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    und = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])

    spark = vertices.sparkSession
    v = vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"]).localCheckpoint(eager=True)
    e = und.localCheckpoint(eager=True)

    with loop_tuned_session(spark, max(v.count(), e.count())) as n_part:
        if n_part > 1:
            # one edge exchange for the whole loop (guide §2.4): the
            # per-round join keys on e.src and reuses the checkpoint's
            # partitioning; single-partition loops skip the extra job
            e_part = e.repartition(n_part, "src").localCheckpoint(eager=True)
            release_local_checkpoint(e)
            e = e_part
        state = v.withColumn("value", F.col("id")).localCheckpoint(eager=True)

        def step_fn(current: DataFrame, step: int):
            msgs = current.join(e, current.id == e.src, "inner").select(
                F.col("dst").alias("id"), F.col("value").alias("msg")
            )
            votes = msgs.groupBy("id", "msg").agg(F.count(F.lit(1)).alias("n"))
            best = (
                votes.groupBy("id")
                .agg(F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("msg").alias("m"))).alias("b"))
                .select("id", F.col("b.m").alias("_agg"))
            )
            new_state = (
                current.withColumnRenamed("value", "_old")
                .join(best, "id", "left")
                .select("id", F.coalesce(F.col("_agg"), F.col("_old")).alias("value"), "_old")
            )
            new_state, metrics = checkpoint_with_metrics(
                new_state,
                project=["id", "value"],
                changed=F.coalesce(
                    F.sum((~F.col("value").eqNullSafe(F.col("_old"))).cast("long")), F.lit(0)
                ),
            )
            return new_state, {"changed": int(metrics["changed"])}

        result = run_fixpoint(
            state,
            step_fn,
            should_continue=lambda m, step: True,
            max_steps=rounds,
            checkpoint_every=10**9,
        )
    release_local_checkpoint(e)  # the final state no longer references it
    return result


def _components_kernel(ids, src, dst, cols, max_steps):
    """Single-task min-label propagation (identical recurrence to the
    pregel path: value = least(own, min over in-neighbors), stop when no
    value changed)."""
    import pandas as pd

    src, dst, _ = known_edges(src, dst)
    value = ids.copy()
    changes: list[dict] = []
    converged = False
    for _ in range(max_steps):
        incoming = pd.DataFrame({"d": dst, "m": value[src]})
        best = incoming.groupby("d")["m"].min()
        new_value = value.copy()
        di = best.index.to_numpy()
        nm = best.to_numpy()
        better = nm < value[di]
        new_value[di[better]] = nm[better]
        changed = int(better.sum())
        value = new_value
        changes.append({"changed": changed})
        if changed == 0:
            converged = True
            break
    return {"value": value, "converged": converged, "history": changes}


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star / small-star edge
    rewrites (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): each round hooks high vertices directly onto their
    neighborhood minimum, so the label frontier collapses in O(log n)
    rounds INDEPENDENT of graph diameter — the reason this beats min-label
    propagation (O(diameter) supersteps) on path-shaped or high-diameter
    graphs at scale.

    Per round: one adjacency groupBy for the neighborhood minima + one
    rewrite join, both keyed on vertex id; edges only ever move toward
    smaller ids, and convergence (edge set unchanged — detected by a
    count + order-independent xxhash checksum riding the checkpoint) means
    the edge set is a union of stars rooted at component minima.

    Returns (id, component) for every vertex; isolated vertices map to
    themselves.  Requires ids totally ordered by ``<`` (strings or
    numerics both work).
    """
    from usearch_spark.plans.iterative import checkpoint_with_metrics, loop_tuned_session

    spark = vertices.sparkSession
    v = vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"])
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    n_rows = v.count() + e.count()

    def _mins(adj: DataFrame) -> DataFrame:
        return adj.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    def _checksum(df: DataFrame):
        # decimal accumulator: a long sum of xxhash64 values overflows
        # under ANSI arithmetic
        return checkpoint_with_metrics(
            df,
            n=F.count(F.lit(1)),
            sig=F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)
            ).cast("decimal(38,0)"),
        )

    e, m0 = _checksum(e)
    sig = (int(m0["n"]), int(m0["sig"]))
    with loop_tuned_session(spark, n_rows):
        for _ in range(max_rounds):
            adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
                e.select(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            # large-star: every neighbor v > u hooks onto u's neighborhood min
            large = (
                adj.filter(F.col("v") > F.col("u"))
                .join(_mins(adj), "u")
                .select(F.col("m").alias("a"), F.col("v").alias("b"))
                .dropDuplicates(["a", "b"])
            )
            # small-star over the rewritten set: each u and its smaller
            # neighbors hook onto the new neighborhood min
            adj2 = large.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
                large.select(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            small_members = adj2.filter(F.col("v") <= F.col("u")).unionAll(
                adj2.select("u", F.col("u").alias("v")).dropDuplicates(["u"])
            )
            nxt = (
                small_members.join(_mins(adj2), "u")
                .filter(F.col("v") != F.col("m"))
                .select(F.col("m").alias("a"), F.col("v").alias("b"))
                .dropDuplicates(["a", "b"])
            )
            nxt, m = _checksum(nxt)
            new_sig = (int(m["n"]), int(m["sig"]))
            e = nxt
            if new_sig == sig:
                break
            sig = new_sig
    labels = e.groupBy(F.col("b").alias("id")).agg(F.min("a").alias("component"))
    return (
        v.join(labels, "id", "left")
        .select("id", F.coalesce(F.col("component"), F.col("id")).alias("component"))
    )
