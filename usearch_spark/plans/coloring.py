"""Greedy graph coloring, Luby/Jones-Plassmann style (SURVEY §2.11 G3).

Parity with reference color/color.go:70-200:
  - undirected: every edge is mirrored (AddEdge adds the reverse too);
  - each vertex draws a random token once; per round, an uncolored vertex
    whose (token, id) is strictly greatest among its uncolored neighbors
    picks the minimum color not used by any colored neighbor (token tie
    broken by larger id — color.go:173-177);
  - isolated uncolored vertices take color 1;
  - pre-colored vertices keep their color and constrain neighbors;
  - stop when every vertex is colored (activeInStep == 0).

Tokens are a deterministic hash of (id, seed) so runs are reproducible
(the reference seeds rand for its tests the same way).

Per-iteration shape: state⋈edges (edges cached, partitioned by src) then a
groupBy dst collecting neighbor (token,color) — one shuffle; winners are
decided by comparing against the aggregated neighbor max, entirely
JVM-side.
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
    local_graph_fixpoint,
    loop_tuned_session,
    release_local_checkpoint,
    run_fixpoint,
)


def color_graph(
    vertices: DataFrame,
    edges: DataFrame,
    seed: int = 42,
    max_steps: int = 500,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    color_col: str | None = None,
    strategy: str = "auto",
) -> IterationResult:
    """Returns state (id, color) with colors >= 1; pre-colored vertices
    (``color_col`` with values > 0) keep their colors."""
    spark = vertices.sparkSession
    pre = (
        F.coalesce(F.col(color_col), F.lit(0)).cast("int")
        if color_col and color_col in vertices.columns
        else F.lit(0)
    )
    # one materialization covers the vertex count AND the initial state
    state = (
        vertices.select(F.col(id_col).alias("id"), pre.alias("color"))
        .dropDuplicates(["id"])
        # md5 hex string as the random token: uniform, reproducible, and
        # portable to any engine (lexicographic comparison = numeric
        # comparison on a uniform hash)
        .withColumn("token", F.md5(F.concat_ws(":", F.lit(seed), F.col("id"))))
        .localCheckpoint(eager=True)
    )
    n = state.count()
    # mirror edges for undirectedness; drop self-loops; materialize once
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e0 = (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True)
    )
    n_edges = e0.count()
    if strategy == "auto":
        strategy = "local" if n + n_edges <= LOCAL_SOLVE_MAX_ROWS else "distributed"
    if strategy == "local":
        return local_graph_fixpoint(state, e0, partial(_coloring_kernel, max_steps=max_steps), "color int")
    # partitions sized by the dominant per-step volume (mirrored edges)
    with loop_tuned_session(spark, max(n, n_edges)) as n_part:
        return _coloring_loop(spark, state, e0, max_steps, n_part)


def _coloring_kernel(ids, src, dst, cols, max_steps):
    """Single-task greedy token coloring — the identical per-round winner
    rule as _coloring_loop ((token, id) strictly greatest among uncolored
    neighbors takes the least free color), one Spark job for the whole
    loop.  The vertex payload carries (color, token) so the tokens are
    bit-identical to the distributed path's."""
    import numpy as np
    import pandas as pd

    colors = cols["color"].astype("int64")
    tokens = cols["token"]
    src, dst, _ = known_edges(src, dst)
    uncolored_hist: list[dict] = []
    converged = False
    for _ in range(max_steps):
        unc = colors == 0
        nbr = pd.DataFrame({"d": dst, "ncolor": colors[src], "ns": src})
        used_by = {
            d: set(g[g > 0]) for d, g in nbr.groupby("d")["ncolor"]
        }
        # strongest uncolored neighbor per vertex as a (token, id) pair
        unc_nbr = nbr[unc[nbr["ns"].to_numpy()]]
        max_unc = {
            d: max((tokens[s], ids[s]) for s in g)
            for d, g in unc_nbr.groupby("d")["ns"]
        }
        new_colors = colors.copy()
        for vi in np.nonzero(unc)[0]:
            mu = max_unc.get(vi)
            if mu is None or (tokens[vi], ids[vi]) > mu:
                used = used_by.get(vi, set())
                c = 1
                while c in used:
                    c += 1
                new_colors[vi] = c
        colors = new_colors
        remaining = int((colors == 0).sum())
        uncolored_hist.append({"uncolored": remaining})
        if remaining == 0:
            converged = True
            break
    return {
        "color": colors.astype("int32"),
        "converged": converged,
        "history": uncolored_hist,
    }


def _coloring_loop(spark, state, e0, max_steps, n_part) -> IterationResult:
    e = e0.repartition(n_part, "src").localCheckpoint(eager=True)

    def step_fn(current: DataFrame, step: int):
        # neighbor view: for each dst, the colors used and the strongest
        # uncolored (token, id) among its neighbors
        nbr = (
            current.join(e, current.id == e.src, "inner")
            .select(
                F.col("dst").alias("id"),
                F.col("color").alias("n_color"),
                F.when(F.col("color") == 0, F.struct(F.col("token"), F.col("src").alias("nid"))).alias(
                    "n_unc"
                ),
            )
            .groupBy("id")
            .agg(
                F.collect_set(F.when(F.col("n_color") > 0, F.col("n_color"))).alias("used"),
                F.max("n_unc").alias("max_unc"),
            )
        )
        joined = current.join(nbr, "id", "left")
        wins = F.col("color") == 0
        wins &= (
            F.col("max_unc").isNull()
            | (F.struct(F.col("token"), F.col("id").alias("nid")) > F.col("max_unc"))
        )
        used = F.coalesce(F.col("used"), F.array().cast("array<int>"))
        # minimum positive color not in 'used': among 1..|used|+1 at least
        # one is free
        next_color = F.array_min(F.array_except(F.sequence(F.lit(1), F.size(used) + 1), used))
        updated = joined.select(
            "id",
            F.when(wins, next_color).otherwise(F.col("color")).alias("color"),
            "token",
        )
        # remaining-uncolored count observed inside the checkpoint job
        updated, metrics = checkpoint_with_metrics(
            updated, uncolored=F.coalesce(F.sum((F.col("color") == 0).cast("long")), F.lit(0))
        )
        return updated, {"uncolored": int(metrics["uncolored"])}

    result = run_fixpoint(
        state,
        step_fn,
        should_continue=lambda m, step: m["uncolored"] > 0,
        max_steps=max_steps,
        checkpoint_every=10**9,
    )
    release_local_checkpoint(e)
    result.state = result.state.select("id", "color")
    return result
