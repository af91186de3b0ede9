"""Single-source shortest path (SURVEY §2.11 G2) — parallel Bellman-Ford
with vote-to-halt, as an iterative DataFrame loop.

Parity with reference shortestpath/path.go:87-197:
  - init: src cost 0, everything else +inf (represented as NULL);
  - each step: every vertex whose cost improved relays cost+edge_weight to
    its out-neighbors; a vertex keeps min(incoming, current);
  - ``prev_in_path`` records the predecessor that produced the minimum
    (ties broken deterministically by smallest predecessor id — the
    reference takes whichever message arrived first, which is unspecified);
  - stop when no vertex improved (activeInStep == 0, path.go:103-110);
  - non-negative integer weights.

Per-iteration shape: one join frontier⋈edges on src (edges cached,
pre-partitioned by src), one min-agg by dst, one join back — the frontier
shrinks as the wave passes, and AQE re-plans the join when it becomes
broadcast-small.
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


def shortest_paths(
    vertices: DataFrame,
    edges: DataFrame,
    src_id: str,
    max_steps: int = 200,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    strategy: str = "auto",
) -> IterationResult:
    """Returns state (id, cost, prev_in_path); cost NULL = unreachable.

    ``strategy``: "auto" runs the single-task numpy Bellman-Ford
    (mapInPandas) when |V|+|E| <= LOCAL_SOLVE_MAX_ROWS, else the
    per-superstep DataFrame loop; both implement the identical wave
    recurrence with the same deterministic predecessor tie-break."""
    spark = vertices.sparkSession
    # one materialization of the vertex set (count + init reuse it)
    v = vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"]).localCheckpoint(eager=True)
    n = v.count()
    e0 = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("weight"),
        )
        .localCheckpoint(eager=True)
    )
    n_edges = e0.count()
    if strategy == "auto":
        strategy = "local" if n + n_edges <= LOCAL_SOLVE_MAX_ROWS else "distributed"
    if strategy == "local":
        kernel = partial(_sssp_kernel, src_id=src_id, max_steps=max_steps)
        return local_graph_fixpoint(v, e0, kernel, f"cost long, prev_in_path {dict(v.dtypes)['id']}")
    # partitions sized by the dominant per-step volume (edges, usually)
    with loop_tuned_session(spark, max(n, n_edges)) as n_part:
        return _sssp_loop(spark, v, e0, src_id, max_steps, n_part)


def _sssp_kernel(ids, src, dst, cols, src_id, max_steps):
    """Single-task Bellman-Ford wave (same recurrence as _sssp_loop): one
    Spark job; the per-step active counts are the history."""
    import numpy as np
    import pandas as pd

    nv = len(ids)
    src, dst, known = known_edges(src, dst)
    w = cols["weight"][known].astype("int64")
    INF = np.iinfo("int64").max
    cost = np.full(nv, INF, dtype="int64")
    prev = np.full(nv, None, dtype=object)
    improved = np.zeros(nv, dtype=bool)
    idx = pd.Index(ids)
    if src_id in idx:
        s = idx.get_loc(src_id)
        cost[s] = 0
        improved[s] = True
    actives: list[dict] = []
    converged = False
    for _ in range(max_steps):
        m = improved[src]
        active = 0
        new_improved = np.zeros(nv, dtype=bool)
        if m.any():
            cand = pd.DataFrame(
                {"d": dst[m], "c": cost[src[m]] + w[m], "via": ids[src[m]]}
            )
            # per destination: min cost, ties to the smallest via id —
            # the distributed loop's F.min(struct(new_cost, via))
            best = cand.sort_values(["d", "c", "via"]).groupby("d", sort=False).first()
            di = best.index.to_numpy()
            bc = best["c"].to_numpy()
            wins = bc < cost[di]
            if wins.any():
                upd = di[wins]
                cost[upd] = bc[wins]
                prev[upd] = best["via"].to_numpy()[wins]
                new_improved[upd] = True
                active = int(wins.sum())
        improved = new_improved
        actives.append({"active": active})
        if active == 0:
            converged = True
            break
    return {
        "cost": [None if c == INF else int(c) for c in cost],
        "prev_in_path": prev,
        "converged": converged,
        "history": actives,
    }


def _sssp_loop(spark, v, e0, src_id, max_steps, n_part) -> IterationResult:
    e = e0.repartition(n_part, "src").localCheckpoint(eager=True)

    state = (
        v.select(
            "id",
            F.when(F.col("id") == src_id, F.lit(0).cast("long")).alias("cost"),
            F.lit(None).cast("string").alias("prev_in_path"),
            # 'improved' marks the frontier that must relay this step
            F.when(F.col("id") == src_id, F.lit(True)).otherwise(F.lit(False)).alias("improved"),
        )
        .localCheckpoint(eager=True)
    )

    def step_fn(current: DataFrame, step: int):
        frontier = current.filter(F.col("improved"))
        msgs = (
            frontier.join(e, frontier.id == e.src, "inner")
            .select(
                F.col("dst").alias("id"),
                (F.col("cost") + F.col("weight")).alias("new_cost"),
                F.col("src").alias("via"),
            )
            .groupBy("id")
            .agg(F.min(F.struct("new_cost", "via")).alias("best"))
            .select("id", F.col("best.new_cost").alias("new_cost"), F.col("best.via").alias("via"))
        )
        updated = (
            current.drop("improved")
            .join(msgs, "id", "left")
            .select(
                "id",
                F.when(
                    F.col("new_cost").isNotNull() & (F.col("cost").isNull() | (F.col("new_cost") < F.col("cost"))),
                    F.col("new_cost"),
                ).otherwise(F.col("cost")).alias("cost"),
                F.when(
                    F.col("new_cost").isNotNull() & (F.col("cost").isNull() | (F.col("new_cost") < F.col("cost"))),
                    F.col("via"),
                ).otherwise(F.col("prev_in_path")).alias("prev_in_path"),
                (
                    F.col("new_cost").isNotNull() & (F.col("cost").isNull() | (F.col("new_cost") < F.col("cost")))
                ).alias("improved"),
            )
        )
        # activeInStep observed inside the checkpoint job (one action/step)
        updated, metrics = checkpoint_with_metrics(
            updated, active=F.coalesce(F.sum(F.col("improved").cast("long")), F.lit(0))
        )
        return updated, {"active": int(metrics["active"])}

    result = run_fixpoint(
        state,
        step_fn,
        should_continue=lambda m, step: m["active"] > 0,
        max_steps=max_steps,
        checkpoint_every=10**9,
    )
    release_local_checkpoint(e)
    result.state = result.state.select("id", "cost", "prev_in_path")
    return result


def build_path(
    state: DataFrame,
    src_id: str,
    dest_id: str,
    strategy: str = "auto",
    max_hops: int = 1_000_000,
) -> tuple[list[str], int | None]:
    """Walk prev pointers back from dest (reference path.go:117-141).

    ``strategy``:
      - ``"collect"``: driver-side walk over the collected (id, prev) map.
        Right for the per-partition link graphs this engine queries — the
        prev map is |V| rows of two short strings and one action answers
        any number of dest lookups.
      - ``"lookups"``: iterative backwalk of O(path-length) equality-filter
        point lookups on the DISTRIBUTED state — |V| never reaches the
        driver, so a billion-vertex state works (each hop is a pushdown-able
        ``id = <prev>`` scan; parquet/bucketed states prune it further).
      - ``"auto"``: collect iff the state is small (<= LOCAL_SOLVE_MAX_ROWS,
        one count against a state the solver already checkpointed), same
        size switch the solvers use.
    """
    if strategy == "auto":
        strategy = "collect" if state.count() <= LOCAL_SOLVE_MAX_ROWS else "lookups"
    if strategy == "collect":
        rows = {r["id"]: (r["cost"], r["prev_in_path"]) for r in state.collect()}
        if dest_id not in rows or rows[dest_id][0] is None:
            return [], None
        path = [dest_id]
        cur = dest_id
        while cur != src_id:
            cur = rows[cur][1]
            path.append(cur)
            if len(path) > len(rows) + 1:
                raise ValueError("cycle in prev_in_path chain")
        path.reverse()
        return path, rows[dest_id][0]

    # lookups: each hop reads exactly one row of the distributed state
    probe = state.select("id", "cost", "prev_in_path")
    row = probe.filter(F.col("id") == dest_id).first()
    if row is None or row["cost"] is None:
        return [], None
    cost = row["cost"]
    path = [dest_id]
    cur = dest_id
    while cur != src_id:
        prev = row["prev_in_path"]
        if prev is None:
            raise ValueError(f"broken prev_in_path chain at {cur!r}")
        path.append(prev)
        if len(path) > max_hops:
            raise ValueError("cycle in prev_in_path chain")
        cur = prev
        if cur == src_id:
            break
        row = probe.filter(F.col("id") == cur).first()
        if row is None:
            raise ValueError(f"prev_in_path points at missing vertex {cur!r}")
    path.reverse()
    return path, cost
