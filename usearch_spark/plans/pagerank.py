"""PageRank with the reference's exact semantics (SURVEY §2.11 G1), as an
iterative DataFrame loop.

Parity with reference pagerank/compute.go:24-103 + calculator.go:86-124 +
config.go:39-49:
  - step 1 initializes every score to 1/N (scores sum to 1);
  - step t>=2:  score = (1-d)/N + d * sum(incoming msgs)
                        + d * residual_{t-1}
    where a non-dead-end vertex sends score/out_degree to each neighbor and
    each dead-end adds score/N to the residual accumulator read the NEXT
    step (double-buffered residual_0/1 == our "residual from previous
    ranks");
  - SAD = sum(|new - old|) per step; converge when step > 1 and SAD <
    min_sad (default 0.001); damping d = 0.85;
  - self-edges dropped (calculator.go:66-70).

Three variants share ONE solve (``_rank``): uniform :func:`pagerank`
(optionally warm-started), :func:`personalized_pagerank` (a per-vertex
teleport column ``p``) and :func:`weighted_pagerank` (a per-edge weight
column ``w``).  Each public function only builds its own input frames.

Scale shape per superstep: edges are partitioned by src and checkpointed
once per loop; the state is checkpointed as hashpartitioning(id, n_part)
and carries each vertex's out-degree.  A step joins state⋈edges on
id==src (co-partitioned: neither side moves), aggregates the messages by
dst (the step's only exchange, partially aggregated map-side) and left-joins
them back onto the state (co-partitioned again).  SAD and the dead-end mass
the next step redistributes are observed metrics of the step's checkpoint
job — one action per step — and that checkpoint truncates the lineage.

Two physical strategies behind one API (strategy="auto"):
  - "distributed": the per-superstep DataFrame loop above — the 100-TB
    path; work per step dominates the fixed per-job cost.
  - "local": when |V|+|E| fits one task (default <= 2M rows), the whole
    graph flows through ONE mapInPandas task that runs the identical
    recurrence as numpy bincount mat-vecs.  On small/medium graphs the
    distributed loop's cost is pure job-scheduling floor (~0.5s/superstep
    for milliseconds of math), so collapsing N supersteps into one Spark
    job is a 5-20x wall-clock win.  This is executor-side compute (NOT a
    driver collect): the plan stays a DataFrame end-to-end and the switch
    point is a row-count threshold, so at 1000x data it simply stays on
    the distributed path.
"""

from __future__ import annotations

import math
from functools import partial

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from usearch_spark.plans.iterative import (
    LOCAL_SOLVE_MAX_ROWS,
    IterationResult,
    checkpoint_with_metrics,
    local_graph_fixpoint,
    local_task,
    loop_tuned_session,
    release_local_checkpoint,
    run_fixpoint,
)


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    min_sad: float = 0.001,
    max_steps: int = 100,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    strategy: str = "auto",
    edges_deduped: bool = False,
    init_scores: DataFrame | None = None,
) -> IterationResult:
    """Returns IterationResult whose state is (id, score).

    ``vertices``: one row per vertex id.  ``edges``: (src, dst) rows; edges
    whose src equals dst are dropped; duplicate edges count once (the
    reference stores at most one edge per (src,dst) pair).

    ``strategy``: "auto" picks "local" (single-task numpy solve inside
    mapInPandas) when |V|+|E| <= LOCAL_SOLVE_MAX_ROWS, else "distributed"
    (per-superstep DataFrame loop).  Both run the identical recurrence.

    ``edges_deduped``: callers that already dropped self-edges and
    (src,dst) duplicates (e.g. a store that enforces edge identity) set
    this to skip the defensive dedup — one full edge shuffle saved.

    ``init_scores``: optional (id, score) warm start — the INCREMENTAL
    form of the reference's hourly pagerank pass: seed from the previous
    pass's converged ranks instead of uniform 1/N and the SAD criterion
    converges in a few steps on a mildly-changed graph instead of ~10+.
    Vertices absent from the warm set (new pages) start at 1/N; the whole
    vector is renormalized to sum 1, so the recurrence's mass-conservation
    invariant holds regardless of graph churn.  The fixpoint is identical
    to a cold run — the warm start changes step COUNT, not the answer.
    """
    v, n = _vertex_set(vertices, id_col)
    if n == 0:
        return _no_vertices(v)
    e0 = _edge_set(edges, src_col, dst_col, edges_deduped)
    s0 = None
    if init_scores is not None:
        # coalesce new vertices to 1/N, renormalize to sum 1, materialize
        # (the init feeds the first superstep AND the local payload)
        warm = v.join(
            init_scores.select(F.col("id"), F.col("score").alias("_ws")), "id", "left"
        ).select("id", F.coalesce(F.col("_ws"), F.lit(1.0 / n)).alias("_ws"))
        total = warm.agg(F.sum("_ws").alias("_tot"))
        s0 = (
            warm.join(F.broadcast(total))
            .select("id", (F.col("_ws") / F.col("_tot")).alias("s"))
            .localCheckpoint(eager=True)
        )
    return _rank(v, n, e0, damping, min_sad, max_steps, strategy, init=s0)


def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    sources: list,
    damping: float = 0.85,
    min_sad: float = 0.001,
    max_steps: int = 100,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    strategy: str = "auto",
    edges_deduped: bool = False,
) -> IterationResult:
    """Personalized PageRank (random walk with restart): the teleport mass
    (1-d) and the dead-end residual both flow to the ``sources`` set
    (uniformly within it) instead of to every vertex.

    Recurrence:  r_0 = p;   r_t = (1-d)·p + d·(Σ msgs) + d·residual·p
    with p_i = 1/|sources| for i in sources else 0 — the standard PPR
    variant of the reference recurrence (compute.go:24-103), same SAD
    stopping rule.  Same two physical strategies as :func:`pagerank`:
    single-task numpy solve for small graphs, per-superstep DataFrame loop
    at scale (the teleport vector rides the state as one extra column).
    """
    if not sources:
        raise ValueError("personalized_pagerank needs a non-empty source set")
    v, n = _vertex_set(vertices, id_col)
    if n == 0:
        return _no_vertices(v)
    e0 = _edge_set(edges, src_col, dst_col, edges_deduped)
    seeds = list(set(sources))
    p = F.when(F.col("id").isin(seeds), F.lit(1.0 / len(seeds))).otherwise(F.lit(0.0))
    return _rank(v, n, e0, damping, min_sad, max_steps, strategy, teleport=p)


def _ppr_push_task(pdf, seeds, p_val, d, omd, eps, rounds):
    """Single-task numpy mirror of the forward-push loop (the katz/harmonic
    local-solve pattern): the deduped edge list ships once through Arrow,
    one task runs all ``rounds`` pushes, and only the touched (id, p, r)
    rows come back.  Float chains per vertex are op-for-op the distributed
    recurrence (multiply-then-add; kept + Σ pushes + seed credit); the
    per-destination push sum accumulates in edge order, the same
    summation-order class the 8dp closing round already absorbs between
    Spark's partial aggs and DuckDB.  Support membership is exact: a
    vertex is touched iff it ever receives a push."""
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    seed_arr = np.asarray(seeds)
    if len(src) and seed_arr.dtype != src.dtype:
        seed_arr = seed_arr.astype(src.dtype)
    ids, inv = np.unique(np.concatenate([src, dst, seed_arr]), return_inverse=True)
    ns = len(src)
    si, di, seed_idx = inv[:ns], inv[ns : 2 * ns], inv[2 * ns :]
    n = len(ids)
    od = np.bincount(si, minlength=n).astype("float64")
    has_out = od > 0
    p = np.zeros(n)
    r = np.zeros(n)
    r[seed_idx] = p_val
    touched = np.zeros(n, dtype=bool)
    touched[seed_idx] = True
    for _ in range(rounds):
        # dead mass of the CURRENT state (the distributed loop's
        # checkpoint metric), credited to the seeds this round
        dead_mass = float(r[(~has_out) & (r > 0.0)].sum())
        fr = r > eps * od
        mask = (fr & has_out)[si]
        add_r = np.zeros(n)
        if mask.any():
            np.add.at(add_r, di[mask], d * r[si[mask]] / od[si[mask]])
            touched[di[mask]] = True
        seed_add = (d * dead_mass) * p_val
        p = p + np.where(fr, omd * r, 0.0)
        r = np.where(fr, 0.0, r) + add_r
        r[seed_idx] += seed_add
    return pd.DataFrame({"id": ids[touched], "p": p[touched], "r": r[touched]})


def ppr_forward_push(
    edges: DataFrame,
    sources: list,
    damping: float = 0.85,
    rounds: int = 10,
    eps: float = 0.0,
    src_col: str = "src",
    dst_col: str = "dst",
    edges_deduped: bool = False,
    strategy: str = "auto",
) -> DataFrame:
    """Personalized PageRank by FORWARD LOCAL PUSH (Andersen, Chung &
    Lang 2006, the single-seed PPR shape at scale): instead of iterating
    a dense |V|-row score vector like :func:`personalized_pagerank`, the
    state is the SPARSE (id, p, r) pair — p the settled estimate, r the
    un-pushed residual — seeded with r = 1/|sources| on the seeds only.
    Each synchronous round pushes every frontier vertex at once:

        p += (1-d)·r          (teleport share settles)
        d·r/od  ->  each out-neighbor's r
        d·r     ->  the seed distribution, for dead ends

    — the same teleport/dead-end semantics as the reference recurrence
    (compute.go:24-103 via personalized_pagerank): in the fixpoint limit
    p equals the stationary PPR vector, and Σr bounds the truncation
    error by (d)^rounds.

    FRONTIER BOUND (the 100-TB story): state rows exist only where mass
    has arrived, so after k rounds the support is contained in the
    k-hop out-ball of the seed set — each round's only shuffle is
    frontier⋈edges, proportional to the BALL's out-degree, never |V|.
    With ``eps`` > 0 the classic ACL threshold (push only r > eps·od)
    additionally caps TOTAL pushed volume at O(1/(eps·(1-d))) — the
    production knob for planet-scale graphs where an approximation is
    acceptable; the oracled entry runs eps = 0 (push-all), which keeps
    the discrete frontier decision EXACT (support membership — a
    positive sum of positives — is summation-order-safe, unlike an
    eps-threshold on a float sum) so the DuckDB oracle can unroll the
    identical recurrence.

    Returns the sparse touched set as (id, score, residual), both
    rounded to 8dp (the graph_ppr float-parity class: linear float ops
    only, one closing round).

    ``strategy``: like katz/harmonic — "auto" runs the IDENTICAL push
    recurrence as a single-task numpy solve inside mapInPandas when the
    edge count is at or below ``LOCAL_SOLVE_MAX_ROWS`` (ten distributed
    supersteps on a tiny frontier are pure scheduling floor at bench
    scale), and the per-superstep DataFrame loop above it (the only
    shape that scales — force with ``strategy="distributed"``).  The
    oracle is strategy-independent: both paths apply the same per-vertex
    float chain (p + (1-d)·r; kept + Σ pushes + seed credit) closed by
    the shared single 8dp round, and support membership stays exact
    (a vertex is touched iff it ever RECEIVES a push, not a float test).
    """
    spark = edges.sparkSession
    if not sources:
        raise ValueError("ppr_forward_push needs a non-empty source set")
    e = _edge_set(edges, src_col, dst_col, edges_deduped)
    seeds = sorted(set(sources))
    p_val = 1.0 / len(seeds)
    d, omd = damping, 1.0 - damping
    id_type = dict(e.dtypes)["src"]
    if strategy == "auto":
        strategy = "local" if e.count() <= LOCAL_SOLVE_MAX_ROWS else "distributed"
    if strategy == "local":
        push = partial(_ppr_push_task, seeds=seeds, p_val=p_val, d=d, omd=omd, eps=eps, rounds=rounds)
        state = local_task(e, push, f"id {id_type}, p double, r double")
        return state.select(
            "id",
            F.round("p", 8).alias("score"),
            F.round("r", 8).alias("residual"),
        )
    out_deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("od"))
        .withColumnRenamed("src", "id")
        .localCheckpoint(eager=True)
    )
    # from Arrow: a frame built from a Python list is a PythonRDD, whose
    # every action waits on Python workers
    seed_df = spark.createDataFrame(pa.table({"id": pa.array([str(s) for s in seeds], pa.string())})).select(
        F.col("id").cast(id_type)
    )
    fr = F.col("r") > F.lit(eps) * F.coalesce(F.col("od"), F.lit(0)).cast("double")
    dm_metric = F.coalesce(
        F.sum(F.when(F.col("od").isNull() & (F.col("r") > F.lit(0.0)), F.col("r"))),
        F.lit(0.0),
    )
    state, m = checkpoint_with_metrics(
        seed_df.withColumn("p", F.lit(0.0))
        .withColumn("r", F.lit(p_val))
        .join(out_deg, "id", "left"),
        dm=dm_metric,
    )
    dead_mass = float(m["dm"])
    prev = state
    with loop_tuned_session(spark, e.count()):
        for _ in range(rounds):
            msgs = (
                state.filter(fr & F.col("od").isNotNull())
                .hint("shuffle_hash")
                .join(e, state["id"] == e["src"])
                .select(
                    F.col("dst").alias("id"),
                    (F.lit(d) * F.col("r") / F.col("od").cast("double")).alias("mr"),
                )
                .groupBy("id")
                .agg(F.sum("mr").alias("add_r"))
            )
            seed_add = (d * dead_mass) * p_val  # driver float, like _pagerank_loop's residual
            base = state.select("id", "p", "r", "od").join(msgs, "id", "full")
            nxt = base.select(
                "id",
                (
                    F.coalesce(F.col("p"), F.lit(0.0))
                    + F.when(fr, F.lit(omd) * F.col("r")).otherwise(F.lit(0.0))
                ).alias("p"),
                (
                    F.when(fr, F.lit(0.0)).otherwise(F.coalesce(F.col("r"), F.lit(0.0)))
                    + F.coalesce(F.col("add_r"), F.lit(0.0))
                    + F.when(
                        F.col("id").isin(seeds), F.lit(seed_add)
                    ).otherwise(F.lit(0.0))
                ).alias("r"),
            ).drop("od").join(out_deg, "id", "left")
            state, m = checkpoint_with_metrics(nxt, dm=dm_metric)
            release_local_checkpoint(prev)
            prev = state
            dead_mass = float(m["dm"])
    return state.select(
        "id",
        F.round("p", 8).alias("score"),
        F.round("r", 8).alias("residual"),
    )


def weighted_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    min_sad: float = 0.001,
    max_steps: int = 100,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    strategy: str = "auto",
) -> IterationResult:
    """PageRank over a WEIGHTED edge set: a vertex distributes its score
    proportionally to edge weights (msg = score·w/Σw_out) instead of
    uniformly over out-degree; dead-end residual and SAD stopping are
    unchanged from :func:`pagerank`.

    Duplicate (src,dst) edges keep their max weight (deterministic dedup);
    self-edges are dropped.  Same adaptive local/distributed split.
    """
    v, n = _vertex_set(vertices, id_col)
    if n == 0:
        return _no_vertices(v)
    e0 = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("double").alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    return _rank(v, n, e0, damping, min_sad, max_steps, strategy)


def _vertex_set(vertices: DataFrame, id_col: str) -> tuple[DataFrame, int]:
    """The deduped vertex ids, checkpointed ONCE, and their count: the set
    feeds the count, the init join and (via lineage) every step — without
    the checkpoint a derived input (e.g. vertices = union of edge endpoints
    over a big fact table) is re-scanned and re-shuffled for each use."""
    v = vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"]).localCheckpoint(eager=True)
    return v, v.count()


def _edge_set(edges: DataFrame, src_col: str, dst_col: str, edges_deduped: bool) -> DataFrame:
    """The checkpointed (src, dst) edge set, self-edges and duplicates
    dropped unless the caller vouches for ``edges_deduped``."""
    e0 = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not edges_deduped:
        e0 = e0.filter(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])
    return e0.localCheckpoint(eager=True)


def _no_vertices(v: DataFrame) -> IterationResult:
    return IterationResult(state=v.withColumn("score", F.lit(0.0)), steps=0, converged=True, history=[])


def _rank(
    v: DataFrame,
    n: int,
    e0: DataFrame,
    damping: float,
    min_sad: float,
    max_steps: int,
    strategy: str,
    teleport: Column | None = None,
    init: DataFrame | None = None,
) -> IterationResult:
    """The one PageRank solve over the checkpointed vertex set ``v`` (``n``
    ids) and edge set ``e0`` (with a weight column ``w`` when weighted).
    ``teleport``: the per-vertex teleport column of personalized PageRank;
    ``init``: the checkpointed (id, s) warm-start vector.  Picks the
    strategy, runs it, and releases the input checkpoints."""
    n_edges = e0.count()
    vs = v if init is None else v.join(init, "id")
    if teleport is not None:
        vs = vs.withColumn("p", teleport)
    if strategy == "auto":
        strategy = "local" if n + n_edges <= LOCAL_SOLVE_MAX_ROWS else "distributed"
    if strategy == "local":
        kernel = partial(_pagerank_kernel, d=damping, min_sad=min_sad, max_steps=max_steps)
        res = local_graph_fixpoint(vs, e0, kernel, "score double")
    else:
        # loop partitions sized by the DOMINANT per-step volume: the
        # ranks⋈edges join moves |E| rows, usually >> |V| (a vertex-count
        # sizing left a 500k-edge graph on 2 partitions — 2 tasks on a
        # 32-core box)
        with loop_tuned_session(v.sparkSession, max(n, n_edges)) as n_part:
            res = _pagerank_loop(vs, n, e0, damping, min_sad, max_steps, n_part)
    # the result is its own checkpoint: the input checkpoints are dead, so
    # free them now rather than at GC time (a re-ranking stream calls this
    # once per micro-batch)
    for cp in (v, e0, init):
        release_local_checkpoint(cp)
    return res


def _pagerank_kernel(ids, src_f, dst_f, cols, d, min_sad, max_steps):
    """The reference recurrence as numpy bincount mat-vecs — the local
    strategy's kernel.  Optional ``cols``: per-edge weights ``w``
    (messages score·w/Σw_out instead of score/out-degree), the per-vertex
    teleport vector ``p`` (the start vector, and where the teleport and
    dead-end mass restart) and a per-vertex warm-start vector ``s``."""
    import numpy as np

    nv = len(ids)
    track_sad = min_sad > 0.0
    # parity with the distributed loop: out-degree counts every edge
    # whose SOURCE is a known vertex (e.groupBy('src') there), while
    # message delivery additionally needs a known destination (the left
    # join back onto the vertex set drops unknown-dst messages)
    src_known = ~np.isnan(src_f)
    both = src_known & ~np.isnan(dst_f)
    w_all = np.asarray(cols["w"], dtype="float64") if "w" in cols else None
    outdeg = np.bincount(
        src_f[src_known].astype("int64"),
        weights=None if w_all is None else w_all[src_known],
        minlength=nv,
    ).astype("float64")
    src = src_f[both].astype("int64")
    dst = dst_f[both].astype("int64")
    w = None if w_all is None else w_all[both]
    dead = outdeg == 0.0
    pvec = np.asarray(cols["p"], dtype="float64") if "p" in cols else None
    if pvec is not None:
        score = pvec
    elif "s" in cols:
        score = np.asarray(cols["s"], dtype="float64")
    else:
        score = np.full(nv, 1.0 / nv)
    sads: list[float] = []
    converged = False
    for _ in range(max_steps):
        share = score[src] / outdeg[src] if w is None else score[src] * w / outdeg[src]
        msg = np.bincount(dst, weights=share, minlength=nv)
        if pvec is not None:
            # dead-end mass restarts through the teleport vector
            res_prev = score[dead].sum()
            new = (1.0 - d) * pvec + d * msg + d * res_prev * pvec
        else:
            res_prev = score[dead].sum() / nv  # residual of the CURRENT state
            new = (1.0 - d) / nv + d * msg + d * res_prev
        sad = float(np.abs(new - score).sum()) if track_sad else math.inf
        sads.append(sad)
        score = new
        if track_sad and sad < min_sad:
            converged = True
            break
    return {"score": score, "converged": converged, "history": [{"sad": s} for s in sads]}


def _pagerank_loop(v, n, e0, damping, min_sad, max_steps, n_part) -> IterationResult:
    """The distributed superstep loop.  ``v`` is the vertex set plus the
    teleport column ``p`` (personalized) or the warm-start column ``s``;
    ``e0`` carries a weight column ``w`` when weighted.

    The co-partitioning contract: edges are partitioned by src ONCE, and
    every state checkpoint carries hashpartitioning(id, n_part), so with
    the shuffle_hash hints both joins of a step are co-partitioned and the
    message aggregation is the step's only exchange."""
    weighted = "w" in e0.columns
    teleport = "p" in v.columns
    e = e0.repartition(n_part, "src").localCheckpoint(eager=True)
    out_deg = (
        e.groupBy("src")
        .agg((F.sum("w") if weighted else F.count(F.lit(1))).alias("outdeg"))
        .withColumnRenamed("src", "id")
        .localCheckpoint(eager=True)
    )

    # score stranded on dead ends; uniform PageRank spreads it over all N
    # vertices, personalized PageRank restarts it through the teleport
    # vector (so it is NOT divided by N there)
    dead_mass = F.coalesce(F.sum(F.when(F.col("outdeg").isNull(), F.col("score"))), F.lit(0.0))
    res_metric = dead_mass if teleport else dead_mass / n

    # step 1: uniform 1/N (reference compute.go:44-48), the teleport vector,
    # or the normalized warm-start vector; carry out-degree on the state so
    # per-step dead-end mass needs no extra join.  The dead-end residual of
    # THIS state — read by the NEXT step, the reference's double-buffered
    # residual_0/1 accumulator — is observed during the same
    # materialization and carried forward as a driver-side scalar, so a step
    # needs no residual subquery/broadcast of its own.
    keep = ["id", "p"] if teleport else ["id"]
    score0 = F.col("p") if teleport else F.col("s") if "s" in v.columns else F.lit(1.0 / n)
    ranks, init_metrics = checkpoint_with_metrics(
        v.select(*keep, score0.alias("score")).join(out_deg, "id", "left").repartition(n_part, "id"),
        res=res_metric,
    )
    residual = {"prev": float(init_metrics["res"])}

    d = damping
    track_sad = min_sad > 0.0
    if weighted:
        msg = F.col("score") * F.col("w") / F.col("outdeg")
    else:
        msg = F.col("score") / F.col("outdeg")

    def step_fn(current: DataFrame, step: int):
        # messages: score/outdeg (score·w/Σw_out when weighted) to each
        # out-neighbor
        contribs = (
            current.filter(F.col("outdeg").isNotNull())
            .hint("shuffle_hash")
            .join(e, F.col("id") == e.src, "inner")
            .select(F.col("dst").alias("id"), msg.alias("msg"))
            .groupBy("id")
            .agg(F.sum("msg").alias("msg_sum"))
        )
        received = F.lit(d) * F.coalesce(F.col("msg_sum"), F.lit(0.0))
        if teleport:
            score = F.lit(1.0 - d) * F.col("p") + received + F.lit(d * residual["prev"]) * F.col("p")
        else:
            score = F.lit((1.0 - d) / n) + received + F.lit(d * residual["prev"])
        # shuffle_hash on the aggregated side: the state checkpoint carries
        # hashpartitioning(id, n_part) and contribs' agg output is already
        # hash(id)-partitioned, so the join-back is CO-PARTITIONED with no
        # exchange — the unhinted plan instead rebuilt a broadcast of
        # contribs every step (guide §2.4/§3.1)
        new_ranks = (
            current.withColumnRenamed("score", "old_score")
            .join(contribs.hint("shuffle_hash"), "id", "left")
            .select(*keep, score.alias("score"), "old_score", "outdeg")
        )
        # ONE action per step: SAD convergence AND the next step's dead-end
        # residual both ride the checkpoint job as observed metrics; the
        # projection INSIDE the checkpoint keeps old_score out of the
        # stored state and returns a BARE checkpoint so run_fixpoint can
        # release the superseded step eagerly
        new_ranks, metrics = checkpoint_with_metrics(
            new_ranks,
            project=[*keep, "score", "outdeg"],
            sad=F.coalesce(F.sum(F.abs(F.col("score") - F.col("old_score"))), F.lit(0.0)),
            res=res_metric,
        )
        residual["prev"] = float(metrics["res"])
        sad = float(metrics["sad"]) if track_sad else float("inf")
        return new_ranks, {"sad": sad}

    result = run_fixpoint(
        ranks,
        step_fn,
        should_continue=lambda m, step: m["sad"] >= min_sad,
        max_steps=max_steps,
        checkpoint_every=10**9,  # step_fn checkpoints internally
    )
    # run_fixpoint releases only the checkpoints its steps made; the
    # initial state is dead too once a step has superseded it
    for cp in (e, out_deg, ranks if result.steps else None):
        release_local_checkpoint(cp)
    result.state = result.state.select("id", "score")
    return result
