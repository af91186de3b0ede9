"""Iterative fixpoint harness — the engine's replacement for the reference's
BSP executor (bsp/executor.go:8-124 RunToCompletion/RunSteps with
PreStep/PostStep/ShouldRunAnotherStep callbacks).

Catalyst cannot express iteration, so the engine owns this driver loop:
  - each superstep is a pure DataFrame -> DataFrame function (the
    ``compute_fn`` extension point, mirroring bsp.ComputeFunc — SURVEY §2.14
    U2);
  - lineage is truncated with localCheckpoint every ``checkpoint_every``
    iterations, otherwise 10-30 iterations of join/agg blow up the plan and
    the driver (the reference's 100k-vertex convergence test is the gate);
  - convergence is a driver-side predicate over per-step aggregates
    (ShouldRunAnotherStep).

Below ``LOCAL_SOLVE_MAX_ROWS`` the graph families skip the loop and run
the whole recurrence in ONE task: ``local_graph_solve`` (and its
IterationResult form ``local_graph_fixpoint``) ships vertices + edges
through a single mapInPandas task into a pure-numpy kernel; ``local_task``
is the same single-task worker for solves that ship a frame of their own.

localCheckpoint trades re-computability for speed: its blocks live only
on the executor that wrote them, so losing that executor fails the next
read.  That is the right default for iterative analytics that can simply
rerun; a cluster deployment that must survive executor loss needs a
reliable ``df.checkpoint()`` to ``spark.checkpoint.dir`` instead.
"""

from __future__ import annotations

import gc
import json
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass
from functools import partial

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from usearch_spark.session import _keep_malloc_heap, ship_package

# Graphs at or below this many rows (|V|+|E|) run their iterative loops as
# a single-task numpy solve inside mapInPandas (strategy="auto" in the
# graph algorithms): each distributed superstep costs a fixed per-job floor
# that dwarfs the math at this size, while one task holds the whole graph
# comfortably (~2M rows of ids/edges is tens of MB).  Above it, the
# per-superstep DataFrame loop is the only path that scales.
LOCAL_SOLVE_MAX_ROWS = 2_000_000


@contextmanager
def loop_tuned_session(spark: SparkSession, n_rows: int, rows_per_partition: int = 200_000):
    """Session confs tuned for many small iterative steps, restored on exit:

    - shuffle partitions sized to the state (~rows_per_partition each,
      capped by the session setting) — tiny graphs skip multi-task
      scheduling, huge ones still spread;
    - AQE off: its per-job query-stage materialization barriers cost more
      than they save when each step is a small fixed-shape join/agg.

    rows_per_partition was 20k through r15 — ~0.5 MB per partition for
    30-byte edge rows, two orders below the guide's 100 MB-1 GB shuffle
    partition target, so a superstep on the 600k-edge bench graph ran 30
    near-empty tasks per stage.  Measured on this host (r16): each task
    carries a ~33 ms CPU floor and shuffle CPU grows super-linearly in the
    task count (600k-row agg: 30 partitions = 8.6 s JVM CPU, 8 = 1.2 s,
    2 = 0.5 s), so the _dist superstep family was CPU-bound on pure
    per-task overhead.  200k rows (~5-10 MB) was the A/B sweep optimum
    (20k/100k/200k/350k/700k probed on hits/betweenness/harmonic/pagerank
    _dist: 200k beat 20k by 1.4-2.4x; 700k lost parallelism where per-row
    work matters).  At cluster scale n_part is capped by the session's
    shuffle partitions, so this only changes small-to-mid loop states —
    the 100 TB shape is untouched.
    """
    conf_part = spark.conf.get("spark.sql.shuffle.partitions")
    conf_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    n_part = max(1, min(int(conf_part), n_rows // rows_per_partition + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(n_part))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield n_part
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", conf_part)
        spark.conf.set("spark.sql.adaptive.enabled", conf_aqe)


def checkpoint_with_metrics(
    df: DataFrame, project: list | None = None, **metrics: Column
) -> tuple[DataFrame, dict]:
    """Materialize ``df`` via localCheckpoint while collecting aggregate
    metrics in the SAME job (Spark's Observation API / CollectMetrics node).

    Without this, every superstep costs two actions — the checkpoint and a
    separate convergence ``.agg().first()`` that rescans the state.  Fusing
    them halves the per-step job count, which on short steps (the common
    case once a loop nears convergence) halves wall-clock.  Metric
    expressions must be aggregates over ``df``'s rows (e.g. ``F.sum(...)``)
    and may reference columns that ``project`` later drops (the observe
    node sits below the projection).

    ``project``: column names to keep in the checkpointed frame.  Loops
    that previously checkpointed the full step frame and returned a
    ``.select(...)`` over it should pass the select list here instead:
    the checkpoint then stores only the surviving columns AND the returned
    frame is a BARE checkpoint, which lets ``run_fixpoint`` release the
    superseded one eagerly (a derived select defeats that walk — the
    r14-verdict finding #4).  (Named ``project``; a metric cannot use that
    name.)
    """
    obs = Observation()
    out = df.observe(obs, *[m.alias(k) for k, m in metrics.items()])
    if project is not None:
        out = out.select(*project)
    out = out.localCheckpoint(eager=True)
    return out, obs.get


# Diagnostics for the best-effort JVM walk below: count of failed release
# walks this process (0 on a healthy Spark), plus a latch so the first
# failure logs exactly once.  Tests and the leakcheck read the counter to
# distinguish "released" from "silently degraded to GC-driven cleanup".
release_walk_failures = 0
_release_walk_warned = False


def release_local_checkpoint(df: DataFrame | None) -> None:
    """Free the block-manager storage pinned by a superseded
    ``localCheckpoint(eager=True)`` DataFrame IMMEDIATELY, instead of
    waiting for Python GC + ContextCleaner to notice the dead handle
    (the r13-verdict finding: iterative loops re-checkpoint every round,
    so a long-lived session accumulates O(rounds) pinned block sets per
    query — ``clearCache()`` does not release them because checkpoint
    blocks are not relation-cache entries).

    Only call this on a handle that is provably DEAD: local-checkpoint
    blocks are NOT recomputable, so reading the frame after release
    raises checkpointRDDBlockIdNotFoundError.  The loop pattern is

        prev = None
        for ...:
            state = step(state).localCheckpoint(eager=True)
            release_local_checkpoint(prev)   # prev's rows already copied
            prev = state
        # never release the final state — it IS the result

    Best-effort by design: the JVM walk (analyzed plan -> LogicalRDD ->
    rdd.unpersist) degrades to the old GC-driven behavior if the frame is
    not a bare checkpoint (e.g. a select over one) or the internals move.
    The degraded path is NOT silent: ``release_walk_failures`` counts every
    failed walk and the first failure logs once at WARNING, so a Spark
    upgrade that moves the private ``_jdf.queryExecution`` APIs shows up in
    the leakcheck / pinned-RDD regression tests instead of reverting every
    loop to the O(rounds) pinned-block leak unnoticed.
    """
    global release_walk_failures, _release_walk_warned
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            # Not a bare checkpoint (lazy frame / derived select): the
            # documented intentional no-op, NOT a walk failure.
            return
        plan.rdd().unpersist(False)
    except Exception as exc:
        release_walk_failures += 1
        if not _release_walk_warned:
            _release_walk_warned = True
            import logging

            logging.getLogger(__name__).warning(
                "release_local_checkpoint JVM walk failed (%s: %s) — "
                "checkpoint blocks now wait for GC; further failures are "
                "counted in iterative.release_walk_failures",
                type(exc).__name__,
                exc,
            )


def _is_bare_checkpoint(df: DataFrame) -> bool:
    """True iff ``df`` is a bare ``localCheckpoint`` handle (analyzed plan
    is a single LogicalRDD) — the only shape ``release_local_checkpoint``
    can actually free.  Best-effort: False on any JVM-walk surprise."""
    try:
        return df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRDD"
    except Exception:
        return False


@dataclass
class IterationResult:
    state: DataFrame
    steps: int
    converged: bool
    history: list[dict]


def run_fixpoint(
    state: DataFrame,
    step_fn: Callable[[DataFrame, int], tuple[DataFrame, dict]],
    should_continue: Callable[[dict, int], bool],
    max_steps: int = 100,
    checkpoint_every: int = 1,
    release_superseded: bool = True,
) -> IterationResult:
    """Run ``step_fn`` until ``should_continue`` says stop or ``max_steps``.

    ``step_fn(state, step) -> (new_state, metrics)`` — metrics is a dict of
    driver-side aggregates (the BSP "aggregators": SAD, active counts, ...).
    ``should_continue(metrics, step) -> bool`` evaluated after each step.

    MARKOVIAN CONSTRAINT: when ``step_fn`` returns a bare
    ``localCheckpoint`` frame, the loop eagerly releases the checkpoint it
    supersedes (``release_local_checkpoint``), so ``step_fn`` and the
    caller must not retain and later READ a state from more than one
    checkpoint interval back — its blocks are gone and the read raises
    ``checkpointRDDBlockIdNotFoundError``.  Every in-repo loop is
    Markovian (reads only the previous state).  A non-Markovian loop must
    either copy what it needs forward into the state frame or set
    ``release_superseded=False`` to opt back into GC-driven cleanup.
    """
    history: list[dict] = []
    current = state
    steps = 0
    converged = False
    prev_cp: DataFrame | None = None  # last checkpoint produced by a step (never the caller's state)
    for step in range(1, max_steps + 1):
        new_state, metrics = step_fn(current, step)
        if step % checkpoint_every == 0:
            new_state = new_state.localCheckpoint(eager=True)
            is_cp = True
        else:
            # step_fn loops that checkpoint internally (checkpoint_with_
            # metrics + checkpoint_every=10**9) return the bare checkpoint
            # themselves — detect it so their superseded states release
            # eagerly too instead of waiting for GC (r14-verdict #4)
            is_cp = release_superseded and _is_bare_checkpoint(new_state)
        if is_cp:
            # the new checkpoint is self-contained, so the one it
            # supersedes (and every un-checkpointed state between them)
            # is dead — release its blocks now instead of at GC time
            if release_superseded:
                release_local_checkpoint(prev_cp)
            prev_cp = new_state
        history.append(metrics)
        current = new_state
        steps = step
        if not should_continue(metrics, step):
            converged = True
            break
    return IterationResult(state=current, steps=steps, converged=converged, history=history)


def _single_task_worker(solve, columns, batches):
    """mapInPandas body of every single-task solve: concat the task's
    batches, run ``solve(pdf) -> pandas.DataFrame | None`` and yield its
    result (``None``: nothing to yield).

    Heap policy (see ``session.udf_worker_prelude`` for the measured
    pathology): malloc keeps large numpy temporaries on a reused heap
    instead of re-faulting fresh pages every task, and cyclic gc is paused
    for the body — threshold sweeps would re-trace the millions of
    surviving row objects — then paid as ONE sweep after the big frames
    are dropped.
    """
    import pandas as pd

    _keep_malloc_heap()
    gc.disable()
    parts = list(batches)
    pdf = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame({c: [] for c in columns})
    out = solve(pdf)
    if out is None:
        gc.enable()  # early exit: re-arm cyclic gc for the worker
        return
    del pdf, parts
    gc.enable()
    gc.collect()
    yield out


def local_task(df: DataFrame, solve: Callable, schema: str) -> DataFrame:
    """All of ``df`` through ONE lazy mapInPandas task running
    ``solve(pdf) -> pandas.DataFrame | None`` under the single-task heap
    policy.  ``solve`` must be a module-level function (or a
    ``functools.partial`` of one): it is pickled by reference, so the
    package is shipped to the workers first."""
    ship_package(df.sparkSession)
    return df.coalesce(1).mapInPandas(partial(_single_task_worker, solve, df.columns), schema=schema)


def index_edges(ids, a, b):
    """Vertex-index arrays for edge endpoints ``a``/``b`` against the
    vertex ids ``ids`` (unique): float arrays with NaN where an endpoint is
    not a vertex (int arrays when every endpoint is)."""
    import numpy as np
    import pandas as pd

    idx = pd.Series(np.arange(len(ids)), index=ids)
    # nullable columns coerce integral ids to float64 in pandas — bring
    # edge endpoints back to the vertex dtype before the index lookup
    if a.dtype != ids.dtype:
        a = a.astype(ids.dtype)
    if b.dtype != ids.dtype:
        b = b.astype(ids.dtype)
    return idx.reindex(a).to_numpy(), idx.reindex(b).to_numpy()


def known_edges(src, dst):
    """The edges whose endpoints are both vertices, as int64 index arrays,
    plus the mask that selects them (for per-edge payload columns)."""
    import numpy as np

    known = ~(np.isnan(src) | np.isnan(dst))
    return src[known].astype("int64"), dst[known].astype("int64"), known


def _graph_task(kernel, vcols, ecols, pdf):
    """Split the (a, b, payload...) union back into vertices (b null) and
    edges, index the edges, and run the kernel; an empty vertex set yields
    nothing."""
    import pandas as pd

    is_edge = pdf["b"].notna()
    ids = pdf.loc[~is_edge, "a"].to_numpy()
    if len(ids) == 0:
        return None
    src, dst = index_edges(ids, pdf.loc[is_edge, "a"], pdf.loc[is_edge, "b"])
    cols = {c: pdf.loc[~is_edge, c].to_numpy() for c in vcols}
    cols.update({c: pdf.loc[is_edge, c].to_numpy() for c in ecols})
    out = kernel(ids, src, dst, cols)
    if "history" in out:
        # fixpoint side channel: ``converged`` is a constant column, the
        # history rides row 0 only (a per-step list on every vertex row
        # would be O(|V|*steps) dead weight)
        out["history"] = [json.dumps(out["history"])] + [None] * (len(ids) - 1)
    return pd.DataFrame({"id": ids, **out})


def local_graph_solve(v: DataFrame, e: DataFrame, kernel: Callable, schema: str) -> DataFrame:
    """Single-task solve of a graph small enough for one task: vertices
    (``id`` + payload columns) and edges (``src``, ``dst`` + payload
    columns) stream through ONE mapInPandas task into the pure-numpy
    ``kernel(ids, src, dst, cols) -> {column: values}``, and ONE Spark job
    materializes the eager-checkpointed (id, *schema) result.

    Kernel inputs: ``ids`` the vertex ids in arrival order; ``src``/``dst``
    per-edge vertex indexes from :func:`index_edges` (NaN for an endpoint
    outside the vertex set — :func:`known_edges` drops those); ``cols``
    the payload columns by name, vertex columns aligned with ``ids`` and
    edge columns with ``src``.  It returns one value (or array) per output
    column of ``schema``, which names every column but ``id``.  A
    ``kernel`` must be module-level (see :func:`local_task`).
    """
    id_type = dict(v.dtypes)["id"]
    vcols = [c for c in v.columns if c != "id"]
    ecols = [c for c in e.columns if c not in ("src", "dst")]
    types = {**dict(v.dtypes), **dict(e.dtypes)}

    def nulls(cols):
        return [F.lit(None).cast(types[c]).alias(c) for c in cols]

    payload = v.select(
        F.col("id").alias("a"), F.lit(None).cast(id_type).alias("b"), *vcols, *nulls(ecols)
    ).unionByName(
        e.select(
            F.col("src").cast(id_type).alias("a"),
            F.col("dst").cast(id_type).alias("b"),
            *nulls(vcols),
            *ecols,
        )
    )
    task = partial(_graph_task, kernel, vcols, ecols)
    return local_task(payload, task, f"id {id_type}, {schema}").localCheckpoint(eager=True)


def local_graph_fixpoint(v: DataFrame, e: DataFrame, kernel: Callable, schema: str) -> IterationResult:
    """:func:`local_graph_solve` for an iterating kernel, as an
    IterationResult: the kernel's output also carries ``converged`` and
    ``history`` (one metric dict per step run), which come back on the
    checkpointed result and are read from its first row."""
    out = local_graph_solve(v, e, kernel, f"{schema}, converged boolean, history string")
    meta = out.select("converged", "history").first()
    state = out.drop("converged", "history")
    if meta is None:  # empty vertex set -> the kernel never ran
        return IterationResult(state=state, steps=0, converged=True, history=[])
    history = json.loads(meta["history"])
    return IterationResult(state=state, steps=len(history), converged=bool(meta["converged"]), history=history)
