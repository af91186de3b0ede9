"""SparkSession factory tuned for this engine.

Local mode is a single JVM; on a real cluster the same settings hold except
memory knobs. AQE stays on so skewed shuffles re-plan at runtime, and the
session timezone is pinned to UTC so results compare bit-for-bit against
naive-timestamp oracles (DuckDB).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_shipped: set[str] = set()


def _keep_malloc_heap() -> None:
    """Raise glibc's M_MMAP_THRESHOLD and M_TRIM_THRESHOLD so large numpy
    temporaries come from the sbrk heap and the heap stays attached to the
    worker (the malloc half of ``udf_worker_prelude``'s measurements)."""
    import ctypes

    try:
        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        for param in (-3, -1):  # M_MMAP_THRESHOLD, M_TRIM_THRESHOLD
            libc.mallopt(param, 1 << 30)
    except Exception:
        pass  # non-glibc platform: skip


def udf_worker_prelude() -> None:
    """Call at the TOP of a numpy/pandas-heavy UDF body (mapInPandas /
    applyInPandas solvers).  Two instrumented worker pathologies, both
    root causes of the round-14 cross-round wall-clock drift on
    byte-identical single-task numpy plans (dedup_embedding, the
    harmonic/sssp local solves):

    1. MALLOC RE-FAULTING: glibc mmaps every large numpy temporary and
       munmaps it on free, so each task re-faults the same ~150 MB of
       fresh anonymous pages (constant ~2k minor faults per identical
       task).  On this host a fresh-page fault is a COST LOTTERY —
       /proc/<worker>/stack sampling caught multi-second system-CPU
       storms in ``folio_zero_user`` / ``__do_huge_pmd_anonymous_page``
       (THP zero + direct compaction; numpy madvises MADV_HUGEPAGE on
       big buffers), 0-10 ms fast reps vs 4-6 s slow reps for the SAME
       ~2k faults.  Raising M_MMAP_THRESHOLD and M_TRIM_THRESHOLD keeps
       the buffers on the sbrk heap and the heap attached to the worker
       — measured minor faults drop to ZERO per task after warmup and
       the bimodality disappears.

    2. CYCLIC-GC RETRACE: workers carry ~70k+ gc-tracked objects from
       interpreter + pyspark/pandas/numpy imports; allocation bursts in
       the body trigger generation-2 sweeps that re-trace that whole
       graph (1.5-14 s bimodal measured on the 2000x2000 cosine matmul
       task vs ~0.7 s stable fixed).  ``gc.freeze()`` exempts it; new
       objects stay collectable and freezing is idempotent.

    Bodies that allocate MILLIONS of SURVIVING objects (the graph local
    solves building object-string frames) use the stronger policy of
    ``plans.iterative.local_task``: the same malloc thresholds, then
    ``gc.disable()`` for the body and ONE ``gc.enable(); gc.collect()``
    sweep after the big frames are dropped — freeze alone makes those
    worse (the shrunken long-lived count makes full sweeps MORE frequent).
    """
    import gc

    _keep_malloc_heap()
    gc.enable()
    gc.freeze()


def spread_small_scan(df, min_parallelism: int | None = None):
    """Repartition a small scan before a compute-dense projection.

    On a production cluster the file source yields one task per split, so a
    regex/hash-heavy stage is already parallel and this returns ``df``
    unchanged (the plan has >= the session's default parallelism).  Small
    single-row-group files — like the local testdata — cannot be split, so
    without this the whole compute stage runs on ONE core no matter how many
    the session has.  The round-robin shuffle it introduces only ever moves
    an input small enough to have too few partitions in the first place.
    """
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def ship_package(spark: SparkSession) -> None:
    """Make ``usearch_spark`` importable on executor Python workers.

    Driver-side ``sys.path`` tweaks don't propagate to workers, so any
    operator that runs Python UDFs must ship the package zip once per
    session (addPyFile is a no-op cost after the first task fetch).
    Call this from every entry point that registers a Python/pandas UDF.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(tempfile.gettempdir(), f"usearch_spark_py_{app_id}")
    zip_path = zip_base + ".zip"
    if not os.path.exists(zip_path):
        tmp = shutil.make_archive(zip_base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="usearch_spark")
        assert tmp == zip_path
    spark.sparkContext.addPyFile(zip_path)
    _shipped.add(app_id)


def get_spark(
    app_name: str = "usearch_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (else 32).  Shuffle partitions
    default to the core count — at 100 TB on a real cluster this would be
    sized to ~128 MB per shuffle partition instead; AQE coalescing makes the
    exact number forgiving in both regimes.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Demote WindowExec's "No Partition Defined" warning to ERROR (r14
    # verdict ask #7): the suite's only global windows are the two
    # lint-allowlisted tiny-input sites (operators/pack.py phase-2 offsets,
    # operators/profile.py top-n rank), and their repeated known-benign
    # warnings bury a REAL global-window regression in familiar spam.  A
    # constant partition key cannot silence it (the optimizer folds lit(0)
    # and col*0 alike back to an empty spec), so the logger level is the
    # remaining lever.  Regression safety does not rest on this log line:
    # tests/test_lint.py fails on any un-allowlisted GLOBAL_WINDOW in any
    # entry query's plan.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 build: keep the warning
    return spark
