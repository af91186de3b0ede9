"""The engine benchmark: one command, two workloads, one JSON result line.

    python3 perfbench/run.py --workload crawl_cycle --seed 1 --seconds 15 --trace 0

Run it from the repository root.  It starts one Spark session pinned to
``local[<cores>]`` with as many shuffle partitions, runs the workload
(see ``workloads.py`` and ``METRICS.md``), and prints:

- a ``{"detail": ...}`` line with the run's stamps (cores, git HEAD, Spark and
  Python versions, load average before / max during / after), sample counts,
  and the workload's own named figures with their units;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
  end-to-end metrics with ``--trace 0``, the per-layer metrics with
  ``--trace 1``.

At exit, also on SIGTERM, it stops the session, the JVM and the JVM's Python
workers, and waits until each has ended.

A traced run also writes every span to ``perfbench/.out/``.  The run writes
its inputs and stores under ``perfbench/.work`` and removes them at exit.
``graph_loops`` also makes ``__spark_entry__`` persist its graph artifacts in
``spark-warehouse/`` at the repository root, under names unique to the
process; they too are removed at exit, but a killed run leaves them behind.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


class Sampler(threading.Thread):
    """Samples, every second, the summed resident memory of this process, the
    JVM and every process under the JVM (Python workers), and the 1-minute
    load average."""

    def __init__(self, jvm_pid: int | None):
        super().__init__(daemon=True)
        self.jvm_pid = jvm_pid
        self.peak_rss = 0
        self.max_load = os.getloadavg()[0]
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.wait(1.0):
            self.sample()

    def sample(self) -> None:
        pids = {os.getpid()}
        if self.jvm_pid is not None:
            pids |= _descendants(self.jvm_pid)
        self.peak_rss = max(self.peak_rss, sum(_rss_bytes(p) for p in pids))
        self.max_load = max(self.max_load, os.getloadavg()[0])

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0  # the process ended between listing and reading


def _descendants(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, ValueError, IndexError):
            continue
    out, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        frontier.extend(kids)
    return out


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except (OSError, IndexError):
        return True


def _await_end(pids: set[int], timeout: float) -> set[int]:
    """Waits up to ``timeout`` seconds for ``pids`` to end; returns those left."""
    deadline = time.monotonic() + timeout
    while True:
        pids = {p for p in pids if not _ended(p)}
        if not pids or time.monotonic() >= deadline:
            return pids
        time.sleep(0.05)


def stop_spark() -> None:
    """Stops the Spark session, then the JVM it ran in and every process under
    the JVM (the Python workers), and waits until each has ended.

    PySpark leaves its JVM to exit on its own once this process is gone, which
    it does only a moment later; a run must not leave it behind.  The JVM exits
    when its stdin closes, and its workers when the JVM is gone; whatever is
    still there after a grace period is killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = _descendants(proc.pid) if proc is not None else set()
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        if proc is not None:
            tree |= _descendants(proc.pid)
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            left = _await_end(tree - {proc.pid}, 10)
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            _await_end(left, 10)


def git_head() -> str:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return res.stdout.strip() or "unknown"


def start_spark(work: str, cores: int, trace: bool):
    from usearch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        # the traced run reads every job, stage and SQL execution back at the end
        conf |= {k: "1000000" for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions")}
    return get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)


def end_to_end(out) -> dict[str, float]:
    import workloads

    return {
        "setup_s": statistics.median(out.setup_s),
        "op_mean_ms": workloads.mean_ms(out),
        "items_per_s": out.items / out.items_s if out.items_s else 0.0,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("usearch_spark", "__spark_entry__.py", "BENCHMARK.json") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a repository checkout (missing {', '.join(missing)})", file=sys.stderr)
        return 2
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)

    sys.path[:0] = [HERE, ROOT]
    import workloads  # noqa: E402  (needs the paths above)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its Spark session (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # everything the run and its child processes write goes under the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    import numpy as np

    cores = os.cpu_count() or 1
    load_before = os.getloadavg()[0]
    sampler = None
    try:
        spark = start_spark(work, cores, bool(args.trace))
        gw = spark.sparkContext._gateway
        sampler = Sampler(getattr(getattr(gw, "proc", None), "pid", None))
        sampler.start()
        tracer = workloads.NO_TRACE
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install()
        rng = np.random.default_rng(args.seed)
        out = workloads.WORKLOADS[args.workload](spark, rng, work, tracer, args.seconds)
        metrics = {}
        if args.trace:
            import layers

            tracer.uninstall()
            tracer.collect()
            metrics = layers.per_layer(tracer, out)
            os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
            dump = os.path.join(HERE, ".out", f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json")
            with open(dump, "w") as f:
                json.dump(tracer.dump(), f)
        spark_version = spark.version
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if sampler is not None:
                sampler.stop()
            stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    peak_rss_mb = sampler.peak_rss / 2**20
    if args.trace:
        metrics["session.peak_rss_mb"] = peak_rss_mb
    else:
        metrics = end_to_end(out)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "loop": "closed, 1 client",
        "trace": args.trace,
        "cores": cores,
        "git_head": git_head(),
        "spark": spark_version,
        "python": platform.python_version(),
        "load_1m": {"before": load_before, "max": sampler.max_load, "after": os.getloadavg()[0]},
        "peak_rss_mb": peak_rss_mb,
        "setup_runs_s": out.setup_s,
        "ops_ok": len(out.op_s),
        "ops_failed": out.op_failed,
        "cycles": len(out.cycle_s),
        "named": {k: {"value": v, "unit": u} for k, (u, v) in out.named.items()},
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
