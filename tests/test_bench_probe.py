"""tools/bench_probe.py — the isolated-probe protocol (r13-verdict ask #4:
">2x movers get adjudicated with committed evidence instead of prose")."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from tests.conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parent.parent


def test_probe_protocol_shape(spark):
    """probe() runs the interleaved-rep protocol and reports reps,
    median, min and the load stamps for every probed query."""
    sys.path.insert(0, str(ROOT / "tools"))
    import bench_probe

    out = bench_probe.probe(
        spark, ["pricing_summary", "revenue_by_nation"], SF_SMOKE, reps=2
    )
    assert out["reps"] == 2 and out["sf_dir"] == SF_SMOKE
    assert set(out["probe"]) == {"pricing_summary", "revenue_by_nation"}
    for rec in out["probe"].values():
        assert len(rec["reps"]) == 2
        assert rec["min"] == min(rec["reps"])
        assert rec["min"] <= rec["median"] <= max(rec["reps"])
    assert out["load_avg_max"] >= out["load_avg_before"] * 0  # stamped floats
    assert isinstance(out["warmup_sec"], float)


def test_probe_rejects_unknown_query(spark):
    sys.path.insert(0, str(ROOT / "tools"))
    import bench_probe
    import pytest

    with pytest.raises(SystemExit):
        bench_probe.probe(spark, ["no_such_query"], SF_SMOKE, reps=1)


import os

import pytest


@pytest.mark.slow  # boots a second Spark JVM
def test_probe_cli_prints_one_json_line():
    """The CLI contract mirrors bench.py: exactly one JSON line on
    stdout (stderr free for warnings)."""
    r = subprocess.run(
        [sys.executable, "tools/bench_probe.py", SF_SMOKE, "point_lookup"],
        capture_output=True,
        text=True,
        cwd=ROOT,
        env={**os.environ, "SPARK_GRAFT_PROBE_REPS": "1"},
        timeout=600,
    )
    lines = [l for l in r.stdout.strip().split("\n") if l.strip()]
    assert len(lines) == 1, r.stdout + r.stderr
    parsed = json.loads(lines[0])
    assert "point_lookup" in parsed["probe"]


def test_parse_args_sf_prefixed_query_name_not_consumed(tmp_path, monkeypatch):
    """A query name starting with 'sf' must NOT be swallowed as the SF
    directory (ADVICE r14): only tokens resolving to an existing dir are."""
    sys.path.insert(0, str(ROOT / "tools"))
    import bench_probe

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    # 'sf_prefixed_query' resolves to no directory -> kept as a name
    sf_dir, names = bench_probe.parse_args(["sf_prefixed_query", "other_q"])
    assert names == ["sf_prefixed_query", "other_q"]
    assert sf_dir == "/root/testdata/sf0.1"
    # a real directory IS consumed positionally
    d = tmp_path / "sfx"
    d.mkdir()
    sf_dir, names = bench_probe.parse_args([str(d), "q1"])
    assert sf_dir == str(d) and names == ["q1"]


def test_parse_args_explicit_flag_and_validation(tmp_path):
    sys.path.insert(0, str(ROOT / "tools"))
    import bench_probe
    import pytest

    d = tmp_path / "data"
    d.mkdir()
    for argv in (["--sf-dir", str(d), "q1"], [f"--sf-dir={d}", "q1"]):
        sf_dir, names = bench_probe.parse_args(argv)
        assert sf_dir == str(d) and names == ["q1"]
    with pytest.raises(SystemExit):
        bench_probe.parse_args(["--sf-dir", str(tmp_path / "missing"), "q1"])


def test_diag_probe_shape(spark):
    """--diag stamps per-rep worker diagnostics (the r14-verdict
    instrumentation ask): JVM cpu, python-worker cpu, gc, worker churn."""
    sys.path.insert(0, str(ROOT / "tools"))
    import bench_probe

    out = bench_probe.probe(spark, ["point_lookup"], SF_SMOKE, reps=2, diag=True)
    rec = out["probe"]["point_lookup"]
    assert len(rec["diag"]) == 2
    for g in rec["diag"]:
        assert set(g) == {
            "cpu_ms", "pyw_cpu_ms", "gc_ms", "pyw_new", "pyw_live",
            "threads", "cached_mb",
        }
        assert g["pyw_cpu_ms"] >= 0
    assert "python_worker_reuse" in out
