"""The single-task local-solve harness (plans/iterative.local_graph_solve):
its kernels run as plain numpy with no SparkSession, and a local solve
works from a process whose working directory is outside the repository
(the kernels are pickled by reference, so the workers must import the
shipped package)."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

from tests.test_pagerank import CASES
from usearch_spark.plans.hits import _hits_kernel
from usearch_spark.plans.iterative import index_edges
from usearch_spark.plans.pagerank import _pagerank_kernel

REPO = Path(__file__).resolve().parent.parent


def _graph(vertices, edges):
    ids = np.array(vertices, dtype=object)
    a = np.array([s for s, _ in edges], dtype=object)
    b = np.array([d for _, d in edges], dtype=object)
    return (ids, *index_edges(ids, a, b))


@pytest.mark.parametrize("vertices,edges,expected", CASES)
def test_pagerank_kernel_goldens_without_spark(vertices, edges, expected):
    ids, src, dst = _graph(vertices, edges)
    out = _pagerank_kernel(ids, src, dst, {}, d=0.85, min_sad=0.001, max_steps=100)
    assert out["converged"]
    assert out["history"][-1]["sad"] < 0.001
    scores = dict(zip(ids, out["score"]))
    assert sum(scores.values()) == pytest.approx(1.0, abs=0.001)
    for k, exp in expected.items():
        assert scores[k] == pytest.approx(exp, abs=0.01), (k, scores)


def test_pagerank_kernel_drops_unknown_destinations():
    """An edge to a non-vertex still counts toward its source's out-degree
    but delivers nothing (the distributed loop's left join back onto the
    vertex set): A's mass leaks, so the scores no longer sum to 1."""
    ids, src, dst = _graph(["A", "B"], [("A", "B"), ("A", "X"), ("B", "A")])
    assert np.isnan(dst[1])
    out = _pagerank_kernel(ids, src, dst, {}, d=0.85, min_sad=0.0, max_steps=1)
    # one step from uniform 1/2: A gets B's whole half, B gets half of A's
    assert out["score"][0] == pytest.approx(0.15 / 2 + 0.85 * 0.5)
    assert out["score"][1] == pytest.approx(0.15 / 2 + 0.85 * 0.25)


@pytest.mark.parametrize("vertices,edges,expected", CASES)
def test_pagerank_kernel_unit_weights_match_unweighted(vertices, edges, expected):
    """Weighted PageRank with every weight 1 is uniform PageRank, bit for
    bit: Σw_out is the out-degree and score·1/deg is score/deg."""
    ids, src, dst = _graph(vertices, edges)
    plain = _pagerank_kernel(ids, src, dst, {}, d=0.85, min_sad=0.001, max_steps=100)
    unit = _pagerank_kernel(ids, src, dst, {"w": np.ones(len(src))}, d=0.85, min_sad=0.001, max_steps=100)
    assert np.array_equal(unit["score"], plain["score"])
    assert unit["history"] == plain["history"]


@pytest.mark.parametrize("vertices,edges,expected", CASES)
def test_pagerank_kernel_uniform_teleport_matches_uniform(vertices, edges, expected):
    """Personalized PageRank teleporting to every vertex alike (p = 1/n)
    is uniform PageRank."""
    ids, src, dst = _graph(vertices, edges)
    plain = _pagerank_kernel(ids, src, dst, {}, d=0.85, min_sad=0.0, max_steps=30)
    p = np.full(len(ids), 1.0 / len(ids))
    ppr = _pagerank_kernel(ids, src, dst, {"p": p}, d=0.85, min_sad=0.0, max_steps=30)
    np.testing.assert_allclose(ppr["score"], plain["score"], rtol=0, atol=1e-12)


def test_hits_kernel_bipartite_without_spark():
    """The golden of tests/test_hits.py, straight through the kernel."""
    ids, src, dst = _graph(
        ["u1", "u2", "p1", "p2", "p3"],
        [("u1", "p1"), ("u1", "p2"), ("u2", "p2"), ("u2", "p3")],
    )
    out = _hits_kernel(ids, src, dst, {}, rounds=5)
    hub = dict(zip(ids, out["hub"]))
    auth = dict(zip(ids, out["authority"]))
    for u in ("u1", "u2"):
        assert hub[u] > 0 and auth[u] == pytest.approx(0.0, abs=1e-12)
    for p in ("p1", "p2", "p3"):
        assert hub[p] == pytest.approx(0.0, abs=1e-12) and auth[p] > 0
    assert auth["p2"] > auth["p1"] and auth["p2"] > auth["p3"]
    assert sum(hub.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(auth.values()) == pytest.approx(1.0, abs=1e-9)


_OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])  # the driver only: workers get no sys.path
from pyspark.sql import SparkSession
from usearch_spark.plans.pagerank import pagerank
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
v = spark.createDataFrame([("A",), ("B",), ("C",)], "id string")
e = spark.createDataFrame([("A", "B"), ("B", "C"), ("C", "A")], "src string, dst string")
res = pagerank(v, e, strategy="local")
print("SCORES", sorted((r["id"], round(r["score"], 6)) for r in res.state.collect()))
spark.stop()
"""


def test_local_solve_runs_from_outside_the_repo(tmp_path):
    """Run the local solve from a cwd where ``usearch_spark`` is NOT
    importable by path: the workers can only find the kernel through the
    package the harness ships."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT, str(REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    third = round(1 / 3, 6)
    assert f"SCORES {[('A', third), ('B', third), ('C', third)]}" in proc.stdout
