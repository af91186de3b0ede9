"""Deterministic hash-chain random walks (plans/walks.py): trajectory
validity, python replay of the chain, and dead-end termination."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from usearch_spark.plans.walks import random_walks


def _edges(spark):
    rows = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")]
    return spark.createDataFrame(rows, "src string, dst string")


def _pick(start, t, cur, nbrs):
    h = int(hashlib.md5(f"{start}:{t}:{cur}".encode()).hexdigest()[:15], 16)
    return sorted(nbrs)[h % len(nbrs)]


def test_walks_replay_the_hash_chain_exactly(spark):
    e = _edges(spark)
    adj = {}
    for r in e.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    starts = spark.createDataFrame([("a",), ("b",)], "id string")
    got = {
        (r["start"], r["step"]): r["node"]
        for r in random_walks(e, starts, steps=3).collect()
    }
    for s in ("a", "b"):
        cur = s
        assert got[(s, 0)] == s
        for t in range(1, 4):
            if cur not in adj:
                assert (s, t) not in got
                break
            cur = _pick(s, t, cur, adj[cur])
            assert got[(s, t)] == cur


def test_walks_end_at_dead_ends(spark):
    e = _edges(spark)  # 'd' has no out-edges
    starts = spark.createDataFrame([("d",)], "id string")
    out = random_walks(e, starts, steps=3).collect()
    assert [(r["start"], r["step"], r["node"]) for r in out] == [("d", 0, "d")]


def test_walk_steps_follow_edges(spark):
    e = _edges(spark)
    starts = spark.createDataFrame([("a",), ("c",)], "id string")
    out = random_walks(e, starts, steps=4)
    edges = {(r["src"], r["dst"]) for r in e.collect()}
    walks = {}
    for r in out.collect():
        walks.setdefault(r["start"], {})[r["step"]] = r["node"]
    for s, path in walks.items():
        for t in range(1, max(path) + 1):
            assert (path[t - 1], path[t]) in edges


def test_node2vec_walks_replay_python_simulation(spark):
    """Full-trajectory equality with a pure-Python simulation of the
    second-order rule: uniform first step, then the 1:4:2
    return/common/far weights with the md5 draw landing in the
    cumulative-weight interval over the dst order."""
    from usearch_spark.plans.walks import node2vec_walks

    rows = [
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("b", "c"),
        ("c", "b"), ("c", "d"), ("d", "c"), ("d", "e"), ("e", "d"),
        ("b", "e"), ("e", "b"),
    ]
    e = spark.createDataFrame(rows, "src string, dst string")
    adj = {}
    edges = set()
    for s, d in rows:
        adj.setdefault(s, []).append(d)
        edges.add((s, d))
    wr, wc, wf = 1, 4, 2
    steps = 5

    def draw(start, t, cur):
        return int(hashlib.md5(f"{start}:{t}:{cur}".encode()).hexdigest()[:15], 16)

    def simulate(start):
        path = {0: start}
        cur = start
        nbrs = sorted(adj[cur])
        cur, prev = nbrs[draw(start, 1, cur) % len(nbrs)], cur
        path[1] = cur
        for t in range(2, steps + 1):
            cands = sorted(adj[cur])
            ws = [
                wr if x == prev else (wc if (prev, x) in edges else wf)
                for x in cands
            ]
            r = draw(start, t, cur) % sum(ws)
            cum = 0
            for x, w in zip(cands, ws):
                cum += w
                if r < cum:
                    cur, prev = x, cur
                    break
            path[t] = cur
        return path

    starts = spark.createDataFrame([("a",), ("c",), ("e",)], "id string")
    got = {}
    for r in node2vec_walks(e, starts, steps=steps, w_return=wr, w_common=wc, w_far=wf).collect():
        got.setdefault(r["start"], {})[r["step"]] = r["node"]
    for s in ("a", "c", "e"):
        assert got[s] == simulate(s), f"start {s}: {got[s]} != {simulate(s)}"


def test_pruned_and_ranked_strategies_are_bit_identical(spark):
    """The per-step-pruned few-seed path must replay the SAME trajectories
    as the one-ranked-adjacency path: per-src row_number over a
    src-complete filtered adjacency is the global ranking restricted to
    the visited vertices.  Random 60-vertex multigraph-free digraph,
    both operators, every (start, step, node) row compared."""
    from usearch_spark.plans.walks import node2vec_walks, random_walks

    rows = sorted(
        {
            (f"v{(7 * i + 3 * j) % 60}", f"v{(11 * i + j * j) % 60}")
            for i in range(60)
            for j in range(5)
        }
    )
    rows = [(s, d) for s, d in rows if s != d]
    e = spark.createDataFrame(rows, "src string, dst string")
    starts = spark.createDataFrame([(f"v{k}",) for k in (0, 7, 13, 41)], "id string")

    def key(df):
        return sorted((r["start"], r["step"], r["node"]) for r in df.collect())

    assert key(random_walks(e, starts, steps=5, strategy="pruned")) == key(
        random_walks(e, starts, steps=5, strategy="ranked")
    )
    assert key(
        node2vec_walks(e, starts, steps=5, strategy="pruned")
    ) == key(node2vec_walks(e, starts, steps=5, strategy="ranked"))


def test_forced_pruned_above_max_starts_raises(spark):
    """A caller FORCING strategy='pruned' above PRUNED_MAX_STARTS must get
    an explicit error (r15-verdict #9): the pruned path collects the
    distinct in-flight vertex set to the driver each step, which does not
    scale past the bound.  'auto' and 'ranked' stay silent on the same
    start set."""
    import pytest

    from usearch_spark.plans.walks import PRUNED_MAX_STARTS, node2vec_walks, random_walks

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    big = spark.range(PRUNED_MAX_STARTS + 1).select(
        F.concat(F.lit("v"), F.col("id")).alias("id")
    )
    with pytest.raises(ValueError, match="pruned"):
        random_walks(e, big, steps=1, strategy="pruned")
    with pytest.raises(ValueError, match="pruned"):
        node2vec_walks(e, big, steps=1, strategy="pruned")
    # the auto path silently picks ranked for the same set
    random_walks(e, big, steps=1, strategy="auto")


def test_forced_pruned_counts_distinct_starts(spark):
    """The forced-'pruned' guard bounds the DISTINCT start ids (the set the
    pruned path collects), not the start rows: more than
    PRUNED_MAX_STARTS rows over a few ids is valid input and must walk
    the same trajectories as the ranked path, duplicates included."""
    from usearch_spark.plans.walks import PRUNED_MAX_STARTS, random_walks

    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "b")], "src string, dst string"
    )
    starts = spark.range(PRUNED_MAX_STARTS + 5).select(
        F.element_at(F.array(F.lit("a"), F.lit("b"), F.lit("c")), (F.col("id") % 3 + 1).cast("int")).alias("id")
    )

    def key(df):
        return sorted((r["start"], r["step"], r["node"]) for r in df.collect())

    pruned = key(random_walks(e, starts, steps=3, strategy="pruned"))
    assert pruned == key(random_walks(e, starts, steps=3, strategy="ranked"))
    assert len(pruned) == 4 * (PRUNED_MAX_STARTS + 5)  # no dead ends: every walk runs 3 steps
