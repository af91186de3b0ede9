"""Degree-distribution and triangle-count plan tests
(usearch_spark/plans/graph_stats.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usearch_spark.plans.graph_stats import (
    canonical_edges,
    degree_distribution,
    triangles_per_vertex,
)


@pytest.fixture(scope="module")
def toy(spark):
    # K4 on {a,b,c,d} (4 triangles) plus a pendant edge d-e (0 triangles)
    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in "abcde"], "id string")
    return v, e


def test_degree_distribution_counts(toy):
    _, e = toy
    hist = {(r["side"], r["degree"]): r["n_vertices"] for r in degree_distribution(e).collect()}
    # out-degrees: a->3, b->2, c->1, d->1  => {3:1, 2:1, 1:2}
    assert hist[("out", 3)] == 1 and hist[("out", 2)] == 1 and hist[("out", 1)] == 2
    # in-degrees: b->1, c->2, d->3, e->1  => {1:2, 2:1, 3:1}
    assert hist[("in", 1)] == 2 and hist[("in", 2)] == 1 and hist[("in", 3)] == 1


def test_canonical_edges_dedupes_both_directions(spark):
    e = spark.createDataFrame(
        [("x", "y"), ("y", "x"), ("x", "x"), ("y", "z")], "src string, dst string"
    )
    got = sorted(tuple(r) for r in canonical_edges(e).collect())
    assert got == [("x", "y"), ("y", "z")]  # self-loop dropped, reverse deduped


def test_triangles_k4_plus_pendant(toy):
    v, e = toy
    got = {r["id"]: r["n_triangles"] for r in triangles_per_vertex(v, e).collect()}
    # K4: each of a,b,c,d sits in C(3,2)=3 triangles; e in none
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}


def test_triangles_direction_invariant(spark, toy):
    v, e = toy
    reversed_e = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    both = e.unionByName(reversed_e)
    a = sorted(tuple(r) for r in triangles_per_vertex(v, e).collect())
    b = sorted(tuple(r) for r in triangles_per_vertex(v, both).collect())
    assert a == b


def test_project_bipartite_weights(spark):
    # parts shared: (s1,s2) share p1,p2 -> w=2; (s1,s3) share p3 -> w=1
    e = spark.createDataFrame(
        [("s1", "p1"), ("s1", "p2"), ("s1", "p3"),
         ("s2", "p1"), ("s2", "p2"), ("s3", "p3"),
         ("s1", "p1")],  # duplicate edge must not inflate weight
        "src string, dst string",
    )
    from usearch_spark.plans.graph_stats import project_bipartite

    got = {(r["a"], r["b"]): r["weight"] for r in project_bipartite(e).collect()}
    assert got == {("s1", "s2"): 2, ("s1", "s3"): 1}


def test_project_bipartite_hub_cap_drops_hot_dst(spark):
    # p_hub touches all three sources; capped at degree 2 it must vanish
    e = spark.createDataFrame(
        [("s1", "p_hub"), ("s2", "p_hub"), ("s3", "p_hub"), ("s1", "p2"), ("s2", "p2")],
        "src string, dst string",
    )
    from usearch_spark.plans.graph_stats import project_bipartite

    got = {(r["a"], r["b"]): r["weight"]
           for r in project_bipartite(e, max_dst_degree=2).collect()}
    assert got == {("s1", "s2"): 1}  # only p2 survives the cap


def test_kcore_peel_cascades(spark):
    """Peeling must cascade: removing a low-degree vertex can drop its
    neighbor below k in a LATER round."""
    from usearch_spark.plans.graph_stats import kcore_peel

    # chain a-b-c-d plus triangle d-e-f-d: 2-core should keep only the
    # triangle (a,b,c peel away over successive rounds)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("f", "d")],
        "src string, dst string",
    )
    v = spark.createDataFrame([(s,) for s in "abcdef"], "id string")
    got = {r["id"]: r["core_degree"] for r in kcore_peel(v, e, k=2, rounds=5).collect()}
    assert set(got) == {"d", "e", "f"}
    assert got == {"d": 2, "e": 2, "f": 2}


def test_kcore_k1_keeps_everything_connected(spark):
    from usearch_spark.plans.graph_stats import kcore_peel

    e = spark.createDataFrame([("x", "y"), ("y", "z")], "src string, dst string")
    v = spark.createDataFrame([(s,) for s in "xyz"], "id string")
    got = {r["id"]: r["core_degree"] for r in kcore_peel(v, e, k=1, rounds=3).collect()}
    assert got == {"x": 1, "y": 2, "z": 1}


@pytest.mark.parametrize("strategy", ["local", "distributed"])
def test_harmonic_centrality_path_graph(spark, strategy):
    """Path a-b-c-d: harmonic from sources {a, d} with 3 rounds —
    hand-computable distances, zeros for the isolated vertex.  Both the
    numpy local solver and the per-round loop must hit the goldens."""
    from usearch_spark.plans.graph_stats import harmonic_centrality

    v = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("z",)], "id string")
    e = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string")
    got = {
        r["id"]: (r["harmonic"], r["n_reached"])
        for r in harmonic_centrality(v, e, ["a", "d"], rounds=3, strategy=strategy).collect()
    }
    # d(a,b)=1 d(d,b)=2 -> 1.5; d(a,c)=2 d(d,c)=1 -> 1.5
    assert got["b"] == (1.5, 2) and got["c"] == (1.5, 2)
    # sources see each other at distance 3 (not themselves: dist 0 excluded)
    assert got["a"] == (round(1 / 3, 6), 1) and got["d"] == (round(1 / 3, 6), 1)
    assert got["z"] == (0.0, 0)


def test_harmonic_rounds_bound(spark):
    """A source farther than `rounds` hops contributes nothing."""
    from usearch_spark.plans.graph_stats import harmonic_centrality

    v = spark.createDataFrame([(x,) for x in "abcde"], "id string")
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "src string, dst string"
    )
    got = {r["id"]: r["n_reached"] for r in harmonic_centrality(v, e, ["a"], rounds=2).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 0, "e": 0}


@pytest.mark.parametrize("strategy", ["local", "distributed"])
def test_betweenness_path_graph_exact(spark, strategy):
    """All-sources Brandes on the path a-b-c-d-e is exact betweenness:
    bc = [0, 3, 4, 3, 0] (pairs routed through each interior vertex).
    Both physical strategies must hit the goldens."""
    from usearch_spark.plans.graph_stats import betweenness_centrality

    ids = list("abcde")
    v = spark.createDataFrame([(x,) for x in ids], "id string")
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "src string, dst string"
    )
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(v, e, ids, rounds=4, strategy=strategy).collect()
    }
    assert got == {"a": 0.0, "b": 3.0, "c": 4.0, "d": 3.0, "e": 0.0}


def test_betweenness_star_and_split_paths(spark):
    """Star: the hub carries every pair, C(4,2)=6.  Diamond a-b-d, a-c-d:
    two equal shortest paths split the (a,d) dependency between b and c."""
    from usearch_spark.plans.graph_stats import betweenness_centrality

    ids = ["h", "x1", "x2", "x3", "x4"]
    v = spark.createDataFrame([(x,) for x in ids], "id string")
    e = spark.createDataFrame([("h", f"x{i}") for i in range(1, 5)], "src string, dst string")
    got = {r["id"]: r["betweenness"] for r in betweenness_centrality(v, e, ids, rounds=3).collect()}
    assert got["h"] == 6.0 and all(got[f"x{i}"] == 0.0 for i in range(1, 5))

    ids2 = list("abcd")
    v2 = spark.createDataFrame([(x,) for x in ids2], "id string")
    e2 = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], "src string, dst string"
    )
    got2 = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(v2, e2, ids2, rounds=3, strategy="local").collect()
    }
    # (a,d) has 2 shortest paths -> b and c each carry 1/2 from that pair
    assert got2 == {"a": 0.5, "b": 0.5, "c": 0.5, "d": 0.5}


def test_betweenness_sampled_subset(spark):
    """Sampling only source 'a' on the path graph counts only pairs with
    s='a': through b pass (a,c),(a,d),(a,e) -> delta 3, halved to 1.5."""
    from usearch_spark.plans.graph_stats import betweenness_centrality

    v = spark.createDataFrame([(x,) for x in "abcde"], "id string")
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "src string, dst string"
    )
    got = {
        r["id"]: r["betweenness"]
        for r in betweenness_centrality(v, e, ["a"], rounds=4).collect()
    }
    assert got == {"a": 0.0, "b": 1.5, "c": 1.0, "d": 0.5, "e": 0.0}


@pytest.mark.slow
def test_bfs_family_local_distributed_parity_real_graph(spark):
    """Beyond the hand goldens: both physical strategies must agree row-
    for-row on a real (sf0.001 supplier-part) graph for harmonic AND
    betweenness."""
    from pyspark.sql import functions as F

    from usearch_spark.plans.graph_stats import betweenness_centrality, harmonic_centrality

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    e = (
        li.select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        )
        .dropDuplicates(["src", "dst"])
    )
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .dropDuplicates(["id"])
    )
    srcs = ["s1", "s2"]
    h_loc = {tuple(r) for r in harmonic_centrality(v, e, srcs, rounds=3, strategy="local").collect()}
    h_dis = {tuple(r) for r in harmonic_centrality(v, e, srcs, rounds=3, strategy="distributed").collect()}
    assert h_loc == h_dis and len(h_loc) > 100

    b_loc = {tuple(r) for r in betweenness_centrality(v, e, srcs, rounds=3, strategy="local").collect()}
    b_dis = {tuple(r) for r in betweenness_centrality(v, e, srcs, rounds=3, strategy="distributed").collect()}
    assert b_loc == b_dis and len(b_loc) > 100


def test_coreness_known_graph(spark):
    """K4 (core 3) + pendant chain (core 1) + isolated vertex (core 0)."""
    from usearch_spark.plans.graph_stats import coreness

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"),
        ("d", "e"), ("e", "f"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in "abcdefg"], "id string")
    got = {r["id"]: r["coreness"] for r in coreness(v, e, rounds=8).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 1, "f": 1, "g": 0}


def test_coreness_consistent_with_kcore_peel(spark):
    """coreness(v) >= k  iff  v survives the k-core peel, for every k."""
    from usearch_spark.plans.graph_stats import coreness, kcore_peel

    # deterministic pseudo-random graph
    n = 60
    e = (
        spark.range(n)
        .select(
            F.col("id"),
            F.explode(F.sequence(F.lit(1), F.pmod(F.xxhash64("id"), F.lit(5)) + 1)).alias("k"),
        )
        .select(
            F.concat(F.lit("v"), F.col("id")).alias("src"),
            F.concat(F.lit("v"), F.pmod(F.xxhash64("id", "k"), F.lit(n))).alias("dst"),
        )
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    core = {r["id"]: r["coreness"] for r in coreness(v, e, rounds=30).collect()}
    for k in (1, 2, 3, 4):
        survivors = {r["id"] for r in kcore_peel(v, e, k=k, rounds=30).collect()}
        expect = {vid for vid, c in core.items() if c >= k}
        assert survivors == expect, f"k={k}"


def test_coreness_numeric_ids(spark):
    from usearch_spark.plans.graph_stats import coreness

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    v = spark.createDataFrame([(1,), (2,), (3,), (4,)], "id long")
    got = {r["id"]: r["coreness"] for r in coreness(v, e).collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 0}


def test_adamic_adar_known_graph(spark):
    """Two sources sharing one rare dst (deg 2) score 1/ln(2); sharing a
    hub dst (deg 3) scores 1/ln(3) per pair; hub cap drops the hub."""
    import math

    from usearch_spark.plans.graph_stats import adamic_adar

    e = spark.createDataFrame(
        [("a", "r"), ("b", "r"), ("a", "h"), ("b", "h"), ("c", "h")],
        "src string, dst string",
    )
    got = {(r["a"], r["b"]): (r["aa_score"], r["n_common"]) for r in adamic_adar(e).collect()}
    w_r, w_h = 1 / math.log(2), 1 / math.log(3)
    assert got[("a", "b")] == (round(w_r + w_h, 6), 2)
    assert got[("a", "c")] == (round(w_h, 6), 1)
    assert got[("b", "c")] == (round(w_h, 6), 1)

    capped = {
        (r["a"], r["b"]): r["n_common"]
        for r in adamic_adar(e, max_dst_degree=2).collect()
    }
    assert capped == {("a", "b"): 1}  # hub h dropped entirely


def test_ktruss_known_graph(spark):
    """K4 is a 4-truss (every edge in 2 triangles); a pendant triangle
    hanging off it survives 3-truss but not 4-truss."""
    from usearch_spark.plans.graph_stats import ktruss

    edges = [
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),  # K4
        ("d", "e"), ("d", "f"), ("e", "f"),  # pendant triangle
        ("f", "g"),  # bare edge
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in "abcdefg"], "id string")

    t4 = {(r["a"], r["b"]): r["support"] for r in ktruss(v, e, k=4, rounds=5).collect()}
    assert set(t4) == {("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")}
    assert all(s == 2 for s in t4.values())

    t3 = {(r["a"], r["b"]) for r in ktruss(v, e, k=3, rounds=5).collect()}
    assert ("d", "e") in t3 and ("e", "f") in t3 and ("f", "g") not in t3
    assert len(t3) == 9


def test_maximal_matching_is_valid_and_maximal(spark):
    from usearch_spark.plans.graph_stats import canonical_edges, maximal_matching

    n = 80
    e = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(5)), F.lit(n))).alias("dst"),
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    m = [(r["a"], r["b"]) for r in maximal_matching(v, e).collect()]
    used = [x for ab in m for x in ab]
    assert len(used) == len(set(used)), "a vertex is matched twice"
    # maximality: every surviving edge must touch a matched vertex
    alledges = {(r["a"], r["b"]) for r in canonical_edges(e).collect()}
    mset = set(m)
    for a, b in alledges:
        assert a in used or b in used or (a, b) in mset, (a, b)
    # deterministic
    again = [(r["a"], r["b"]) for r in maximal_matching(v, e).collect()]
    assert sorted(again) == sorted(m)


def test_coarsen_halves_vertices_and_conserves_weight(spark):
    from usearch_spark.plans.graph_stats import canonical_edges, coarsen_graph

    n = 60
    e = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(11)), F.lit(n))).alias("dst"),
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    coarse = coarsen_graph(v, e).collect()
    supers = {r["sa"] for r in coarse} | {r["sb"] for r in coarse}
    n_orig_edges = canonical_edges(e).count()
    # weight conservation: collapsed edges + dropped intra-pair self loops
    assert sum(r["weight"] for r in coarse) <= n_orig_edges
    assert sum(r["weight"] for r in coarse) >= n_orig_edges - n  # <= n/2 matched pairs
    assert len(supers) < n  # strictly coarser


def test_coarsen_levels_hierarchy(spark):
    """2-level contraction: clusters nest (level-2 is a coarsening of
    level-1), every member shares a component with its representative,
    and the hierarchy is deterministic."""
    from usearch_spark.plans.graph_stats import coarsen_levels
    from usearch_spark.plans.pregel import connected_components

    n = 100
    e = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(13)), F.lit(n))).alias("dst"),
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    l1 = {r["id"]: r["cluster"] for r in coarsen_levels(v, e, levels=1).collect()}
    l2 = {r["id"]: r["cluster"] for r in coarsen_levels(v, e, levels=2).collect()}
    assert len(set(l2.values())) <= len(set(l1.values())) < n
    # nesting: same level-1 cluster => same level-2 cluster
    for a in l1:
        for b in l1:
            if l1[a] == l1[b]:
                assert l2[a] == l2[b]
    comp = {r["id"]: r["value"] for r in connected_components(v, e).state.collect()}
    for vid, c in l2.items():
        assert comp[vid] == comp[c], (vid, c)
    again = {r["id"]: r["cluster"] for r in coarsen_levels(v, e, levels=2).collect()}
    assert again == l2


def test_hyperball_tracks_exact_balls(spark):
    """HyperBall ball estimates follow the true neighborhood sizes: on a
    random graph, per-round estimates are monotone non-decreasing, the
    final estimate correlates with the exact 4-ball size (mean relative
    error well inside the m=16 HLL error regime), and the whole chain is
    deterministic."""
    from usearch_spark.plans.graph_stats import canonical_edges, hyperball_harmonic

    n = 120
    e = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(23)), F.lit(n))).alias("dst"),
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    out = {r["id"]: (r["harmonic_approx"], r["ball_approx"])
           for r in hyperball_harmonic(v, e, rounds=4).collect()}
    assert len(out) == n
    # exact 4-balls by BFS over the undirected edge set
    adj: dict[str, set] = {}
    for r in canonical_edges(e).collect():
        adj.setdefault(r["a"], set()).add(r["b"])
        adj.setdefault(r["b"], set()).add(r["a"])
    rel_errs = []
    for r in v.collect():
        s = r["id"]
        ball = {s}
        frontier = {s}
        for _ in range(4):
            frontier = {y for x in frontier for y in adj.get(x, ())} - ball
            ball |= frontier
        est = out[s][1]
        rel_errs.append(abs(est - len(ball)) / len(ball))
    # m=16 raw HLL: sigma ~ 1.04/sqrt(16) = 26%, plus small-range bias
    # (no ln correction, documented) — the MEAN must still sit well
    # under 1x, i.e. the estimates track the truth, not noise
    assert sum(rel_errs) / len(rel_errs) < 0.6, sum(rel_errs) / len(rel_errs)
    # harmonic must be positive wherever the vertex has any neighbor
    assert all(out[x][0] > 0 for x in adj)
    again = {r["id"]: (r["harmonic_approx"], r["ball_approx"])
             for r in hyperball_harmonic(v, e, rounds=4).collect()}
    assert again == out


@pytest.mark.slow
def test_partition_kway_invariants(spark):
    """Multilevel k-way partitioning: total assignment (every vertex,
    exactly once), parts in [0,k), every part within the (1+eps) balance
    cap, part_weight/edge_cut columns consistent with the assignment,
    and the whole chain deterministic."""
    import math

    from usearch_spark.plans.graph_stats import canonical_edges, partition_kway

    n, k, eps = 100, 4, 0.3
    e = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(17)), F.lit(n))).alias("dst"),
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    rows = partition_kway(v, e, k=k, eps=eps).collect()
    assert len(rows) == n and len({r["id"] for r in rows}) == n
    parts = {r["id"]: r["part"] for r in rows}
    assert all(0 <= p < k for p in parts.values())
    cap = math.ceil((1 + eps) * n / k)
    sizes: dict[int, int] = {}
    for p in parts.values():
        sizes[p] = sizes.get(p, 0) + 1
    assert all(s <= cap for s in sizes.values()), sizes
    for r in rows:
        assert r["part_weight"] == sizes[r["part"]]
    cut = sum(
        1
        for r in canonical_edges(e).collect()
        if parts[r["a"]] != parts[r["b"]]
    )
    assert rows[0]["edge_cut"] == cut
    again = {r["id"]: r["part"] for r in partition_kway(v, e, k=k, eps=eps).collect()}
    assert again == parts


def test_densest_subgraph_finds_planted_clique(spark):
    """Parallel peeling recovers a planted K10 inside a sparse random
    background: the returned set is exactly the clique with density
    |E|/|V| = 4.5, and the chain is deterministic."""
    from usearch_spark.plans.graph_stats import densest_subgraph

    n = 200
    bg = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(31)), F.lit(n))).alias("dst"),
    )
    cl = spark.createDataFrame(
        [(f"c{i}", f"c{j}") for i in range(10) for j in range(i + 1, 10)],
        "src string, dst string",
    )
    v = (
        spark.range(n)
        .select(F.concat(F.lit("v"), F.col("id")).alias("id"))
        .unionByName(spark.createDataFrame([(f"c{i}",) for i in range(10)], "id string"))
    )
    e = bg.unionByName(cl)
    rows = densest_subgraph(v, e, rounds=8, eps=0.1).collect()
    ids = sorted(r["id"] for r in rows)
    assert ids == [f"c{i}" for i in range(10)]
    assert abs(rows[0]["density"] - 4.5) < 1e-12
    again = sorted(r["id"] for r in densest_subgraph(v, e, rounds=8, eps=0.1).collect())
    assert again == ids


def test_hyperball_neighborhood_curve(spark):
    """Neighborhood function: N(t) is non-decreasing, N(0) tracks |V|
    (every 0-ball is one vertex), the effective diameter lies in
    [0, rounds] and is small on a dense random graph; deterministic."""
    from usearch_spark.plans.graph_stats import hyperball_neighborhood

    n = 150
    e = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(41)), F.lit(n))).alias("dst"),
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    rows = sorted(
        (r["t"], r["nf"], r["eff_diameter"])
        for r in hyperball_neighborhood(v, e, rounds=4).collect()
    )
    assert [t for t, _, _ in rows] == [0, 1, 2, 3, 4]
    nfs = [nf for _, nf, _ in rows]
    assert all(b >= a for a, b in zip(nfs, nfs[1:]))
    assert 0.7 * n < nfs[0] < 1.4 * n  # small-range-corrected singletons
    d = rows[0][2]
    assert 0.0 <= d <= 4.0 and all(x[2] == d for x in rows)
    again = sorted(
        (r["t"], r["nf"], r["eff_diameter"])
        for r in hyperball_neighborhood(v, e, rounds=4).collect()
    )
    assert again == rows


def test_modularity_known_anchors(spark):
    """Closed-form anchors: two disjoint equal cliques with their natural
    communities give Q = 0.5; everything in ONE community gives Q = 0;
    per-community columns reconcile."""
    from usearch_spark.plans.graph_stats import modularity

    cl = [(f"{p}{i}", f"{p}{j}") for p in ("x", "y") for i in range(4) for j in range(i + 1, 4)]
    e = spark.createDataFrame(cl, "src string, dst string")
    good = spark.createDataFrame(
        [(f"{p}{i}", p) for p in ("x", "y") for i in range(4)], "id string, community string"
    )
    rows = modularity(good, e).collect()
    assert abs(rows[0]["modularity"] - 0.5) < 1e-9
    for r in rows:
        assert r["n_members"] == 4 and r["internal_edges"] == 6 and r["degree_sum"] == 12
    one = good.select("id", F.lit("all").alias("community"))
    rows1 = modularity(one, e).collect()
    assert abs(rows1[0]["modularity"]) < 1e-9


def test_hyperball_states_hint_parity(spark):
    """Passing pre-materialized register states must not change either
    consumer's output (the share-the-pass contract)."""
    from usearch_spark.plans.graph_stats import (
        hll_register_states,
        hyperball_harmonic,
        hyperball_neighborhood,
    )

    n = 80
    e = spark.range(n).select(
        F.concat(F.lit("v"), F.col("id")).alias("src"),
        F.concat(F.lit("v"), F.pmod(F.xxhash64("id", F.lit(47)), F.lit(n))).alias("dst"),
    )
    v = spark.range(n).select(F.concat(F.lit("v"), F.col("id")).alias("id"))
    states = hll_register_states(v, e, rounds=3)
    a = sorted(map(tuple, hyperball_harmonic(v, e, rounds=3).collect()))
    b = sorted(map(tuple, hyperball_harmonic(v, e, rounds=3, states_hint=states).collect()))
    assert a == b
    c = sorted(map(tuple, hyperball_neighborhood(v, e, rounds=3).collect()))
    d = sorted(map(tuple, hyperball_neighborhood(v, e, rounds=3, states_hint=states).collect()))
    assert c == d


def test_louvain_recovers_planted_communities(spark):
    """One Louvain level (local-move + aggregation + coarse local-move)
    recovers two planted cliques joined by a single bridge edge, and its
    modularity is >= label propagation's on the same graph — the ascent
    claim, pinned with the exact-integer modularity scorer."""
    from usearch_spark.plans.graph_stats import louvain, modularity
    from usearch_spark.plans.pregel import label_propagation

    eds = [(a, b) for a in range(5) for b in range(5) if a < b]
    eds += [(a, b) for a in range(5, 10) for b in range(5, 10) if a < b]
    eds += [(4, 5)]  # bridge
    edges = spark.createDataFrame(eds, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(10)], "id long")

    comm = louvain(verts, edges, rounds=4, coarse_rounds=4)
    got = {r["id"]: r["community"] for r in comm.collect()}
    assert len(set(got.values())) == 2
    assert len({got[i] for i in range(5)}) == 1
    assert len({got[i] for i in range(5, 10)}) == 1

    q_louvain = modularity(
        comm.withColumnRenamed("id", "id"), edges, id_col="id"
    ).first()["modularity"]
    lp = label_propagation(verts, edges, rounds=4).state.select(
        "id", F.col("value").alias("community")
    )
    q_lp = modularity(lp, edges, id_col="id").first()["modularity"]
    assert q_louvain >= q_lp
    assert q_louvain > 0.3  # two-clique planted structure


def test_louvain_isolated_and_empty(spark):
    """Isolated vertices keep singleton communities; an edgeless graph
    returns every vertex alone (m = 0 guard)."""
    from usearch_spark.plans.graph_stats import louvain

    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    got = {r["id"]: r["community"] for r in louvain(verts, edges).collect()}
    assert got[0] == got[1]
    assert got[2] != got[0] and got[3] != got[0] and got[2] != got[3]

    none = spark.createDataFrame([], "src long, dst long")
    got0 = {r["id"]: r["community"] for r in louvain(verts, none).collect()}
    assert len(set(got0.values())) == 4


def test_louvain_local_matches_distributed(spark):
    """The size-switched driver solve replays the distributed recurrence
    bit-for-bit (same integer scores, parity gates, tie-breaks)."""
    from usearch_spark.plans.graph_stats import louvain

    eds = [(i, (i + 1) % 12) for i in range(12)] + [(0, 6), (3, 9), (2, 7)]
    edges = spark.createDataFrame(eds, "src long, dst long")
    verts = spark.createDataFrame([(i,) for i in range(12)], "id long")
    loc = sorted(
        (r["id"], r["community"])
        for r in louvain(verts, edges, strategy="local").collect()
    )
    dist = sorted(
        (r["id"], r["community"])
        for r in louvain(verts, edges, strategy="distributed").collect()
    )
    assert loc == dist


def test_refine_splits_disconnected_community(spark):
    """A community containing two cliques with NO internal bridge splits
    into its connected parts, and modularity strictly improves; an
    already-connected assignment is left untouched."""
    from usearch_spark.plans.graph_stats import modularity, refine_communities

    eds = [(a, b) for a in range(4) for b in range(4) if a < b]
    eds += [(a, b) for a in range(4, 8) for b in range(4, 8) if a < b]
    edges = spark.createDataFrame(eds, "src long, dst long")
    # one label for everything: internally disconnected
    comm = spark.createDataFrame([(i, 0) for i in range(8)], "id long, community long")
    refined = refine_communities(comm, edges)
    got = {r["id"]: r["community"] for r in refined.collect()}
    assert len(set(got.values())) == 2
    assert len({got[i] for i in range(4)}) == 1 and len({got[i] for i in range(4, 8)}) == 1
    q_before = modularity(comm, edges).first()["modularity"]
    q_after = modularity(refined, edges).first()["modularity"]
    assert q_after > q_before
    # idempotent on a connected assignment
    again = {r["id"]: r["community"] for r in refine_communities(refined, edges).collect()}
    assert again == got


def test_reciprocity_counts_mutual_lanes(spark):
    from usearch_spark.plans.graph_stats import reciprocity

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3), (1, 2), (5, 5)],
        "src int, dst int",
    )
    r = reciprocity(e).collect()[0]  # dup + self-loop dropped -> 5 edges
    assert (r["n_edges"], r["n_reciprocal"]) == (5, 4)
    assert r["reciprocity"] == 0.8


def test_degree_assortativity_anchors(spark):
    """Star graph -> exactly -1 (hubs attach only to leaves); a clique is
    degree-regular -> NULL (zero variance); a two-hub ladder is positive."""
    from usearch_spark.plans.graph_stats import degree_assortativity

    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src int, dst int")
    assert degree_assortativity(star).collect()[0]["assortativity"] == -1.0
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "src int, dst int"
    )
    r = degree_assortativity(k4).collect()[0]
    assert r["n_edges"] == 6 and r["assortativity"] is None
    # two triangles sharing an edge: degrees 2,2,3,3 — mixed attachment
    g = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src int, dst int"
    )
    v = degree_assortativity(g).collect()[0]["assortativity"]
    import math
    # python replay of the exact formula over symmetrized pairs
    deg = {1: 2, 2: 3, 3: 3, 4: 2}
    pairs = []
    for a, b in [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]:
        pairs += [(deg[a], deg[b]), (deg[b], deg[a])]
    m2 = len(pairs)
    sj = sum(j for j, _ in pairs)
    sjk = sum(j * k for j, k in pairs)
    sjj = sum(j * j for j, _ in pairs)
    want = (m2 * sjk - sj * sj) / (m2 * sjj - sj * sj)
    assert v == want


def test_butterfly_count_anchors(spark):
    """K2,2 has exactly one butterfly (W=2, B=1); K2,3 has three
    (left pair shares 3 rights -> C(3,2)); a wedge-free star has none
    (NULL ratio guard exercised via a single-edge graph)."""
    from usearch_spark.plans.graph_stats import butterfly_count

    def run(edges):
        df = spark.createDataFrame(edges, "src string, dst string")
        return butterfly_count(df).collect()[0]

    k22 = run([("l1", "r1"), ("l1", "r2"), ("l2", "r1"), ("l2", "r2")])
    assert (k22["n_wedges"], k22["n_butterflies"]) == (2, 1)
    assert k22["butterflies_per_wedge"] == 0.5
    assert (k22["n_left"], k22["n_right"], k22["n_edges"]) == (2, 2, 4)

    k23 = run([(l, r) for l in ("l1", "l2") for r in ("r1", "r2", "r3")])
    assert (k23["n_wedges"], k23["n_butterflies"]) == (3, 3)

    single = run([("l1", "r1")])
    assert (single["n_wedges"], single["n_butterflies"]) == (0, 0)
    assert single["butterflies_per_wedge"] is None


def test_rich_club_clique_with_leaves(spark):
    """4-clique with two pendant leaves: the club above each threshold
    and its density match the hand count; duplicate/reversed input edges
    are canonicalized first."""
    from usearch_spark.plans.graph_stats import rich_club

    clique = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    leaves = [("x", "a"), ("y", "b")]
    dupes = [("b", "a"), ("a", "b")]  # canonicalized away
    df = spark.createDataFrame(clique + leaves + dupes, "src string, dst string")
    got = {r["k"]: r for r in rich_club(df, [0, 1, 2, 3, 4]).collect()}
    # degrees: a,b = 4; c,d = 3; x,y = 1
    assert (got[0]["n_nodes"], got[0]["n_edges"]) == (6, 8)
    assert got[0]["phi"] == 2 * 8 / (6 * 5)
    assert (got[1]["n_nodes"], got[1]["n_edges"], got[1]["phi"]) == (4, 6, 1.0)
    assert (got[2]["n_nodes"], got[2]["n_edges"], got[2]["phi"]) == (4, 6, 1.0)
    assert (got[3]["n_nodes"], got[3]["n_edges"], got[3]["phi"]) == (2, 1, 1.0)
    assert (got[4]["n_nodes"], got[4]["n_edges"]) == (0, 0)
    assert got[4]["phi"] is None


def test_bipartite_check_verdicts(spark):
    """Triangle -> odd (NULL sides); C4 -> bipartite 2/2; P3 -> 2/1;
    isolated vertex -> trivially bipartite 1/0."""
    from usearch_spark.plans.graph_stats import bipartite_check

    edges = [
        ("t1", "t2"), ("t2", "t3"), ("t3", "t1"),          # triangle
        ("c1", "c2"), ("c2", "c3"), ("c3", "c4"), ("c4", "c1"),  # C4
        ("p1", "p2"), ("p2", "p3"),                         # path
    ]
    verts = sorted({x for e in edges for x in e} | {"iso"})
    e = spark.createDataFrame(edges, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in verts], "id string")
    got = {r["component"]: r for r in bipartite_check(v, e).collect()}
    by_n = {r["n_vertices"]: r for r in got.values()}
    tri = [r for r in got.values() if r["n_vertices"] == 3 and not r["is_bipartite"]]
    assert len(tri) == 1 and tri[0]["side0"] is None
    c4 = [r for r in got.values() if r["n_vertices"] == 4]
    assert c4[0]["is_bipartite"] and sorted([c4[0]["side0"], c4[0]["side1"]]) == [2, 2]
    p3 = [r for r in got.values() if r["n_vertices"] == 3 and r["is_bipartite"]]
    assert len(p3) == 1 and sorted([p3[0]["side0"], p3[0]["side1"]]) == [1, 2]
    iso = by_n[1]
    assert iso["is_bipartite"] and (iso["side0"], iso["side1"]) in ((1, 0), (0, 1))


def test_conductance_two_triangles_bridge(spark):
    """Two triangles joined by a bridge, labeled as two communities:
    each has vol 7, cut 1 -> phi = 1/7; labeling the whole graph one
    community leaves no boundary -> NULL."""
    from usearch_spark.plans.graph_stats import conductance

    edges = [
        ("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
        ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
        ("a1", "b1"),
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    comm = spark.createDataFrame(
        [(v, v[0]) for v in ["a1", "a2", "a3", "b1", "b2", "b3"]],
        "id string, community string",
    )
    got = {r["community"]: r for r in conductance(comm, e).collect()}
    for c in ("a", "b"):
        assert (got[c]["n_members"], got[c]["volume"], got[c]["cut_edges"]) == (3, 7, 1)
        assert got[c]["conductance"] == 1 / 7
    one = spark.createDataFrame(
        [(v, "all") for v in ["a1", "a2", "a3", "b1", "b2", "b3"]],
        "id string, community string",
    )
    r = conductance(one, e).collect()[0]
    assert r["cut_edges"] == 0 and r["conductance"] is None


def test_link_prediction_scores_panel(spark):
    """CN / Jaccard / PA replay on a known bipartite graph: a and b share
    2 of (3 u 3) parts; c shares 1 with each."""
    from usearch_spark.plans.graph_stats import link_prediction_scores

    e = spark.createDataFrame(
        [("a", "p1"), ("a", "p2"), ("a", "p3"),
         ("b", "p2"), ("b", "p3"), ("b", "p4"),
         ("c", "p4")],
        "src string, dst string",
    )
    got = {(r["a"], r["b"]): r for r in link_prediction_scores(e).collect()}
    ab = got[("a", "b")]
    assert ab["common_neighbors"] == 2
    assert (ab["deg_a"], ab["deg_b"]) == (3, 3)
    assert ab["jaccard"] == 0.5
    assert ab["pref_attachment"] == 9
    bc = got[("b", "c")]
    assert bc["common_neighbors"] == 1 and bc["jaccard"] == 1 / 3
    assert ("a", "c") not in got  # no shared part -> pair never materializes


def test_katz_centrality_truncated_series_replay(spark):
    """Katz on a directed path a->b->c with beta=0.5: the 10-step
    truncation replays the closed recurrence exactly (a=1, b=1.5,
    c=1.75), and an isolated vertex stays at 1."""
    from usearch_spark.plans.graph_stats import katz_centrality

    v = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], "id string")
    e = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    got = {
        r["id"]: r["score"]
        for r in katz_centrality(v, e, beta=0.5, steps=10).collect()
    }
    # fixpoint after 2 steps: b = 1 + 0.5*1; c = 1 + 0.5*1.5
    assert got == {"a": 1.0, "b": 1.5, "c": 1.75, "z": 1.0}


def test_coreness_local_distributed_parity(spark):
    """The single-task numpy h-index solve and the per-round DataFrame
    loop are BIT-identical (every decision is an integer: degrees, ranks,
    max-min, the unchanged-total early exit), including isolated-vertex
    zero fill and a denser random graph where multiple h rounds fire."""
    from pyspark.sql import functions as F

    from usearch_spark.plans.graph_stats import coreness

    n = 150
    # 149 connected vertices (3 pseudo-random out-edges each) + 1 isolated
    v = spark.range(n).select(F.col("id").cast("string"))
    e = (
        spark.range(n - 1)
        .select(F.col("id"), F.explode(F.sequence(F.lit(1), F.lit(3))).alias("k"))
        .select(
            F.col("id").cast("string").alias("src"),
            F.pmod(F.xxhash64("id", "k", F.lit(11)), F.lit(n - 1)).cast("string").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    loc = {
        r["id"]: r["coreness"]
        for r in coreness(v, e, rounds=8, strategy="local").collect()
    }
    dist = {
        r["id"]: r["coreness"]
        for r in coreness(v, e, rounds=8, strategy="distributed").collect()
    }
    assert loc == dist
    assert len(loc) == n
    assert loc[str(n - 1)] == 0  # the isolated vertex


def test_katz_local_distributed_parity(spark):
    """The single-task numpy Katz solve and the per-superstep DataFrame
    loop agree to 8dp on a random directed graph (the pagerank-local
    parity contract), and auto picks local below the threshold."""
    from pyspark.sql import functions as F

    from usearch_spark.plans.graph_stats import katz_centrality

    n = 200
    v = spark.range(n).select(F.col("id").cast("string"))
    e = (
        spark.range(n)
        .select(
            F.col("id").cast("string").alias("src"),
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n)).cast("string").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    loc = {
        r["id"]: round(r["score"], 8)
        for r in katz_centrality(v, e, beta=0.05, steps=10, strategy="local").collect()
    }
    dist = {
        r["id"]: round(r["score"], 8)
        for r in katz_centrality(
            v, e, beta=0.05, steps=10, strategy="distributed"
        ).collect()
    }
    assert loc == dist
    assert len(loc) == n


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_iterative_loops_release_superseded_checkpoints(spark):
    """The r13-verdict ask: a 10-round harmonic/betweenness distributed
    run must leave O(1) pinned checkpoint RDDs, not O(rounds) — each
    round's eager localCheckpoint is released as soon as the next round
    materializes (release_local_checkpoint), instead of waiting for
    Python GC + ContextCleaner."""
    import gc

    from usearch_spark.plans.graph_stats import (
        betweenness_centrality,
        harmonic_centrality,
        katz_centrality,
    )

    n = 40
    v = spark.createDataFrame([(str(i),) for i in range(n)], "id string")
    e = spark.createDataFrame(
        [(str(i), str((i + 1) % n)) for i in range(n)], "src string, dst string"
    )

    from usearch_spark.plans.graph_stats import (
        coreness,
        densest_subgraph,
        kcore_peel,
        ktruss,
        maximal_matching,
    )

    for run in (
        lambda: harmonic_centrality(v, e, ["0", "7"], rounds=10, strategy="distributed"),
        lambda: betweenness_centrality(v, e, ["0", "7"], rounds=10, strategy="distributed"),
        lambda: katz_centrality(v, e, beta=0.05, steps=10, strategy="distributed"),
        lambda: kcore_peel(v, e, k=2, rounds=10),
        lambda: coreness(v, e, rounds=10),
        lambda: ktruss(v, e, k=3, rounds=10),
        lambda: maximal_matching(v, e, rounds=10),
        lambda: densest_subgraph(v, e, rounds=10),
    ):
        gc.collect()  # settle leftovers from other tests first
        before = _persistent_rdd_count(spark)
        out = run()
        out.count()  # materialize the full loop
        # NO gc here — the point is that release happens eagerly in the
        # loop, not via Python GC; only frames still referenced by `out`
        # (the input edge checkpoint + the final state) may remain pinned
        after = _persistent_rdd_count(spark)
        assert after - before <= 4, (
            f"pinned RDDs grew by {after - before} (O(rounds) leak): "
            f"{before} -> {after}"
        )


def test_pagerank_pregel_loops_release_superseded_checkpoints(spark):
    """The r14-verdict ask #5 extension: the pagerank / pregel / hits /
    coloring / sssp superstep loops must also leave O(1) pinned checkpoint
    RDDs after a 10-round distributed run.  Their step frames used to be
    derived selects over the checkpoint (release no-op, r14 finding #4);
    checkpoint_with_metrics(project=...) makes the returned state a bare
    checkpoint so run_fixpoint's eager release fires (hits releases in its
    own closure — its return must stay derived for the normalizer)."""
    import gc

    from pyspark.sql import functions as F

    from usearch_spark.plans.coloring import color_graph
    from usearch_spark.plans.hits import hits
    from usearch_spark.plans.pagerank import (
        pagerank,
        personalized_pagerank,
        weighted_pagerank,
    )
    from usearch_spark.plans.pregel import connected_components
    from usearch_spark.plans.shortest_path import shortest_paths

    n = 40
    v = spark.createDataFrame([(str(i),) for i in range(n)], "id string")
    e = spark.createDataFrame(
        [(str(i), str((i + 1) % n)) for i in range(n)], "src string, dst string"
    )
    ew = e.withColumn("weight", F.lit(1.0))

    for run in (
        lambda: pagerank(v, e, min_sad=0.0, max_steps=10, strategy="distributed").state,
        lambda: weighted_pagerank(
            v, ew, min_sad=0.0, max_steps=10, strategy="distributed"
        ).state,
        lambda: personalized_pagerank(
            v, e, ["0", "7"], min_sad=0.0, max_steps=10, strategy="distributed"
        ).state,
        lambda: hits(v, e, rounds=10, strategy="distributed").state,
        lambda: connected_components(v, e, max_steps=50, strategy="distributed").state,
        lambda: color_graph(v, e, strategy="distributed").state,
        lambda: shortest_paths(v, e.withColumn("weight", F.lit(1.0)), "0", strategy="distributed").state,
    ):
        gc.collect()  # settle leftovers from other tests first
        before = _persistent_rdd_count(spark)
        out = run()
        out.count()  # materialize the full loop
        # NO gc here — release must happen eagerly in the loop, not via
        # Python GC; only frames still referenced (input checkpoints +
        # the final state) may remain pinned
        after = _persistent_rdd_count(spark)
        assert after - before <= 5, (
            f"pinned RDDs grew by {after - before} (O(rounds) leak): "
            f"{before} -> {after}"
        )


@pytest.mark.parametrize("strategy", ["local", "distributed"])
def test_pagerank_family_and_hits_release_their_input_checkpoints(spark, strategy):
    """A PageRank-family or HITS call leaves only its result pinned: the
    vertex, edge and warm-start checkpoints it took and the loop's initial
    state are released before it returns, not at GC time."""
    import gc

    from usearch_spark.plans.hits import hits
    from usearch_spark.plans.pagerank import (
        pagerank,
        personalized_pagerank,
        weighted_pagerank,
    )

    n = 40
    v = spark.createDataFrame([(str(i),) for i in range(n)], "id string")
    e = spark.createDataFrame(
        [(str(i), str((i + 1) % n)) for i in range(n)], "src string, dst string"
    )
    warm = v.withColumn("score", F.lit(1.0 / n))

    def pinned_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    kw = dict(min_sad=0.0, max_steps=10, strategy=strategy)

    for name, run in (
        ("pagerank", lambda: pagerank(v, e, **kw)),
        ("pagerank warm", lambda: pagerank(v, e, init_scores=warm, **kw)),
        ("ppr", lambda: personalized_pagerank(v, e, ["0", "7"], **kw)),
        ("weighted", lambda: weighted_pagerank(v, e.withColumn("weight", F.lit(1.0)), **kw)),
        ("hits", lambda: hits(v, e, rounds=10, strategy=strategy)),
    ):
        gc.collect()  # settle leftovers from other tests first
        before = pinned_ids()
        res = run()
        # NO gc here: the release must be eager.  New ids only, so an
        # asynchronous cleanup of older RDDs cannot hide a leak
        left = pinned_ids() - before
        assert len(left) <= 1, f"{name}: the call left {len(left)} pinned RDDs"
        assert res.state.count() == n  # the result itself is still readable


def test_release_local_checkpoint_noop_on_lazy_frames(spark):
    """release_local_checkpoint is best-effort by contract: a lazy frame,
    a derived select over a checkpoint, and None must all no-op (never
    raise, never free blocks a live frame still needs)."""
    from pyspark.sql import functions as F

    from usearch_spark.plans.iterative import release_local_checkpoint

    release_local_checkpoint(None)
    lazy = spark.range(100).select(F.col("id") * 2)
    release_local_checkpoint(lazy)  # not a checkpoint: no-op
    assert lazy.count() == 100
    cp = spark.range(50).localCheckpoint(eager=True)
    derived = cp.select((F.col("id") + 1).alias("x"))
    release_local_checkpoint(derived)  # Project over LogicalRDD: no-op
    assert derived.count() == 50  # cp blocks must still be readable
    release_local_checkpoint(cp)  # the bare checkpoint DOES release


def test_release_walk_failure_counter_stays_zero_on_healthy_spark(spark):
    """The degraded-path signal (ADVICE r14): on this Spark version the
    JVM walk works, so intentional no-ops (lazy/derived frames) must NOT
    count as failures and the counter stays 0 across real releases."""
    from pyspark.sql import functions as F

    from usearch_spark.plans import iterative

    start = iterative.release_walk_failures
    lazy = spark.range(10).select(F.col("id") * 2)
    iterative.release_local_checkpoint(lazy)  # intentional no-op
    cp = spark.range(10).localCheckpoint(eager=True)
    iterative.release_local_checkpoint(cp.select("id"))  # derived: no-op
    iterative.release_local_checkpoint(cp)  # real release
    assert iterative.release_walk_failures == start


def test_release_walk_failure_counted_and_warned_once(spark, caplog):
    """A frame whose JVM walk blows up increments the counter and logs
    exactly one warning (so a Spark upgrade that moves the private APIs
    is visible instead of silently reverting to GC-driven cleanup)."""
    import logging

    from usearch_spark.plans import iterative

    class _Boom:
        def queryExecution(self):
            raise RuntimeError("private API moved")

    class _FakeDF:
        _jdf = _Boom()

    start = iterative.release_walk_failures
    iterative._release_walk_warned = False
    with caplog.at_level(logging.WARNING, logger="usearch_spark.plans.iterative"):
        iterative.release_local_checkpoint(_FakeDF())
        iterative.release_local_checkpoint(_FakeDF())
    assert iterative.release_walk_failures == start + 2
    warns = [r for r in caplog.records if "release_local_checkpoint" in r.message]
    assert len(warns) == 1  # one-time latch
