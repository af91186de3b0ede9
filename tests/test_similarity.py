"""Similarity-search tests: exact brute force, LSH recall, near-pairs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from usearch_spark.operators.similarity import (
    cosine_topk,
    embedding_near_pairs,
    exact_cosine_pairs,
    ivf_topk,
    lsh_bucketed_topk,
)


def _vec(angle: float) -> list[float]:
    return [math.cos(angle), math.sin(angle), 0.0, 0.0]


@pytest.fixture(scope="module")
def embeddings(spark):
    rows = [(i, _vec(i * 0.1)) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_cosine_topk_exact(embeddings):
    top = cosine_topk(embeddings, _vec(0.0), k=3, exclude_id=0).collect()
    ids = [r["vec_id"] for r in top]
    assert ids[0] == 1  # closest angle
    assert set(ids) == {1, 2, 3}
    assert top[0]["cosine"] == pytest.approx(math.cos(0.1), abs=1e-6)


def test_lsh_topk_contains_nearest(embeddings):
    exact = [r["vec_id"] for r in cosine_topk(embeddings, _vec(0.0), k=3, exclude_id=0).collect()]
    approx = [r["vec_id"] for r in lsh_bucketed_topk(embeddings, _vec(0.0), k=3, max_probe_hamming=2).collect()]
    # multi-probe should recover the true nearest neighbor
    assert exact[0] in approx


def test_exact_cosine_pairs_matches_column_expression(spark, embeddings):
    """Blocked-matmul pairs must agree with the per-pair expression form."""
    from pyspark.sql import functions as F

    from usearch_spark.operators.similarity import cosine

    a = embeddings.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    b = embeddings.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    expr_pairs = {
        (r["a"], r["b"]): r["c"]
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("c", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("c") >= 0.8)
        .collect()
    }
    fast_pairs = {
        (r["a"], r["b"]): r["cosine"]
        for r in exact_cosine_pairs(embeddings, threshold=0.8).collect()
    }
    assert fast_pairs == expr_pairs
    assert len(fast_pairs) > 0


def test_ivf_full_probe_equals_brute_force(embeddings):
    """Probing every inverted list must reproduce the exact result — the
    lists partition the corpus, so the union is the full scan."""
    exact = [(r["vec_id"], round(r["cosine"], 6)) for r in cosine_topk(embeddings, _vec(0.0), k=5).collect()]
    ivf = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in ivf_topk(embeddings, _vec(0.0), k=5, n_clusters=4, n_probe=4).collect()
    ]
    assert ivf == exact


def test_ivf_probed_recall(embeddings):
    """A 2-of-4-list probe must still recover the true nearest neighbor
    (the neighbor shares the query's cell on this smooth corpus)."""
    exact_top = cosine_topk(embeddings, _vec(0.05), k=1).first()["vec_id"]
    approx = [r["vec_id"] for r in ivf_topk(embeddings, _vec(0.05), k=5, n_clusters=4, n_probe=2).collect()]
    assert exact_top in approx
    assert len(approx) <= 5


def test_embedding_near_pairs(spark):
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.999, 0.001]),
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r["a"], r["b"]) for r in embedding_near_pairs(df, threshold=0.99, n_planes=4, dim=2).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs


def test_exact_cosine_pairs_multiblock(spark, embeddings):
    """Forcing several blocks must reproduce the single-block pair set —
    covers the cross-block orientation and the diagonal triangle."""
    one = {
        (r["a"], r["b"]): r["cosine"]
        for r in exact_cosine_pairs(embeddings, threshold=0.8, n_blocks=1).collect()
    }
    many = {
        (r["a"], r["b"]): r["cosine"]
        for r in exact_cosine_pairs(embeddings, threshold=0.8, n_blocks=3).collect()
    }
    assert many == one
    assert len(one) > 0


def test_exact_cosine_pairs_no_driver_collect(spark, embeddings, monkeypatch):
    """The all-pairs plan must stay distributed: no DataFrame.collect may
    run while building or executing it (VERDICT r2 item 2)."""
    from pyspark.sql import DataFrame as SparkDataFrame

    def _no_collect(self):
        raise AssertionError("driver-side collect inside exact_cosine_pairs")

    plan = None
    orig = SparkDataFrame.collect
    monkeypatch.setattr(SparkDataFrame, "collect", _no_collect)
    try:
        plan = exact_cosine_pairs(embeddings, threshold=0.8)
        plan.write.format("noop").mode("overwrite").save()
    finally:
        monkeypatch.setattr(SparkDataFrame, "collect", orig)
    assert plan.count() > 0


def test_lsh_index_matches_per_query_form(spark, embeddings, tmp_path):
    """The persisted signature-partitioned index must return exactly what
    the per-query signing form returns, and its scan must prune to the
    probed sig partitions."""
    from usearch_spark.operators.similarity import build_lsh_index, lsh_index_topk

    path = str(tmp_path / "lsh_idx")
    build_lsh_index(embeddings, path, n_planes=4)
    per_query = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in lsh_bucketed_topk(embeddings, _vec(0.0), k=3, n_planes=4, max_probe_hamming=1).collect()
    ]
    indexed = lsh_index_topk(spark, path, _vec(0.0), k=3, n_planes=4, max_probe_hamming=1)
    got = [(r["vec_id"], round(r["cosine"], 6)) for r in indexed.collect()]
    assert got == per_query
    plan = indexed._sc._jvm.PythonSQLUtils.explainString(indexed._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [" in plan and "sig#" in plan


def test_ivf_index_matches_per_query_form(spark, embeddings, tmp_path):
    """The persisted IVF index (centroids sidecar + cluster-partitioned
    assignment) must reproduce the train-per-query form, with a pruned
    scan at query time."""
    from usearch_spark.operators.similarity import build_ivf_index, ivf_index_topk

    path = str(tmp_path / "ivf_idx")
    build_ivf_index(embeddings, path, n_clusters=4)
    per_query = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in ivf_topk(embeddings, _vec(0.0), k=5, n_clusters=4, n_probe=2).collect()
    ]
    indexed = ivf_index_topk(spark, path, _vec(0.0), k=5, n_probe=2)
    got = [(r["vec_id"], round(r["cosine"], 6)) for r in indexed.collect()]
    assert got == per_query
    plan = indexed._sc._jvm.PythonSQLUtils.explainString(indexed._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [" in plan and "cluster#" in plan


def test_int8_quantization_error_bounded(spark):
    """q in [-127, 127] and per-element reconstruction error <= half a
    quantization step (scale/254) for every dimension."""
    from usearch_spark.operators.similarity import dim_scales, quantize_int8

    emb = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [-2.0, 0.5, 0.0]), (3, [0.5, 1.0, -0.125])],
        "vec_id long, embedding array<float>",
    )
    scales = dim_scales(emb)
    sc = {r["dim"]: r["scale"] for r in scales.collect()}
    assert sc == {0: 2.0, 1: 1.0, 2: 0.25}
    rows = quantize_int8(emb, scales).collect()
    assert len(rows) == 9
    for r in rows:
        assert -127 <= r["q"] <= 127
        assert r["err"] <= sc[r["dim"]] / 254.0 + 1e-12
    # max-magnitude element in each dim quantizes to +/-127 exactly
    full = {(r["vec_id"], r["dim"]): r["q"] for r in rows}
    assert full[(2, 0)] == -127 and full[(3, 1)] == 127


def test_int8_quantization_zero_scale_dim(spark):
    from usearch_spark.operators.similarity import dim_scales, quantize_int8

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.0, -1.0])], "vec_id long, embedding array<float>"
    )
    rows = quantize_int8(emb, dim_scales(emb)).collect()
    dim0 = [r for r in rows if r["dim"] == 0]
    assert all(r["q"] == 0 and r["err"] == 0.0 for r in dim0)


def test_ivf_append_full_probe_stays_exact(spark, tmp_path):
    """Incremental index maintenance: build on the first 1500 vectors,
    ivf_append the rest, then a FULL-probe query over the appended index
    must equal brute force over the whole table — appends are
    partition-local and lose nothing."""
    from usearch_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk,
        ivf_append,
        ivf_index_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    cut = int(n * 0.75)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < cut), path, n_clusters=8)
    ivf_append(spark, path, emb.filter(F.col("vec_id") >= cut))

    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in ivf_index_topk(spark, path, list(q), k=10, n_probe=8, exclude_ids=[0]).collect()
    ]
    want = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in cosine_topk(emb, list(q), k=10, exclude_id=0).collect()
    ]
    assert got == want

    # appended rows really live in the cluster partitions (no side table)
    idx = spark.read.parquet(path)
    assert idx.count() == n and idx.filter(F.col("vec_id") >= cut).count() == n - cut


def test_embedding_covariance_matches_numpy(spark):
    """(Sij - Si*Sj/N)/N with decimal-exact sums must agree with numpy's
    population covariance to well under the quantization error."""
    import numpy as np

    from usearch_spark.operators.similarity import embedding_covariance

    rng = [[((i * 31 + j * 7) % 13) / 4.0 - 1.5 for j in range(5)] for i in range(40)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<float>")
    got = {(r["i"], r["j"]): r["cov"] for r in embedding_covariance(df).collect()}
    m = np.array(rng, dtype=np.float64)
    expect = np.cov(m, rowvar=False, bias=True)
    assert len(got) == 25
    for (i, j), c in got.items():
        assert abs(c - expect[i][j]) < 1e-5, (i, j, c, expect[i][j])
    # symmetry comes for free from the pair enumeration
    assert all(got[(i, j)] == got[(j, i)] for i in range(5) for j in range(5))


def test_principal_component_matches_numpy_power_iteration(spark):
    import math

    import numpy as np

    from usearch_spark.operators.similarity import principal_component

    # noise + a strong rank-1 direction so the eigengap is wide enough for
    # 8 power iterations to align (the operator's contract is the
    # fixed-iteration recurrence itself, asserted first)
    direction = [1.0, 2.0, -1.0, 0.5, 3.0, -2.0]
    rng = [
        [((i * 17 + j * 3) % 11) / 3.0 + ((i % 7) - 3) * direction[j] for j in range(6)]
        for i in range(50)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<float>"
    )
    got = {r["i"]: r["loading"] for r in principal_component(df, iters=8).collect()}

    m = np.array(rng, dtype=np.float64)
    mu = m.mean(axis=0)
    c = np.round((m - mu).T @ (m - mu) / len(m), 6)  # the operator uses round-6 cov
    v = np.full(6, 1 / math.sqrt(6))
    for _ in range(8):
        v = c @ v
        v = v / np.linalg.norm(v)
    for i in range(6):
        assert abs(got[i] - v[i]) < 1e-4, (i, got[i], v[i])
    # it should align with the true top eigenvector (up to sign)
    evec = np.linalg.eigh(c)[1][:, -1]
    cos = abs(float(np.dot(v, evec)))
    assert cos > 0.99


@pytest.mark.slow
def test_principal_component2_orthogonal_and_matches_numpy(spark):
    import math

    import numpy as np

    from usearch_spark.operators.similarity import principal_component, principal_component2

    # two strong orthogonal-ish directions + noise
    d1 = [1.0, 2.0, -1.0, 0.5, 3.0, -2.0]
    d2 = [-2.0, 1.0, 3.0, -1.0, 0.0, 1.5]
    rng = [
        [
            ((i * 17 + j * 3) % 11) / 5.0
            + ((i % 7) - 3) * d1[j]
            + (((i * 5) % 9) - 4) * d2[j]
            for j in range(6)
        ]
        for i in range(60)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<float>"
    )
    v1 = {r["i"]: r["loading"] for r in principal_component(df, iters=8).collect()}
    v2 = {r["i"]: r["loading"] for r in principal_component2(df, iters=8).collect()}

    # mirror the operator's rounded deflation in numpy
    m = np.array(rng, dtype=np.float64)
    mu = m.mean(axis=0)
    c = np.round((m - mu).T @ (m - mu) / len(m), 6)
    v = np.full(6, 1 / math.sqrt(6))
    for _ in range(8):
        v = c @ v
        v = v / np.linalg.norm(v)
    v = np.round(v, 6)
    lam = round(float(v @ c @ v), 6)
    c2 = np.round(c - lam * np.outer(v, v), 6)
    u = np.full(6, 1 / math.sqrt(6))
    for _ in range(8):
        u = c2 @ u
        u = u / np.linalg.norm(u)
    for i in range(6):
        assert abs(v2[i] - u[i]) < 1e-4, (i, v2[i], u[i])
    # near-orthogonality of the two learned components
    dot = abs(sum(v1[i] * v2[i] for i in range(6)))
    assert dot < 0.05, dot


def test_ivf_index_string_ids(spark, tmp_path):
    """The IVF quantizer densifies cluster ids, so a STRING id column
    builds, persists, and probes correctly (cids 0..k-1, positional
    centroid sidecar intact)."""
    from usearch_spark.operators.similarity import build_ivf_index, ivf_index_topk

    rows = [(f"doc-{i:03d}", [float(i % 4), float((i * 3) % 5), 0.5]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    path = str(tmp_path / "ivf_str")
    build_ivf_index(emb, path, n_clusters=3)
    got = ivf_index_topk(spark, path, [1.0, 2.0, 0.5], k=5, n_probe=3).collect()
    assert len(got) == 5
    assert all(isinstance(r["vec_id"], str) for r in got)
    # full probe (n_probe = k) equals brute-force cosine top-5
    brute = [
        r["vec_id"]
        for r in ivf_topk(emb, [1.0, 2.0, 0.5], k=5, n_clusters=3, n_probe=3).collect()
    ]
    assert [r["vec_id"] for r in got] == brute


def test_ivfpq_index_probe_and_recall(spark, embeddings, tmp_path):
    """IVF-PQ: the probed scan is partition-pruned; ADC scores are exact
    integers (d2 = int/1e12, bit-stable across runs); full-probe recall@5
    against brute-force cosine top-5 is >= 3/5 on the fixture; a vector
    quantized against its own codebook entry has minimal self-distance."""
    from usearch_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_index_topk,
    )

    path = str(tmp_path / "ivfpq_idx")
    build_ivfpq_index(embeddings, path, n_clusters=4, m=2, k_sub=4)
    out = ivfpq_index_topk(spark, path, _vec(0.0), k=5, n_probe=4)
    rows = out.collect()
    assert len(rows) == 5
    # bit-stable: a second execution returns identical (id, d2) pairs
    again = ivfpq_index_topk(spark, path, _vec(0.0), k=5, n_probe=4).collect()
    assert [(r["vec_id"], r["d2"]) for r in rows] == [
        (r["vec_id"], r["d2"]) for r in again
    ]
    # recall vs exact cosine top-5 (PQ is lossy; the fixture is small)
    brute = {r["vec_id"] for r in ivf_topk(embeddings, _vec(0.0), k=5, n_clusters=4, n_probe=4).collect()}
    got = {r["vec_id"] for r in rows}
    assert len(got & brute) >= 3
    # pruned probe reads only the probed cluster partitions
    pruned = ivfpq_index_topk(spark, path, _vec(0.0), k=5, n_probe=1)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan and "cluster#" in plan


def test_ivfpq_rerank_recovers_exact_order(spark, embeddings, tmp_path):
    """Two-stage probe: with the shortlist covering every probed row, the
    reranked result equals the exact cosine ranking over the probed
    partitions — quantization error fully cancels."""
    from usearch_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_index_topk,
    )

    path = str(tmp_path / "ivfpq_rr")
    build_ivfpq_index(embeddings, path, n_clusters=4, m=2, k_sub=4)
    got = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in ivfpq_index_topk(
            spark, path, _vec(0.0), k=5, n_probe=4, rerank=1000
        ).collect()
    ]
    brute = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in ivf_topk(embeddings, _vec(0.0), k=5, n_clusters=4, n_probe=4).collect()
    ]
    assert got == brute


def test_mips_reduction_preserves_order(spark):
    """The norm-augmentation reduction: cosine order on vectors
    augmented with sqrt(M^2 - |x|^2) (query augmented with 0) equals
    raw inner-product order — so every ANN index here serves MIPS
    unchanged (Bachrach et al. 2014)."""
    import math

    from pyspark.sql import functions as F

    from usearch_spark.operators.similarity import cosine_topk, mips_topk

    rows = [
        (i, [float((i * 3 + j) % 7) - 2.0 + (0.5 * i if j == 0 else 0.0) for j in range(4)])
        for i in range(1, 25)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [1.0, 0.5, -0.25, 2.0]
    got = [r["vec_id"] for r in mips_topk(df, qv, k=8).collect()]

    # augment driver-side with exact python doubles
    vecs = {i: [float(x) for x in v] for i, v in rows}
    m2 = max(sum(x * x for x in v) for v in vecs.values())
    aug = [
        (i, v + [math.sqrt(m2 - sum(x * x for x in v))]) for i, v in vecs.items()
    ]
    adf = spark.createDataFrame(aug, "vec_id long, embedding array<float>")
    want = [r["vec_id"] for r in cosine_topk(adf, qv + [0.0], k=8).collect()]
    assert got == want


def test_mmr_topk_diversifies_and_matches_replay(spark):
    """MMR demotes a planted near-duplicate that plain relevance top-k
    ranks second, and the whole greedy path (rel, max-sim, score) equals
    a Python replay of the integer-quantized objective."""
    import math

    from usearch_spark.operators.similarity import mmr_topk

    q = [1.0, 0.2, 0.0]
    vecs = {
        1: [0.95, 0.3, 0.0],    # most relevant
        2: [0.94, 0.31, 0.02],  # near-duplicate of 1, relevance rank 2
        3: [0.6, 0.1, 0.75],    # diverse, mid relevance
        4: [0.2, 0.9, 0.3],     # diverse
        5: [0.1, 0.0, 0.95],    # orthogonal-ish
    }
    rows = [(0, q)] + [(i, v) for i, v in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r["mmr_rank"], r["vec_id"], r["rel_q"], r["max_sim_q"], r["score2"])
        for r in mmr_topk(df, query_id=0, k=4, pool=5).orderBy("mmr_rank").collect()
    ]

    def quant(v):
        return [math.floor(x * 1e8 + 0.5) for x in v]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    qq = quant(q)
    xs = {i: quant(v) for i, v in vecs.items()}
    rel = {i: dot(x, qq) for i, x in xs.items()}
    sel, replay = [], []
    remaining = sorted(vecs)
    for r in range(1, 5):
        best = None
        for i in remaining:
            ms = max((dot(xs[i], xs[s]) for s in sel), default=0)
            s2 = rel[i] - ms
            key = (-s2, i)
            if best is None or key < best[0]:
                best = (key, i, ms, s2)
        _, i, ms, s2 = best
        sel.append(i)
        remaining.remove(i)
        replay.append((r, i, rel[i], ms, s2))
    assert got == replay
    order = [vid for _, vid, *_ in got]
    assert order[0] == 1          # pure relevance first
    # plain relevance would rank the near-dup second; MMR demotes it
    # behind the diverse vector 3
    assert sorted(rel, key=lambda i: -rel[i])[:2] == [1, 2]
    assert order[:3] == [1, 3, 2]


def test_mmr_topk_empty_pool_returns_typed_empty(spark):
    """A corpus holding only the query vector yields an EMPTY result with
    the full 5-column long schema (not an array<null> AnalysisException)."""
    from usearch_spark.operators.similarity import mmr_topk

    df = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = mmr_topk(df, query_id=0, k=3, pool=5)
    assert out.columns == ["mmr_rank", "vec_id", "rel_q", "max_sim_q", "score2"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint"] * 5
    assert out.count() == 0


def test_knn_graph_bucketed_edges_and_ranks(spark):
    """Within-bucket candidates only, exact integer dots, ranks tie-broken
    by neighbor id; a vector alone in its bucket emits no rows."""
    import math

    import numpy as np

    from usearch_spark.operators.similarity import (
        knn_graph,
        lsh_signature_py,
        _quantize_vec,
    )

    rng = np.random.RandomState(7)
    vecs = {i: [float(x) for x in rng.uniform(-1, 1, 8)] for i in range(12)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        (r["vec_id"], r["nbr_id"]): (r["knn_rank"], r["dot2"])
        for r in knn_graph(df, k=3, n_planes=2).collect()
    }
    sigs = {i: lsh_signature_py(v, 2) for i, v in vecs.items()}
    q = {i: [int(x) for x in _quantize_vec(v)] for i, v in vecs.items()}
    want = {}
    for i in vecs:
        cands = [j for j in vecs if j != i and sigs[j] == sigs[i]]
        scored = sorted(
            ((-(sum(a * b for a, b in zip(q[i], q[j]))), j) for j in cands)
        )[:3]
        for rank, (negdot, j) in enumerate(scored, 1):
            want[(i, j)] = (rank, -negdot)
    assert got == want


def test_knn_graph_empty_frame_typed_empty_result(spark):
    """An empty embeddings frame returns an explicitly-typed empty edge
    frame (mmr_topk's empty-pool contract) instead of raising on
    first()[0]."""
    from usearch_spark.operators.similarity import knn_graph

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = knn_graph(empty, k=3, n_planes=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "nbr_id", "knn_rank", "dot2",
    ]


def test_knn_graph_empty_frame_preserves_string_id_type(spark):
    """The empty-input branch derives the id columns' type from the INPUT
    schema (ADVICE r14): string vector ids must yield string id/nbr_id in
    the empty result so empty/non-empty unions don't diverge."""
    from usearch_spark.operators.similarity import knn_graph

    empty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    out = knn_graph(empty, k=3, n_planes=2)
    assert out.count() == 0
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types == {
        "vec_id": "string", "nbr_id": "string",
        "knn_rank": "bigint", "dot2": "bigint",
    }


def test_udf_worker_prelude_idempotent_driver_side():
    """The worker prelude (malloc thresholds + gc freeze) must be safe to
    call repeatedly in any process — it runs at the top of every heavy
    UDF body, including reused workers."""
    import gc

    from usearch_spark.session import udf_worker_prelude

    udf_worker_prelude()
    frozen1 = gc.get_freeze_count()
    udf_worker_prelude()  # idempotent: nothing new frozen beyond interim allocs
    assert gc.isenabled()
    assert gc.get_freeze_count() >= frozen1
    gc.unfreeze()  # leave the test process as found


def test_exact_cosine_single_block_matches_blocked(spark):
    """The n_blocks==1 mapInPandas fast path and the blocked cogroup path
    produce identical pair sets (same matmul, same round, same cut)."""
    import random

    from usearch_spark.operators.similarity import exact_cosine_pairs

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    single = exact_cosine_pairs(emb, threshold=0.2)  # 200 rows -> 1 block
    blocked = exact_cosine_pairs(emb, threshold=0.2, n_blocks=3)
    s = {(r["a"], r["b"]): r["cosine"] for r in single.collect()}
    b = {(r["a"], r["b"]): r["cosine"] for r in blocked.collect()}
    assert s == b and len(s) > 0
