"""Data-quality audit primitives (operators/audit.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usearch_spark.operators.audit import duplicate_keys, orphan_rows, rule_violations


def test_rule_violations_one_scan(spark):
    df = spark.createDataFrame([(1, "a"), (-2, None), (3, "c")], "x int, s string")
    out = rule_violations(
        df,
        {"x_positive": F.col("x") <= 0, "s_not_null": F.col("s").isNull()},
    ).collect()
    got = {r["check"]: (r["n_violations"], r["n_checked"]) for r in out}
    assert got == {"x_positive": (1, 3), "s_not_null": (1, 3)}


def test_rule_violations_quoted_name_is_safe(spark):
    """Check names are data, not SQL — a single quote must not break the
    plan (previously interpolated into selectExpr)."""
    df = spark.createDataFrame([(1,)], "x int")
    out = rule_violations(df, {"x isn't null": F.col("x").isNull()}).collect()
    assert out[0]["check"] == "x isn't null" and out[0]["n_violations"] == 0


def test_rule_violations_empty_rules_raises(spark):
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError):
        rule_violations(df, {})


def test_duplicate_keys_and_orphans(spark):
    child = spark.createDataFrame([(1,), (1,), (2,), (9,)], "fk int")
    parent = spark.createDataFrame([(1,), (2,)], "pk int")
    dup = duplicate_keys(child, "fk", "fk_unique").collect()[0]
    assert (dup["n_violations"], dup["n_checked"]) == (1, 4)
    orp = orphan_rows(child, parent, "fk", "pk", "fk_exists").collect()[0]
    assert (orp["n_violations"], orp["n_checked"]) == (1, 4)


def test_benford_terms_exact_python_replay(spark):
    """The digit histogram and every chi-square term match the exact
    Python replay on constructed amounts (first digit from exact cents,
    injected log10 literals — no engine-side log)."""
    from __spark_entry__ import _benford_weights

    from pyspark.sql import functions as F

    cents = [123, 1999, 2050, 345, 31, 4070, 555, 6120, 777, 8888, 90, 19, 12, 13]
    df = spark.createDataFrame([(c,) for c in cents], "cents long")
    d = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    g = df.select(d.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    tot = g.agg(F.sum("n_obs").alias("n"))
    warr = F.array(*[F.lit(w) for w in _benford_weights()])
    exp = F.col("n").cast("double") * F.element_at(warr, F.col("digit"))
    term = (F.col("n_obs").cast("double") - exp) ** 2 / exp
    got = {
        r["digit"]: (r["n_obs"], r["e"], r["t"])
        for r in g.crossJoin(F.broadcast(tot))
        .select("digit", "n_obs", exp.alias("e"), term.alias("t"))
        .collect()
    }
    from collections import Counter

    want_counts = Counter(int(str(c)[0]) for c in cents)
    n = len(cents)
    ws = _benford_weights()
    for dgt, cnt in want_counts.items():
        e = float(n) * ws[dgt - 1]
        assert got[dgt][0] == cnt
        assert got[dgt][1] == e
        assert got[dgt][2] == (float(cnt) - e) * (float(cnt) - e) / e


def test_iqr_outliers_tukey_hinges_and_fences(spark):
    """Hinges match the hand-computed Tukey values for odd and even n,
    every reported number is an exact half-integer, and only the planted
    extreme rows land outside the fences."""
    from pyspark.sql import functions as F

    from usearch_spark.operators.audit import iqr_outliers

    rows = [("odd", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 100]] + [
        ("even", v) for v in [10, 20, 30, 40]
    ] + [("low", v) for v in [-50, 10, 11, 12, 13, 14, 15, 16]]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in iqr_outliers(df, ["g"], "v").collect()}
    o = got["odd"]  # lower half [1..5] -> Q1=3; upper half [5..8,100] -> Q3=7
    assert (o["q1"], o["q3"], o["iqr"]) == (3.0, 7.0, 4.0)
    assert (o["fence_lo"], o["fence_hi"]) == (-3.0, 13.0)
    assert (o["n_low"], o["n_high"]) == (0, 1)
    e = got["even"]  # halves [10,20] and [30,40]
    assert (e["q1"], e["q3"]) == (15.0, 35.0)
    assert (e["n_low"], e["n_high"]) == (0, 0)
    lo = got["low"]
    assert lo["n_low"] == 1 and lo["n_high"] == 0


def test_gini_concentration_anchors(spark):
    """Gini = 0 for perfectly equal values, (n-1)/n for one-holder
    concentration, and matches the textbook rank formula on a mixed
    group; top_share counts the top decile exactly."""
    from usearch_spark.operators.audit import gini_concentration

    rows = []
    # equal: 10 holders of 5 -> gini 0, top_share (top 1 of 10) = 0.1
    rows += [("eq", i, 5) for i in range(10)]
    # one holder of everything -> gini (n-1)/n = 0.9
    rows += [("one", 0, 100)] + [("one", i, 0) for i in range(1, 10)]
    # mixed 20-row group vs naive formula
    xs = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8, 9, 7, 9, 3, 2, 3, 8, 4]
    rows += [("mix", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g string, id long, x long")
    got = {
        r["g"]: r
        for r in gini_concentration(df, ["g"], "x", "id", top_den=10).collect()
    }
    assert got["eq"]["gini"] == 0.0 and got["eq"]["top_share"] == 0.1
    assert got["one"]["gini"] == 0.9 and got["one"]["top_share"] == 1.0

    def naive(vals):
        s = sorted(vals)
        n = len(s)
        w = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(s))
        return w / (n * sum(s))

    assert got["mix"]["gini"] == pytest.approx(naive(xs), abs=1e-15)
    assert got["mix"]["top_share"] == sum(sorted(xs)[-2:]) / sum(xs)


def test_chisq_uniformity_anchors(spark):
    """chi2 = 0 for perfectly uniform counts; matches the textbook
    sum((o-e)^2/e) on a skewed group; labels don't matter."""
    from pyspark.sql import functions as F

    from usearch_spark.operators.audit import chisq_uniformity

    rows = []
    rows += [("u", c) for c in "abcd" for _ in range(25)]
    skew = {"a": 10, "b": 20, "c": 30, "d": 40}
    rows += [("s", c) for c, k in skew.items() for _ in range(k)]
    df = spark.createDataFrame(rows, "g string, c string")
    got = {
        r["g"]: r
        for r in chisq_uniformity(df, ["g"], F.col("c"), alias="cat").collect()
    }
    assert got["u"]["chi2"] == 0.0 and got["u"]["k_cats"] == 4
    e = 100 / 4
    naive = sum((k - e) ** 2 / e for k in skew.values())
    assert got["s"]["chi2"] == pytest.approx(naive, abs=1e-12)
    assert got["s"]["n"] == 100


def test_duplicate_payment_banding(spark):
    """Same-band pairs within the week pair up (including cross-cent
    amounts in one $10k band); different bands or >7-day gaps don't."""
    import datetime

    from pyspark.sql import functions as F

    d = datetime.date
    rows = [
        (1, 100, 1_050_000_00, d(2024, 1, 1)),   # band 105
        (2, 100, 1_059_999_99, d(2024, 1, 5)),   # band 105, 4 days later
        (3, 100, 1_150_000_00, d(2024, 1, 2)),   # different band
        (4, 200, 2_000_000_00, d(2024, 2, 1)),
        (5, 200, 2_000_000_00, d(2024, 2, 20)),  # same band, 19 days -> out
    ]
    o = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, cents long, d date"
    ).withColumn("band", F.expr("cents div 1000000"))
    a, b = o.alias("a"), o.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .withColumn("gap_days", F.abs(F.datediff(F.col("b.d"), F.col("a.d"))))
        .filter(F.col("gap_days") <= 7)
        .select("a.o_orderkey", "b.o_orderkey", "gap_days")
        .collect()
    )
    got = {(r[0], r[1]) for r in pairs}
    assert got == {(1, 2)}


def test_round_amount_audit_counts_and_z(spark):
    """Known mix: group A has 3/4 round amounts, B has 1/4; counts, the
    global rate, and the binomial z replay exactly in Python."""
    import math

    from usearch_spark.operators.audit import round_amount_audit

    rows = [("A", 100), ("A", 200), ("A", 300), ("A", 157),
            ("B", 100), ("B", 123), ("B", 257), ("B", 399)]
    df = spark.createDataFrame(rows, "g string, cents long")
    got = {r["g"]: r for r in round_amount_audit(df, ["g"], "cents").collect()}
    p = 4 / 8
    for g, n_round in (("A", 3), ("B", 1)):
        r = got[g]
        assert (r["n"], r["n_round"]) == (4, n_round)
        assert r["share"] == n_round / 4
        assert r["expected_round"] == round(4 * p, 6)
        assert r["z"] == (n_round - 4 * p) / math.sqrt(4 * p * (1 - p))


def test_round_amount_audit_degenerate_rate_null_z(spark):
    """Global rate p = 1 (modulus 1: everything is 'round') yields NULL
    z, not NaN; counts and share still emit."""
    from usearch_spark.operators.audit import round_amount_audit

    rows = [("A", 100), ("A", 157), ("B", 123)]
    df = spark.createDataFrame(rows, "g string, cents long")
    got = {
        r["g"]: r
        for r in round_amount_audit(df, ["g"], "cents", modulus=1).collect()
    }
    for g in ("A", "B"):
        assert got[g]["z"] is None
        assert got[g]["share"] == 1.0


def test_mad_outliers_exact_integer_fence(spark):
    """Median/MAD via two-rank sums and the cleared-denominator fence:
    values 1..9 plus one wild point — median 5.5 (even n), MAD replayed,
    and only the wild point passes 3*1.4826*MAD."""
    from usearch_spark.operators.audit import mad_outliers

    vals = [100, 200, 300, 400, 500, 600, 700, 800, 900, 100000]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, cents long")
    r = mad_outliers(df, ["g"], "cents").collect()[0]
    assert r["n"] == 10
    assert r["median"] == 5.5  # (500+600)/2 cents -> dollars
    # dev2 = |2v - 1100|: [900,700,500,300,100,100,300,500,700,198900]
    # sorted -> middle two are 500,500 -> mad4=1000 -> MAD = 2.5 dollars
    assert r["mad"] == 2.5
    assert r["n_outliers"] == 1  # only 100000: 20000*198900 > 44478*1000


def test_simpson_diversity_exact(spark):
    """Uniform keys maximize diversity; a dominated group scores low;
    both replay the exact N2/S2 arithmetic."""
    from usearch_spark.operators.audit import simpson_diversity

    rows = [("u", k) for k in range(10)] + [("d", 0)] * 9 + [("d", 1)]
    df = spark.createDataFrame(rows, "g string, k long")
    got = {r["g"]: r for r in simpson_diversity(df, ["g"], "k").collect()}
    u, d = got["u"], got["d"]
    assert (u["n"], u["n_keys"]) == (10, 10)
    assert u["gini_simpson"] == (100 - 10) / 100
    assert u["effective_keys"] == 10.0
    assert (d["n"], d["n_keys"]) == (10, 2)
    assert d["gini_simpson"] == (100 - 82) / 100
    assert d["effective_keys"] == 100 / 82


def test_benford2_weights_form_a_distribution():
    """Second-digit Benford probabilities: 10 weights summing to 1, with
    the known monotone decline P(0) > P(1) > ... > P(9) and the textbook
    P(d2=0) ~ 0.11968."""
    import __spark_entry__ as E

    w = E._benford2_weights()
    assert len(w) == 10
    assert abs(sum(w) - 1.0) < 1e-12
    assert all(a > b for a, b in zip(w, w[1:]))
    assert abs(w[0] - 0.11968) < 1e-4


def test_nation_hhi_replay(spark):
    """HHI replay on a known market: one monopoly nation (HHI 1) and one
    3-supplier split nation with exact sum-of-squares over R^2."""
    import os
    import tempfile

    import __spark_entry__ as E

    li = [
        (1, 100.00), (1, 50.00),          # nation 0, supplier 1 only
        (2, 60.00), (3, 30.00), (4, 10.00),  # nation 1: 60/30/10 split
    ]
    sup = [(1, 0), (2, 1), (3, 1), (4, 1)]
    nat = [(0, "ALPHA"), (1, "BETA")]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            li, "l_suppkey long, l_extendedprice double"
        ).write.parquet(os.path.join(d, "lineitem.parquet"))
        spark.createDataFrame(
            sup, "s_suppkey long, s_nationkey long"
        ).write.parquet(os.path.join(d, "supplier.parquet"))
        spark.createDataFrame(
            nat, "n_nationkey long, n_name string"
        ).write.parquet(os.path.join(d, "nation.parquet"))
        got = {r["n_name"]: r for r in E.q_nation_hhi(spark, d).collect()}
    assert got["ALPHA"]["hhi"] == 1.0 and got["ALPHA"]["n_suppliers"] == 1
    b = got["BETA"]
    # whole dollars: 60,30,10 -> (3600+900+100)/10000
    assert b["hhi"] == (3600 + 900 + 100) / 10000
    assert b["top_share"] == 60 / 100
    assert b["n_suppliers"] == 3


def test_mix_shift_chi2_replay(spark):
    """Two-sample homogeneity terms replay exactly on a planted shift."""
    import datetime
    import os
    import tempfile

    import __spark_entry__ as E

    rows = []
    early = datetime.datetime(1997, 1, 1)
    late = datetime.datetime(1999, 1, 1)
    # priority A: 30 before / 10 after; priority B: 10 before / 30 after
    rows += [("A", early)] * 30 + [("A", late)] * 10
    rows += [("B", early)] * 10 + [("B", late)] * 30
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "o_orderpriority string, o_orderdate timestamp_ntz"
        ).write.parquet(os.path.join(d, "orders.parquet"))
        got = {
            r["o_orderpriority"]: r
            for r in E.q_audit_mix_shift(spark, d).collect()
        }
    a = got["A"]
    ea = 40 * 40 / 80.0
    ta = (30 - ea) ** 2 / ea + (10 - 40 * 40 / 80.0) ** 2 / (40 * 40 / 80.0)
    assert (a["n_before"], a["n_after"]) == (30, 10)
    assert a["exp_before"] == ea
    assert a["chi2_term"] == ta
