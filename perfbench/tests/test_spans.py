"""Self-test of the benchmark's span tracer: the job/stage/task counts it
reads back must see a single extra Spark action, which wall time alone
cannot resolve.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from usearch_spark.session import get_spark

    # the repository's test session (tests/conftest.py): a pytest run from the
    # root collects this file first, and every later test reuses its session
    return get_spark("tests", cpus=8, shuffle_partitions=8)


def _query(spark):
    return spark.range(1000, numPartitions=2).selectExpr("id % 7 AS k").collect()


def _query_with_extra_action(spark):
    _query(spark)
    spark.range(10, numPartitions=2).collect()


def test_extra_action_adds_exactly_one_job(spark):
    tr = Tracer(spark)
    with tr.span("plain"):
        _query(spark)
    with tr.span("extra"):
        _query_with_extra_action(spark)
    tr.collect()
    plain, extra = tr.spans
    assert plain.jobs >= 1
    assert extra.jobs - plain.jobs == 1
    assert extra.tasks - plain.tasks == 2  # one task per partition of the extra scan


def test_nested_spans_split_self_and_inclusive_counts(spark):
    tr = Tracer(spark)
    with tr.span("outer") as outer:
        _query(spark)
        with tr.span("inner") as inner:
            _query(spark)
    tr.collect()
    assert inner.parent == outer.id
    assert outer.jobs == inner.jobs
    assert tr.inclusive(outer)["jobs"] == 2 * inner.jobs
    assert 0 <= tr.self_time(outer) <= outer.wall - inner.wall + 1e-6
    assert tr.self_time(outer, minus=("other",)) == outer.wall
    assert tr.self_time(outer, minus=("inner",)) == tr.self_time(outer)


def test_patch_rebinds_imported_names_and_uninstall_restores(spark):
    import usearch_spark.engine as engine
    import usearch_spark.plans.pagerank as pagerank

    orig = pagerank.pagerank
    tr = Tracer(spark)
    tr.patch(pagerank, "pagerank", "plans.pagerank.pagerank")
    assert engine.pagerank is pagerank.pagerank is not orig
    tr.uninstall()
    assert engine.pagerank is pagerank.pagerank is orig
