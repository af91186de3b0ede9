"""Correctness replica over the DATAFRAME fetch path.

tools/check_correctness.py fetches DuckDB results with fetchall (Python
scalars).  A driver that fetches through pandas/arrow instead
materializes some DuckDB types differently — HUGEINT window sums became
float64/object and hashed red in round 9 while the fetchall replica
passed.  This variant runs the same compare with BOTH engines fetched
as pandas frames (duckdb ``rel.df()`` vs Spark ``toPandas``), then
canonicalizes numpy/pandas scalars, so materialization-level
divergences surface locally before a driver gate does.

Usage:  python tools/check_fetchdf.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usearch_spark.schema import TESTDATA_TABLES
from usearch_spark.session import get_spark


def canon_pd(v):
    """Canonicalize a pandas/numpy cell to the fetchall-equivalent form."""
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL" if not isinstance(v, float) else "NaN"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        # deliberately STRICTER than check_correctness.canon: an integral
        # float is NOT folded to an int, so an int64-vs-float64 dtype
        # divergence (e.g. an uncast HUGEINT materializing as float64)
        # hashes differently — the round-9 driver-red class
        return repr(f)
    if isinstance(v, (np.bool_, bool)):
        return str(int(bool(v)))
    if isinstance(v, pd.Timestamp):
        return str(v.to_pydatetime())
    if isinstance(v, np.datetime64):
        return str(pd.Timestamp(v).to_pydatetime())
    if isinstance(v, datetime.datetime):
        return str(v)
    if isinstance(v, np.ndarray):
        return str([canon_pd(x) for x in v.tolist()])
    if isinstance(v, list):
        return str([canon_pd(x) for x in v])
    return str(v)


def frame_hash(df) -> str:
    cols = list(df.columns)
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    import hashlib

    mat = sorted(tuple(canon_pd(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for row in mat:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("fetchdf", cpus=8, shuffle_partitions=8)
    qs = E.queries()
    oracles = E.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name must FAIL, not silently filter to zero queries
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        return 1
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            # rows-only queries (streaming/stateful) have no oracle_sql —
            # a full sweep must skip them like check_correctness.py does,
            # not report a KeyError as an oracle FAIL
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL {name}: oracle error: {exc}")
            failures.append(name)
            continue
        rows_ok = len(spdf) == len(odf)
        cols_ok = sorted(spdf.columns) == sorted(odf.columns)
        sh, oh = frame_hash(spdf), frame_hash(odf)
        ok = rows_ok and cols_ok and sh == oh
        status = "PASS" if ok else "FAIL"
        detail = "" if ok else f" hash {sh} vs {oh} rows {len(spdf)}/{len(odf)}"
        print(f"{status} {name}: ({time.time() - t0:.1f}s){detail}")
        if not ok:
            failures.append(name)
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
