"""Replica of the driver's correctness gate on a truly VANILLA SparkSession.

Unlike tools/check_correctness.py (which uses get_spark's UTC/Arrow/AQE
session), this builds the session exactly the way the driver does:
``SparkSession.builder.getOrCreate()`` with no custom confs, so any
environment sensitivity (session timezone, ANSI casts, Arrow collection)
shows up here before it shows up in CORRECTNESS_r{N}.json.

Usage:  python tools/check_vanilla.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from usearch_spark.schema import TESTDATA_TABLES
from tools.check_correctness import canon, table_hash


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    spark = SparkSession.builder.master("local[8]").appName("vanilla").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows={len(srows)} (no oracle)")
            continue
        res = con.sql(oracles[name])
        ocols = res.columns
        orows = res.fetchall()
        ok_rows = len(srows) == len(orows)
        ok_cols = sorted(scols) == sorted(ocols)
        sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
        ok_hash = sh == oh
        status = "PASS" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(f"{status} {name}: rows {len(srows)}/{len(orows)} hash={'ok' if ok_hash else 'MISMATCH'}")
        if status == "FAIL":
            failures.append(name)
            if ok_cols and ok_rows and not ok_hash:
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                smat = sorted(tuple(canon(r[i]) for i in order) for r in srows)
                omat = sorted(tuple(canon(r[i]) for i in order_o) for r in orows)
                shown = 0
                for a, b in zip(smat, omat):
                    if a != b and shown < 5:
                        print(f"    spark:  {a}\n    duckdb: {b}")
                        shown += 1
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
