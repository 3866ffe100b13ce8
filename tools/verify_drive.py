"""Drive the driver-contract surface the way the round driver does:
a VANILLA SparkSession (not this repo's tuned session) runs every
registry query at the gate scale factor, DuckDB runs the paired
oracle SQL on the same parquet, and sorted row tuples are compared.

Usage:
    python tools/verify_drive.py                 # attestation window (50)
    python tools/verify_drive.py --all           # every registry query
    python tools/verify_drive.py --names d3_minhash_lsh_pairs,tt8_...
    python tools/verify_drive.py --sf-dir /root/testdata/sf0.01

Exit code is the number of mismatches (0 = green).
"""

from __future__ import annotations

import argparse
import os
import sys


def main() -> int:
    repo_root = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--all", action="store_true", help="drive every query")
    ap.add_argument("--names", default="", help="comma-separated subset")
    ap.add_argument("--window", type=int, default=50,
                    help="prefix size when not --all/--names")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from aws_csp_datapipeline_spark import lifecycle
    from tests.oracle import duck_connection
    from tools.type_parity import (
        column_report,
        duck_canonical_schema,
        spark_canonical_schema,
    )

    print("entry rows:", e.entry(spark).count())
    qs, osql = e.queries(), e.oracle_sql()
    con = duck_connection(args.sf_dir)

    if args.names:
        names = [n for n in args.names.split(",") if n]
    elif args.all:
        names = list(qs)
    else:
        names = list(qs)[: args.window]

    bad = 0
    for name in names:
        try:
            # free the lane's persisted frames and temp dirs after collect
            with lifecycle.scope():
                df = qs[name](spark, args.sf_dir)
                rows = sorted(map(tuple, df.collect()), key=str)
        except Exception as exc:  # a query that cannot run is a failure
            bad += 1
            print(f"{name}: ERROR {type(exc).__name__}: {str(exc)[:200]}")
            continue
        if name in osql:
            rel = con.sql(osql[name])
            # result-TYPE parity first: the driver's hash is
            # type-sensitive (r8: dq9/dq13/mm4 hash-failed on
            # HUGEINT/DECIMAL(38,0) with identical values) and the
            # Python tuple compare below cannot see it
            tmis = list(
                column_report(duck_canonical_schema(rel),
                              spark_canonical_schema(df))
            )
            if tmis:
                bad += 1
                detail = "; ".join(
                    f"{c}: oracle={d} spark={s}" for c, d, s, _ in tmis
                )
                print(f"{name}: TYPE-MISMATCH {detail}")
                continue
            oracle = sorted(rel.fetchall(), key=str)
            if rows != oracle:
                bad += 1
                print(f"{name}: MISMATCH spark={len(rows)} oracle={len(oracle)}")
        else:
            print(f"{name}: rows-only {len(rows)}")
    print(f"checked: {len(names)}, mismatches: {bad}")
    return bad


if __name__ == "__main__":
    sys.exit(main())
