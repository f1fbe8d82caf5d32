"""Spot-check named registry queries against their DuckDB oracles.

Usage: python tools/check_queries.py name1 name2 ... [--sf-dir DIR ...]

Same strict compare as tests/test_oracle.py / tools/local_gate.py, but for
an explicit subset — the fast inner loop when adding queries (the full
gate takes minutes; this takes seconds per query).
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument(
        "--sf-dir",
        action="append",
        default=None,
        help="repeatable; default sf0.001 and sf0.01",
    )
    args = ap.parse_args()
    sf_dirs = args.sf_dir or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    import duckdb

    from blazingsql_spark.queries.registry import TABLES, all_queries
    from blazingsql_spark.session import get_spark
    from tests.conftest import compare_frames

    spark = get_spark(app_name="check_queries", master="local[8]")
    specs = all_queries()
    bad = 0
    for sf in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        for name in args.names:
            if name not in specs:
                print(f"FAIL unknown query name: {name}")
                bad += 1
                continue
            spec = specs[name]
            try:
                got = spec.fn(spark, sf).toPandas()
                if spec.oracle is None:
                    print(f"{sf} {name}: NO-ORACLE rows={len(got)}")
                    continue
                exp = con.execute(spec.oracle).fetchdf()
            except Exception as e:  # noqa: BLE001
                print(f"{sf} {name}: ERR {e!r}"[:300])
                bad += 1
                continue
            try:
                compare_frames(got, exp, name)
                print(f"{sf} {name}: PASS {got.shape}")
            except AssertionError as e:
                print(f"{sf} {name}: DIFF")
                print(str(e)[:500])
                bad += 1
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
