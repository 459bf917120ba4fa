"""Local mirror of the driver's correctness gate: run every registered
catalog query on Spark AND its DuckDB oracle on the same parquet tables.

Usage: python tools/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from ocr_spark.oracle import gate, register_duckdb_views
from ocr_spark.plans import ORACLE, QUERIES, load_all
from ocr_spark.session import build_session
from ocr_spark.sources.io import TESTDATA_TABLES


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    load_all()
    spark = build_session("oracle-compare")
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir, TESTDATA_TABLES)
    failures = 0
    for name, fn in sorted(QUERIES.items()):
        if only and name not in only:
            continue
        try:
            row, mismatch = gate(fn(spark, sf_dir), con, ORACLE.get(name))
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}")
            failures += 1
            continue
        if mismatch:
            print(f"FAIL {name}: {mismatch}")
            failures += 1
        elif row["err"] == "no_oracle":
            print(f"ok   {name}: rows-only ({row['spark_rows']} rows)")
        else:
            print(f"ok   {name}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
