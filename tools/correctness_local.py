"""Local twin of the driver's correctness gate, emitting the SAME row
format as CORRECTNESS_r{N}.json for EVERY catalog entry (the driver
samples only the first 50 of ``queries()`` — observed in rounds 1-2 —
so entries beyond the cap get their driver-format evidence here).

Usage: python tools/correctness_local.py [sf_dir] [out_json]
Writes out_json (default CORRECTNESS_local.json at the repo root) with
one row per catalog entry:
  {"rows_match": bool, "schema_match": bool, "hash_match": bool,
   "spark_rows": n, "oracle_rows": n, "err": null}
no-oracle entries record {"spark_rows": n, "err": "no_oracle"} exactly
like the driver does.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from ocr_spark.oracle import GATE_ROW, gate, register_duckdb_views
from ocr_spark.plans import ORACLE, QUERIES, load_all
from ocr_spark.session import build_session
from ocr_spark.sources.io import TESTDATA_TABLES


def gate_row(spark, con, name: str, sf_dir: str) -> dict:
    try:
        return gate(QUERIES[name](spark, sf_dir), con, ORACLE.get(name))[0]
    except Exception as e:  # noqa: BLE001
        return dict(GATE_ROW, err=f"{type(e).__name__}: {e}"[:300])


SF_DIR = "/root/testdata/sf0.01"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "CORRECTNESS_local.json")
    load_all()
    spark = build_session("correctness-local")
    con = duckdb.connect()
    register_duckdb_views(con, sf_dir, TESTDATA_TABLES)
    out: dict[str, dict] = {}
    bad = 0
    for name in QUERIES:
        t0 = time.perf_counter()
        out[name] = gate_row(spark, con, name, sf_dir)
        r = out[name]
        green = r["hash_match"] or r["err"] == "no_oracle"
        if not green:
            bad += 1
        print(
            f"{'ok  ' if green else 'FAIL'} {name:28s} "
            f"{time.perf_counter() - t0:6.1f}s {r['err'] or ''}",
            flush=True,
        )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {out_path}: {len(out)} rows, {bad} non-green")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
