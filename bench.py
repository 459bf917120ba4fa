"""Benchmark driver: times every registered catalog query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], writes the per-query walls to
BENCH/bench_detail.json and prints a short summary as its last line:
  {"metric": ..., "value": N, "unit": "sec", "sf": ..., "cores": ...,
   "x01_extract_docs_per_sec": ..., "n_queries": ..., "detail": path}

Each query is forced through the ``noop`` sink: every output column is
computed and nothing reaches the driver. Rounds r01-r05 forced with
count(), which let Catalyst prune unreferenced projection columns, so
their walls for pure-projection entries (per-doc selects with no
agg/join, e.g. t13) were lower bounds; those walls now rise, and the
total is not comparable with the r01-r05 totals.

x01_extract_docs_per_sec times the committed extraction run
(operators.lineage.run_extraction: scan -> salted size-bucket
repartition -> extract -> parquet write -> marker read-back) over
$SPARK_GRAFT_EXTRACT_DOCS fixture pages (default 16000) into a fresh
scratch dir, best of 3. Rounds r01-r05 timed a cached-input
extract_pages count() instead, so x01 is not comparable with them
either. Disable with SPARK_GRAFT_BENCH_EXTRACT=0.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from ocr_spark.plans import QUERIES, load_all
from ocr_spark.session import build_session, default_parallelism

DETAIL = "BENCH/bench_detail.json"  # repo-relative


def extraction_throughput(spark) -> float:
    """Committed-run docs/s over the fixture pages, best of 3 fresh runs."""
    from ocr_spark.fixtures import pages_df
    from ocr_spark.operators.lineage import run_extraction
    from ocr_spark.scratch import scratch_dir

    n_docs = int(os.environ.get("SPARK_GRAFT_EXTRACT_DOCS", "16000"))
    staged = scratch_dir(spark, "x01_pages")
    pages_df(spark, n_docs).write.mode("overwrite").parquet(staged)
    pages = spark.read.parquet(staged)
    best = 0.0
    for _ in range(3):  # shared-host noise perturbs single shots ±30%
        out = scratch_dir(spark, "x01_run")
        t0 = time.perf_counter()
        rows = run_extraction(spark, pages, out, run_id="bench")["rows"]
        assert rows == n_docs
        best = max(best, rows / (time.perf_counter() - t0))
    return round(best, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = default_parallelism()
    load_all()
    spark = build_session("ocr_spark_bench", cores=cores)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0

    # Generic session warm-up (parquet reader, codegen, shuffle paths) so
    # the first timed query is not charged one-time JVM startup; no
    # catalog query's own plan is pre-run.
    from pyspark.sql import functions as F

    warm = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    warm.limit(10_000).groupBy("l_returnflag").agg(F.sum("l_quantity")).count()

    # two timed passes per query, min reported: single shots on this
    # shared-host VM vary ±20% (BENCH/BASELINE.md methodology); min-of-N
    # is applied uniformly so totals are comparable across runs
    timings: dict[str, float] = {}
    for name, fn in QUERIES.items():
        # streaming entries drain a full Structured Streaming job per
        # pass and are excluded from the comparable total — one pass
        # keeps the whole bench bounded
        passes = 1 if name.startswith("s") else 2
        best = float("inf")
        for _ in range(passes):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    extract_rate = None
    if os.environ.get("SPARK_GRAFT_BENCH_EXTRACT", "1") == "1":
        extract_rate = extraction_throughput(spark)
    spark.stop()

    # the total sums the q/d/t/e prefixes only (same rule since round
    # 1); s/x/p/g/w timings are reported alongside
    total = round(sum(v for k, v in timings.items() if k.startswith(("q", "d", "t", "e"))), 3)
    summary = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cores": cores,
        "x01_extract_docs_per_sec": extract_rate,
        "n_queries": len(timings),
        "detail": DETAIL,
    }
    with open(os.path.join(REPO, DETAIL), "w") as fh:
        json.dump({**summary, "queries": timings}, fh, indent=1)
        fh.write("\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
