"""spark-submit entry point for the extraction pipeline.

Launched the way the north rule prescribes for cluster runs:

    spark-submit --master local[N] --py-files build/ocr_spark.zip \
        tools/extract_job.py --input /path/pages.parquet \
        --run-dir /path/run --run-id r1 --out run.json

On a real cluster ``--master local[N]`` becomes ``--master yarn`` (or
k8s) with ``--num-executors``; nothing else changes — the job reads no
parallelism from argv or from the session.

The job is one resumable, lineage-committed run
(ocr_spark.operators.lineage.run_extraction) into ``--run-dir``. Its
buckets depend only on (url, html bytes), so a killed run may be
resumed with the same ``--run-dir``/``--run-id`` on any number of
cores: it processes exactly the uncommitted buckets, and a complete
run's re-run processes none. A run dir whose markers record another
salt count (or none) is refused with a ValueError before anything is
written, and so is an input with a duplicate url (FIXTURES.md §4: the
job fails fast, naming the url, before the timed run). The result
line is the run's stats plus
``cores``, ``wall_s`` and ``docs_per_sec`` (rows committed by this call
over its wall).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def job_session() -> SparkSession:
    """spark-submit owns master and cluster conf; getOrCreate attaches to
    it and applies the session-wide settings of ocr_spark.session.build_session."""
    from ocr_spark.session import CONF

    return SparkSession.builder.appName("ocr_spark_extract").config(map=CONF).getOrCreate()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet dir")
    ap.add_argument("--out", default=None, help="write result JSON here")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--run-id", default="r1")
    args = ap.parse_args()

    spark = job_session()
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.operators.lineage import assert_unique_urls, run_extraction

    pages = spark.read.parquet(args.input)
    assert_unique_urls(pages)
    t0 = time.perf_counter()
    stats = run_extraction(spark, pages, args.run_dir, args.run_id)
    wall = time.perf_counter() - t0
    result = {
        "cores": spark.sparkContext.defaultParallelism,
        "input": args.input,
        **stats,
        "wall_s": round(wall, 3),
        "docs_per_sec": round(stats["rows"] / wall, 2),
    }

    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
