"""spark-submit entry point for the extraction pipeline.

Launched the way the north rule prescribes for cluster runs:

    spark-submit --master local[N] --py-files build/ocr_spark.zip \
        tools/extract_job.py --input /path/pages.parquet --out run.json

On a real cluster ``--master local[N]`` becomes ``--master yarn`` (or
k8s) with ``--num-executors``; nothing else changes — the job reads its
parallelism from the session, not from argv.

Modes:
  --bench      time one extraction pass over the input (after an
               untimed warm-up batch that spawns the Python workers)
               and emit {"cores", "docs", "wall_s", "docs_per_sec"}.
  --run-dir D  production shape instead: resumable lineage-committed
               run via ocr_spark.operators.lineage.run_extraction.
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
    ap.add_argument("--bench", action="store_true")
    ap.add_argument("--run-dir", default=None)
    ap.add_argument("--run-id", default="r1")
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--trials", type=int, default=3,
                    help="timed repetitions; best is reported (VM host "
                    "noise between runs dominates single-shot timings)")
    args = ap.parse_args()

    spark = job_session()
    spark.sparkContext.setLogLevel("WARN")
    cores = spark.sparkContext.defaultParallelism

    from ocr_spark.extract.pipeline import extract_pages

    pages = spark.read.parquet(args.input)
    result: dict = {"cores": cores, "input": args.input}

    if args.bench:
        # Warm-up: run the full stage shape over a tiny slice so JVM JIT,
        # Arrow codepaths and one python worker per core exist before the
        # timed pass (reference analogue: machine bring-up precedes the
        # DAG seed, ocr-driver.c:97-191 vs :225-277).  Also force one
        # full untimed scan so the parquet reader's codegen is compiled
        # AND the corpus sits in the page cache for both sizes alike —
        # without it the first timed pass pays cold-read + scan-JIT and
        # min-of-N needs more trials to shed it (decomposition probe:
        # warm 16c walls are 7.8-8.0 s where cold-start runs scatter
        # 10.8-18.6 s on this shared host).
        from pyspark.sql import functions as _F

        pages.agg(_F.sum(_F.length("html"))).collect()
        warm = pages.limit(32 * cores)
        extract_pages(warm, num_partitions=cores).count()

        walls = []
        for _ in range(max(1, args.trials)):
            t0 = time.perf_counter()
            n = extract_pages(pages, num_partitions=args.partitions).count()
            walls.append(time.perf_counter() - t0)
        import statistics

        wall = min(walls)
        wall_med = statistics.median(walls)
        result.update(
            docs=n,
            wall_s=round(wall, 3),
            wall_median_s=round(wall_med, 3),
            walls=[round(w, 3) for w in walls],
            docs_per_sec=round(n / wall, 2),
            docs_per_sec_median=round(n / wall_med, 2),
            partitions=args.partitions,
        )
    else:
        if not args.run_dir:
            raise SystemExit("need --bench or --run-dir")
        from ocr_spark.operators.lineage import run_extraction

        # salt ~ 4 buckets/core in each occupied size class so the run's
        # parallelism and restart granularity scale with the cluster
        stats = run_extraction(
            spark, pages, args.run_dir, args.run_id, n_salt=max(8, cores * 4)
        )
        result.update(stats)

    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
