"""SparkSession construction with scale-aware defaults.

Mirrors the reference's machine bring-up (``/root/reference/src/driver/
ocr-driver.c:97-191`` builds workers/schedulers/allocators from an INI
machine description); here the "machine description" is a conf dict and
Spark owns the runtime.

Defaults are chosen for correctness-portability between local[N] testing
and a large cluster:
  - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  - Arrow transport on for every Python crossing (no per-row Python)
  - UTC session timezone (DuckDB-oracle comparability)
  - shuffle partitions ~ cores locally; on a real cluster this is
    overridden by AQE's coalescing anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Max rows per Arrow batch handed to pandas UDFs. Pages can reach ~10 MB
# (FIXTURES.md skew tail), so keep batches small enough that a batch of
# max-size pages fits comfortably in the Python worker.
ARROW_BATCH_ROWS = 256


# Session-wide settings, applied by build_session and by the spark-submit
# entry point (tools/extract_job.py) alike.
CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
    # Byte cap is the real giant-page guard: a batch of 10 MB skew-tail
    # pages is cut at ~6 rows regardless of the row cap, so Python
    # worker memory stays bounded at any corpus scale.
    "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # A committed extraction run writes one directory per bucket, at most
    # 11 size classes x 16 salts (operators.partitioning). Above this many
    # paths Spark lists them with a job of one task per directory, which
    # cost ~0.3 s of a 3.3 s 6,000-page run at 44 buckets on 4 cores.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "256",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(map={**CONF, **(extra_conf or {})})
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
