"""Per-partition lineage + idempotent partition-grain restart.

The Spark re-expression of three reference mechanisms (SURVEY.md §1.3):
  - statistics framework (`/root/reference/src/inc/ocr-statistics.h:27-66`)
    -> per-bucket metrics rows (input count, checksum, wall time);
  - IDEM event "first satisfy wins" (`src/event/hc/hc-event.c:202-208`)
    -> write-once commit markers keyed (run_id, partition_id);
  - finish-latch countdown (`src/event/hc/hc-event.c:223-259`)
    -> run complete ⇔ every size class has a marker per bucket
       (run_rollup_complete).

The write-data-then-marker protocol (committed markers -> todo buckets
-> dynamic-overwrite data write -> read-back -> IDEM markers) is
``operators.commit``'s; this module supplies the extract step and the
per-bucket metrics aggregate. A killed run resumes recomputing exactly
the uncommitted buckets (FIXTURES.md §3 restart test). Each marker also
records the salt count its bucket id was computed with, and a resume
under another one is refused (_assert_same_buckets).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.extract.pipeline import _extract_batches, EXTRACT_DDL, EXTRACT_INPUT
from ocr_spark.operators import partitioning
from ocr_spark.operators.commit import commit_run, committed_keys, read_markers


def _metrics_path(out_dir: str) -> str:
    return os.path.join(out_dir, "metrics")


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, "extracted")


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return read_markers(spark, _metrics_path(out_dir))


def assert_unique_urls(pages: DataFrame) -> None:
    """Input contract (FIXTURES §4): duplicate urls must fail fast."""
    dup = (
        pages.groupBy("url").count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise ValueError(f"duplicate url in input: {dup[0]['url']!r}")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    max_buckets: int | None = None,
) -> dict:
    """Execute (or resume) one extraction run. ``max_buckets`` processes
    only the first K uncommitted buckets — the test hook that simulates a
    kill between partition commits. The caller owns the input contract
    (:func:`assert_unique_urls`); tools/extract_job.py checks it."""
    _assert_same_buckets(spark, out_dir, run_id)

    # bucket = restart granularity; it depends on (url, html bytes) only,
    # so a resume at another core count finds every committed url in the
    # bucket its marker names
    bucketed = partitioning.size_bucket_repartition(pages.select(*EXTRACT_INPUT))

    n_buckets, n_rows = commit_run(
        spark,
        bucketed,
        key="bucket",
        data_path=_data_path(out_dir),
        marker_path=_metrics_path(out_dir),
        run_id=run_id,
        produce=lambda todo: todo.mapInPandas(_extract_batches, schema=EXTRACT_DDL),
        markers=_bucket_metrics,
        marker_key="partition_id",
        limit=max_buckets,
    )
    return {"run_id": run_id, "buckets_processed": n_buckets, "rows": n_rows}


def _assert_same_buckets(spark: SparkSession, out_dir: str, run_id: str) -> None:
    """A marker names a bucket, and which urls a bucket holds depends on
    the salt count, so ``run_id`` may only resume under the salt count
    its markers record. Markers without the ``salts`` column predate the
    record (their salt count is unknown) and fail the same way."""
    path = _metrics_path(out_dir)
    if read_markers(spark, path) is None:
        return
    markers = (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .filter(F.col("run_id") == run_id)
    )
    salts = F.col("salts") if "salts" in markers.columns else F.lit(None)
    other = markers.filter(~salts.eqNullSafe(partitioning.DEFAULT_SALT))
    found = other.select(salts.alias("salts")).limit(1).collect()
    if found:
        raise ValueError(
            f"run {run_id!r} in {out_dir} was committed with "
            f"salts={found[0]['salts']}, this code buckets with "
            f"salts={partitioning.DEFAULT_SALT}: resuming would duplicate or "
            "drop documents; start a new run id in a new run dir"
        )


def _bucket_metrics(written: DataFrame) -> DataFrame:
    return written.groupBy(F.col("bucket").cast("int").alias("partition_id")).agg(
        F.count(F.lit(1)).alias("input_count"),
        F.expr("bit_xor(xxhash64(url, extracted_text))").alias("checksum"),
        (F.sum("proc_us") / F.lit(1000)).cast("long").alias("wall_time_ms"),
        F.lit(partitioning.DEFAULT_SALT).alias("salts"),
    )


def size_class_latches(
    spark: SparkSession, out_dir: str, run_id: str, pages: DataFrame
) -> DataFrame:
    """Nested finish scopes: one latch per size class, rolled up from the
    bucket-grain markers — the reference's finish-EDTs nest, with a
    child scope's completion counting down the parent's latch
    (`/root/reference/src/task/hc/hc-task.c:169-215`); round 1 had only
    the flat run-level latch.

    ``pages`` are bucketed by the run's own plan and each bucket's class
    scope is partitioning.bucket_size_class. Returns one row per size
    class present in the input: (size_class, n_expected, n_committed,
    complete) — the run-level latch is the conjunction, which
    run_rollup_complete() evaluates in the same single plan.

    Operationally this is the restart planner's unit of progress: a
    resume can report/schedule per size class (big-page classes finish
    last), and a monitoring layer alerts on a class that stalls while
    others drain.
    """
    expected = (
        partitioning.size_bucket_repartition(pages)
        .select("bucket")
        .distinct()
        .groupBy(partitioning.bucket_size_class(F.col("bucket")).alias("size_class"))
        .agg(F.count(F.lit(1)).alias("n_expected"))
    )
    committed = committed_keys(spark, _metrics_path(out_dir), run_id, "partition_id")
    if committed is None:
        committed = spark.createDataFrame([], "size_class int, n_committed long")
    else:
        committed = committed.groupBy(
            partitioning.bucket_size_class(F.col("partition_id")).alias("size_class")
        ).agg(F.count(F.lit(1)).alias("n_committed"))
    return (
        expected.join(committed, "size_class", "left")
        .select(
            "size_class",
            "n_expected",
            F.coalesce("n_committed", F.lit(0)).alias("n_committed"),
            (F.coalesce("n_committed", F.lit(0)) == F.col("n_expected")).alias(
                "complete"
            ),
        )
        .orderBy("size_class")
    )


def run_rollup_complete(
    spark: SparkSession, out_dir: str, run_id: str, pages: DataFrame
) -> bool:
    """Run-level finish = every size-class latch closed (one plan)."""
    latches = size_class_latches(spark, out_dir, run_id, pages)
    return latches.agg(F.min(F.col("complete").cast("int"))).collect()[0][0] == 1
