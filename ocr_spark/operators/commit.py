"""Write-data-then-marker commit protocol of the resumable writers (x09
extraction buckets, p06 training shards).

The Spark re-expression of two reference mechanisms (SURVEY.md §1.3):
  - IDEM event "first satisfy wins" (`src/event/hc/hc-event.c:202-208`)
    -> write-once commit markers keyed (run_id, key), sealed after the
    data (the satisfy-then-seal CAS order in `hc-event.c:155-172`);
  - finish latch that never refires (`src/event/hc/hc-event.c:223-259`)
    -> a complete run's re-run processes nothing.

One run over ``rows`` (every row carries its partition ``key``):
  1. committed = marker keys for run_id           (broadcast)
  2. todo      = rows left_anti committed        (the restart); ``limit``
     keeps the first K todo keys in key order    (kill simulation)
  3. write todo -> dynamic partition overwrite of data/key=...
     (re-running an uncommitted key overwrites its partial output:
     idempotent at any kill point)
  4. read BACK only the todo partitions -> caller's marker aggregate
     -> anti-join markers already on disk (IDEM) -> append
     (markers attest bytes on disk, not bytes in memory)

Only counts reach the Python driver: the committed and todo key sets
stay inside the JVM plan as a broadcast and a scalar subquery (each
held once by the JVM driver, as any broadcast side is).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def read_markers(spark: SparkSession, path: str) -> DataFrame | None:
    """The marker table, or None when its directory does not exist yet.

    Any read error propagates: a corrupt or unreadable table read as
    "nothing committed" would recompute committed keys and append
    duplicate markers for them."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return spark.read.parquet(path) if fs.exists(jpath) else None


def committed_keys(
    spark: SparkSession,
    marker_path: str,
    run_id: str,
    marker_key: str,
    key: str | None = None,
) -> DataFrame | None:
    """Distinct marker keys committed under ``run_id``, named ``key``
    (default ``marker_key``); None before the first commit."""
    markers = read_markers(spark, marker_path)
    if markers is None:
        return None
    return (
        markers.filter(F.col("run_id") == run_id)
        .select(F.col(marker_key).alias(key or marker_key))
        .distinct()
    )


def commit_run(
    spark: SparkSession,
    rows: DataFrame,
    key: str,
    data_path: str,
    marker_path: str,
    run_id: str,
    markers: Callable[[DataFrame], DataFrame],
    produce: Callable[[DataFrame], DataFrame] = lambda todo: todo,
    marker_key: str | None = None,
    limit: int | None = None,
) -> tuple[int, int]:
    """Execute (or resume) one run; returns (keys processed, rows read back).

    ``produce`` turns the todo rows into the data written under
    ``data_path`` (partitioned by ``key``). ``markers`` turns the rows
    read back from disk into one marker row per key, named
    ``marker_key``; run_id and committed_at are added here."""
    marker_key = marker_key or key
    committed = committed_keys(spark, marker_path, run_id, marker_key, key)
    todo = rows
    if committed is not None:
        todo = rows.join(F.broadcast(committed), key, "left_anti")
    todo_keys = todo.select(key).distinct()
    if limit is not None:
        todo_keys = todo_keys.orderBy(key).limit(limit)
    # the todo key set as ONE row, evaluated once: the count, the limit's
    # filter and the read-back's partition filter all reuse it
    todo_set = todo_keys.agg(F.collect_set(key).alias("keys")).localCheckpoint()
    n_keys = todo_set.select(F.size("keys")).first()[0]
    if not n_keys:
        return 0, 0
    in_todo = F.array_contains(todo_set.scalar(), F.col(key))
    if limit is not None:
        todo = todo.filter(in_todo)

    # 1) data first — dynamic overwrite touches only the todo keys
    data = produce(todo)
    (
        data.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(key)
        .parquet(data_path)
    )

    # 2) markers second, derived from what is actually on disk; in_todo
    # is a partition filter there, so the scan skips committed keys
    written = spark.read.schema(data.schema).parquet(data_path).filter(in_todo)
    read_back = Observation()
    new = markers(written.observe(read_back, F.count(F.lit(1)).alias("rows")))
    # IDEM guard: never double-write a marker for the same (run, key)
    existing = committed_keys(spark, marker_path, run_id, marker_key)
    if existing is not None:
        new = new.join(F.broadcast(existing), marker_key, "left_anti")
    new.select(
        F.lit(run_id).alias("run_id"),
        "*",
        F.current_timestamp().alias("committed_at"),
    ).write.mode("append").parquet(marker_path)
    return n_keys, read_back.get["rows"]
