"""Salted, size-bucketed repartitioning — the skew defusal the north rule
names (BASELINE.json: "salted, size-bucketed repartitioning on (url hash,
html byte-length)").

Why: one 10 MB page in a batch of 4 KB pages serializes a worker (the
reference's fixed 128-slot deque overflow is the same failure mode,
`/root/reference/src/workpile/hc/deque.c:35-37`). Hash-salting alone
balances row COUNTS; extraction cost scales with BYTES, so rows are
bucketed by log2(byte-length) x salt: each shuffle partition then holds
documents of comparable unit cost, and AQE can coalesce the small ones.

At cluster scale the same bucket column doubles as the lineage /
commit-marker partition key (operators.lineage), so restart granularity
and shuffle granularity coincide — exactly the reference's finish-latch
scope = scheduling scope coupling.

One policy, fixed: ``DEFAULT_SALT`` salts per size class and an
unpinned ``repartition("bucket")``. ``size_bucket_repartition`` is the
only extraction plan (batch, committed run and stream all call it), so
a bucket id depends on (url, payload bytes) alone, never on the
cluster: a run resumed at any core count maps every url to the bucket
its markers name. The committed run records the salt count in its
markers and refuses to resume under another one
(operators.lineage._assert_same_buckets).

The task count is left to AQE, which coalesces the exchange towards
total bytes / default parallelism (1 MiB floor), so it follows both the
cores and the corpus: 6,000 fixture pages ran as 3 tasks at local[4],
48,000 as 18 at local[16] (200 shuffle partitions). 16 salts give the
dominant size class of the fixture corpus (92 % of its pages) 16
buckets, so no bucket carries much more than 6 % of the extract
work. Each bucket is also one output directory and one marker row,
costing about 30 ms to write on a 4-core host, so 32 or 64 salts made a
6,000-page committed run 25-40 % slower.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16
# log2 size classes: <=4 KiB, ..., >=4 MiB lumped into the top class
MIN_LOG2 = 12
MAX_LOG2 = 22


def _size_bucket_col(url: Column, payload: Column) -> Column:
    """bucket = size_class * DEFAULT_SALT + xxhash64(url) % DEFAULT_SALT."""
    nbytes = F.coalesce(F.octet_length(payload), F.lit(0))
    log2 = F.ceil(F.log2(F.greatest(nbytes, F.lit(1))))
    size_class = F.least(
        F.greatest(log2, F.lit(MIN_LOG2)), F.lit(MAX_LOG2)
    ) - F.lit(MIN_LOG2)
    salt = F.pmod(F.xxhash64(url), F.lit(DEFAULT_SALT))
    return (size_class * DEFAULT_SALT + salt).cast("int")


def bucket_size_class(bucket: Column) -> Column:
    """The size class a bucket id belongs to (its finish-latch scope)."""
    return (bucket / DEFAULT_SALT).cast("int")


def size_bucket_repartition(df: DataFrame) -> DataFrame:
    """The extraction plan: df (url, html, ...) -> df + bucket,
    hash-repartitioned on bucket (unpinned, so AQE may coalesce)."""
    return df.withColumn(
        "bucket", _size_bucket_col(F.col("url"), F.col("html"))
    ).repartition("bucket")


def skew_report(df: DataFrame, payload_col: str = "html") -> DataFrame:
    """Byte-volume histogram per size class — the diagnostic for sizing
    the Arrow batch caps (ocr_spark.session) at a new corpus."""
    nbytes = F.coalesce(F.octet_length(payload_col), F.lit(0))
    log2 = F.ceil(F.log2(F.greatest(nbytes, F.lit(1)))).alias("log2_bytes")
    return (
        df.select(log2, nbytes.alias("nbytes"))
        .groupBy("log2_bytes")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nbytes").alias("total_bytes"),
            F.max("nbytes").alias("max_bytes"),
        )
        .orderBy("log2_bytes")
    )
