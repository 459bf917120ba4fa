"""Whale-page batch-byte bound (SURVEY.md §7 risk 2): a giant page must
not inflate the Arrow batches handed to the extract-stage Python worker
— the analogous reference failure is the workpile deque-overflow assert
(`/root/reference/src/workpile/hc/deque.c:35-37`, a fixed-capacity
structure dying on an oversized burst).

The guard is the session's Arrow batch sizing
(spark.sql.execution.arrow.maxBytesPerBatch + maxRecordsPerBatch,
ocr_spark/session.py): this test drives the REAL extract path —
size-bucket repartition then mapInPandas — over a corpus with one
~48 MB page among thousands of small ones and asserts, from inside the
Python worker, that (a) no batch ever exceeds cap + one page (a single
row can never be split, so the bound is max(cap, largest_page)), and
(b) the whale arrives effectively alone, not glued to a full batch of
small pages."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

WHALE_BYTES = 48 * 1024 * 1024
SMALL_BYTES = 64 * 1024
N_SMALL = 2000
CAP_BYTES = 64 * 1024 * 1024  # session.py maxBytesPerBatch


def test_whale_page_batch_bytes_bounded(spark):
    from ocr_spark.operators.partitioning import size_bucket_repartition

    whale_bytes = WHALE_BYTES

    def probe_batches(batches):
        for pdf in batches:
            total = int(pdf["html"].map(len).sum())
            yield pd.DataFrame(
                {"batch_bytes": [total], "n_rows": [len(pdf)],
                 "has_whale": [bool((pdf["html"].map(len) >= whale_bytes).any())]}
            )

    small = spark.range(N_SMALL).select(
        F.concat(F.lit("http://small.example/p"), F.col("id")).alias("url"),
        F.repeat(F.lit("x"), SMALL_BYTES).cast("binary").alias("html"),
    )
    whale = spark.range(1).select(
        F.lit("http://whale.example/big").alias("url"),
        F.repeat(F.lit("y"), WHALE_BYTES).cast("binary").alias("html"),
    )
    corpus = small.unionByName(whale)

    bucketed = size_bucket_repartition(corpus)
    stats = bucketed.select("url", "html").mapInPandas(
        probe_batches, "batch_bytes long, n_rows int, has_whale boolean"
    ).collect()

    assert sum(r.n_rows for r in stats) == N_SMALL + 1
    # the mechanism's guarantee: a batch is cut once it reaches the byte
    # cap, and a single row is never split — so peak batch memory is
    # bounded by cap + one max-size row, at ANY corpus scale.  Executors
    # must be sized for cap + max_page; without the cap a batch could
    # carry maxRecordsPerBatch × max_page (256 × 48 MB = 12 GB).
    hard_bound = CAP_BYTES + WHALE_BYTES
    for r in stats:
        assert r.batch_bytes <= hard_bound, (
            f"batch of {r.n_rows} rows carries {r.batch_bytes}B > {hard_bound}B"
        )
    # small-only batches must respect the cap itself (one small row of
    # overshoot), proving the cut is byte-driven, not row-count-driven
    for r in stats:
        if not r.has_whale:
            assert r.batch_bytes <= CAP_BYTES + SMALL_BYTES
    whale_batches = [r for r in stats if r.has_whale]
    assert len(whale_batches) == 1
    # ... and the whale batch cannot ALSO carry a full cap of small
    # pages: its non-whale payload stays under the cap
    assert whale_batches[0].batch_bytes - WHALE_BYTES <= CAP_BYTES
