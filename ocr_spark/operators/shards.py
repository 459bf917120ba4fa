"""p06: training-shard writer — the terminal stage of the curation
funnel (extract → filter → dedup → tokenize → pack → SHARD), the one
end the r04 verdict named missing ("Next round" #6).

A training job consumes the corpus as numbered shard files of a fixed
token budget, so the writer must be (a) deterministic — shard ids and
contents are a pure function of the packed corpus, never of execution
order — and (b) resumable — a killed run re-writes only uncommitted
shards (the x09 write-data-then-marker protocol at shard grain,
reference analogue: the IDEM satisfy-then-seal CAS order in
`/root/reference/src/event/hc/hc-event.c:155-172`).

Shard rule: within each pack_group, packed bins (p02/p03 output) are
taken in bin_idx order and a shard boundary falls every SHARD_TOKENS
accumulated tokens — shard_idx = floor(tokens_before_this_bin /
SHARD_TOKENS), a single window cumsum (fill-then-overflow: a shard
exceeds the budget by at most one bin; no recursion needed, so the
DuckDB oracle replays it exactly). Cross-engine arithmetic is integer
token counts and one double floor-division (exact to 2^53).

Scale shape: the bin rollup and the cumsum shuffle once on pack_group
(the packer already partitioned by it); the write-data-then-marker
protocol is ``operators.commit``'s: the todo set is a distributed
anti-join against the broadcast committed markers (only its count
reaches Python), the data write is one dynamic-partition-overwrite
parquet job partitioned by shard, and markers are derived from
read-back on-disk data, never from in-memory state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ocr_spark.operators.commit import commit_run, read_markers
from ocr_spark.plans import register

SHARD_TOKENS = 4096  # shard budget in true-BPE tokens (64 full PACK_CAP bins)

# The driver-gate entry uses a 4x budget: the protocol under test
# (assignment determinism, todo-set resume, disk-derived markers) is
# shard-count-independent, and the sf0.1 bench otherwise spends its
# wall writing ~2k tiny partition directories. The E2E harness
# (tools/shard_job.py) and the unit tests keep the small 4096 budget
# where many boundaries = better coverage.
GATE_SHARD_TOKENS = 4 * SHARD_TOKENS


def _data_path(out_dir: str) -> str:
    return os.path.join(out_dir, "shards")


def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def shard_assign(packed: DataFrame, shard_tokens: int = SHARD_TOKENS) -> DataFrame:
    """Add ``shard_idx`` to a packed frame (doc_id, chunk_idx,
    pack_group, bin_idx, n_chunk_tokens): bins accumulate in bin_idx
    order, a boundary every ``shard_tokens`` tokens."""
    bins = packed.groupBy("pack_group", "bin_idx").agg(
        F.sum("n_chunk_tokens").alias("bin_tokens")
    )
    w = W.partitionBy("pack_group").orderBy("bin_idx")
    bins = bins.select(
        "pack_group",
        "bin_idx",
        F.floor(
            (F.sum("bin_tokens").over(w) - F.col("bin_tokens"))
            / F.lit(float(shard_tokens))
        )
        .cast("int")
        .alias("shard_idx"),
    )
    return packed.join(bins, ["pack_group", "bin_idx"])


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    return read_markers(spark, _manifest_path(out_dir))


def write_shards(
    spark: SparkSession,
    packed: DataFrame,
    out_dir: str,
    run_id: str,
    shard_tokens: int = SHARD_TOKENS,
    max_shards: int | None = None,
) -> dict:
    """Execute (or resume) one shard-writing run. ``max_shards``
    processes only the first K uncommitted shards — the test hook that
    simulates a kill between shard commits (x09's max_buckets twin)."""
    assigned = shard_assign(packed, shard_tokens).withColumn(
        "shard_id",
        F.concat_ws("-", F.col("pack_group"), F.col("shard_idx")),
    )
    # one barrier: the todo set, the write and the read-back must all see
    # the SAME assignment without re-running the packer three times
    assigned = assigned.localCheckpoint()
    n_shards, _ = commit_run(
        spark,
        assigned,
        key="shard_id",
        data_path=_data_path(out_dir),
        marker_path=_manifest_path(out_dir),
        run_id=run_id,
        markers=_shard_manifest,
        limit=max_shards,
    )
    return {"run_id": run_id, "shards_processed": n_shards}


def _shard_manifest(written: DataFrame) -> DataFrame:
    return written.groupBy("shard_id", "pack_group", "shard_idx").agg(
        F.countDistinct("bin_idx").cast("int").alias("n_bins"),
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
        F.expr("bit_xor(xxhash64(doc_id, chunk_idx, n_chunk_tokens))").alias(
            "checksum"
        ),
    ).select(
        "shard_id",
        F.col("pack_group").cast("int").alias("pack_group"),
        F.col("shard_idx").cast("int").alias("shard_idx"),
        "n_bins",
        "n_chunks",
        "n_tokens",
        "checksum",
    )


def _p06_oracle_sql() -> str:
    """Generator-independent truth: the per-shard manifest recomputed
    from the documents table by pure SQL (BPE chunk CTEs → next-fit
    packing recursion → bin rollup → shard cumsum)."""
    from ocr_spark.operators.bpe import bpe_chunk_ctes_sql
    from ocr_spark.operators.chunking import pack_packed_ctes_sql

    return f"""
    WITH RECURSIVE {pack_packed_ctes_sql(bpe_chunk_ctes_sql())}, bins AS (
      SELECT pack_group, bin_idx,
             count(*) AS n_chunks, sum(n_chunk_tokens) AS bin_tokens
      FROM packed GROUP BY pack_group, bin_idx
    ), sh AS (
      SELECT pack_group, n_chunks, bin_tokens,
             CAST(floor((sum(bin_tokens) OVER (PARTITION BY pack_group
                           ORDER BY bin_idx) - bin_tokens)
                        / {GATE_SHARD_TOKENS}.0) AS INT) AS shard_idx
      FROM bins
    )
    SELECT pack_group, shard_idx,
           CAST(count(*) AS INT) AS n_bins,
           CAST(sum(n_chunks) AS INT) AS n_chunks,
           CAST(sum(bin_tokens) AS BIGINT) AS n_tokens,
           true AS resume_noop
    FROM sh GROUP BY pack_group, shard_idx
    """


@register("p06_shard_writer", oracle=_p06_oracle_sql())
def p06_shard_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the shard writer end to end under the driver gate, x09
    style: a kill-simulated partial run (first 3 uncommitted shards), a
    resuming run that completes the rest, and a third run that must be
    a NO-OP (every marker committed). The returned manifest — read back
    from the on-disk marker table, never from memory — must match the
    pure-SQL shard rollup exactly: every packed chunk lands in exactly
    one shard across the two writing runs, token counts exact, none
    recomputed by the third run."""
    from ocr_spark.operators.bpe import bpe_token_arrays_production
    from ocr_spark.operators.chunking import (
        CHUNK_TOKENS,
        chunk_token_arrays,
        pack_chunks,
    )
    from ocr_spark.scratch import scratch_dir
    from ocr_spark.sources.io import load_table

    out = scratch_dir(spark, "p06_run")
    docs = load_table(spark, sf_dir, "documents")
    toks = bpe_token_arrays_production(docs).localCheckpoint()
    chunks = chunk_token_arrays(toks, window=CHUNK_TOKENS, stride=CHUNK_TOKENS)
    # checkpoint the packed frame once: the three protocol runs below
    # exercise the manifest/todo/marker machinery, not the packer, and
    # without the barrier each write_shards call re-runs the Arrow
    # packing pass (the E2E harness in tools/shard_job.py still covers
    # the real fresh-JVM resume where the packer IS recomputed)
    packed = pack_chunks(
        chunks.select("doc_id", "chunk_idx", "n_chunk_tokens")
    ).localCheckpoint()

    write_shards(
        spark, packed, out, run_id="gate", shard_tokens=GATE_SHARD_TOKENS, max_shards=3
    )
    write_shards(spark, packed, out, run_id="gate", shard_tokens=GATE_SHARD_TOKENS)
    third = write_shards(
        spark, packed, out, run_id="gate", shard_tokens=GATE_SHARD_TOKENS
    )
    noop = third["shards_processed"] == 0

    m = read_manifest(spark, out)
    return m.filter(F.col("run_id") == "gate").select(
        "pack_group",
        "shard_idx",
        "n_bins",
        "n_chunks",
        "n_tokens",
        F.lit(bool(noop)).alias("resume_noop"),
    )
