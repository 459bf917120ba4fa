"""Query catalog registry.

Every engine capability that is SQL-expressible registers here as a pair
(Spark builder, DuckDB oracle SQL); the driver's correctness gate runs
both sides at sf=0.01 and compares row-count + schema + value hashes.
Non-SQL-expressible operators register with ``oracle=None`` (rows-only
check).

This mirrors the reference's test taxonomy: one self-contained test per
feature (`/root/reference/tests/non-regression-tests/*`, 36 single-file
programs each with a one-line DESC contract) — here one registered query
per operator, with an independent-engine differential oracle the
reference never had.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Register a catalog query; ``oracle`` is ANSI SQL DuckDB can run on
    the same parquet tables (views: region nation customer supplier part
    orders lineitem events documents embeddings)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers catalog queries."""
    from ocr_spark.plans import relational  # noqa: F401
    from ocr_spark.operators import dedup  # noqa: F401
    from ocr_spark.operators import similarity  # noqa: F401
    from ocr_spark.operators import textstats  # noqa: F401
    from ocr_spark.operators import chunking  # noqa: F401
    from ocr_spark.operators import curation  # noqa: F401
    from ocr_spark.operators import graph  # noqa: F401
    from ocr_spark.operators import wavefront  # noqa: F401
    from ocr_spark.operators import bpe  # noqa: F401
    from ocr_spark.operators import shards  # noqa: F401
    from ocr_spark.operators import tiled_cholesky  # noqa: F401
    from ocr_spark.extract import catalog  # noqa: F401
    from ocr_spark.streaming import catalog as streaming_catalog  # noqa: F401
