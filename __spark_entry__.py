"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` /
``oracle_sql()`` expose the full ocr_spark catalog, one entry per
implemented operator (see COVERAGE.md for the SURVEY.md §2 map and
ocr_spark/plans/__init__.py for the registry).
Both list the catalog sorted by the latest round in which each entry had
a green row in the CORRECTNESS_r*.json files next to this module (never
green = round 0, ties in registration order), so the gate, which samples
the first 50 entries, re-gates the stalest rows first; the full gate in
the same row format is CORRECTNESS_local.json
(tools/correctness_local.py).
The streaming family s01-s06 runs the real Structured Streaming queries
to completion against the sf_dir parquet; the extraction/multimodal
entries (x01-x06, s05) are gated against literal VALUES oracles derived
from the generator-side golden fixtures — independent truth, not a
recompute. The single rows-only entry is q21 (HLL/quantile sketches:
approximation algorithms are engine-specific by design); it is covered
by the exact twins q23/q13 instead.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from ocr_spark.plans import ORACLE, QUERIES, load_all

load_all()

_HERE = os.path.dirname(os.path.abspath(__file__))


def _green(row: dict) -> bool:
    """A driver row passed: a full oracle match, or a rows-only entry
    that ran (``no_oracle`` with a row count)."""
    if row.get("err") is None:
        return all(row.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
    return row["err"] == "no_oracle" and row.get("spark_rows") is not None


def latest_green() -> dict[str, int]:
    """Entry name -> latest round with a green row in CORRECTNESS_r<N>.json."""
    latest: dict[str, int] = {}
    for fname in os.listdir(_HERE):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m is None:
            continue
        with open(os.path.join(_HERE, fname)) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if _green(row):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    return latest


def gate_order(names: Iterable[str]) -> list[str]:
    """``names`` sorted stalest-green first (stable: ties keep their order)."""
    latest = latest_green()
    return sorted(names, key=lambda n: latest.get(n, 0))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H-Q1-shaped pricing
    summary (scan → pushed filter → partial+final agg)."""
    return QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: QUERIES[n] for n in gate_order(QUERIES)}


def oracle_sql() -> dict[str, str]:
    return {n: ORACLE[n] for n in gate_order(ORACLE)}
