"""The shared write-data-then-marker protocol (operators.commit) under
adversarial marker tables, plus its scan contract: a corrupt marker table
must fail the resume instead of reading as "nothing committed", and a
resume's read-back scans only the partitions it just wrote."""

from __future__ import annotations

import os
import re

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.fixtures import pages_df
from ocr_spark.operators.lineage import read_metrics, run_extraction
from ocr_spark.operators.shards import read_manifest, shard_assign, write_shards

# sorts before every Spark-written part file, so it is the file Spark's
# schema inference picks
GARBAGE = "part-0-garbage.parquet"


def _packed(spark) -> DataFrame:
    """A small packed frame: 4 pack groups x 12 bins x 3 chunks of 40
    tokens -> a few shards per group at a 512-token budget."""
    rows = [
        (g * 1000 + b * 10 + c, c, g, b, 40)
        for g in range(4)
        for b in range(12)
        for c in range(3)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, chunk_idx int, pack_group int, bin_idx int, n_chunk_tokens int"
    )


def _part_files(path: str) -> set[str]:
    return {f for f in os.listdir(path) if f.startswith("part-")}


def _corrupt(marker_dir: str) -> set[str]:
    before = _part_files(marker_dir)
    with open(os.path.join(marker_dir, GARBAGE), "wb") as fh:
        fh.write(b"this is not a parquet file\n" * 8)
    return before


def test_corrupt_metrics_fail_the_resume(spark, tmp_path):
    pages = pages_df(spark, 120)
    out = str(tmp_path / "run")
    # a missing marker dir is a full first run
    assert read_metrics(spark, out) is None
    first = run_extraction(spark, pages, out, run_id="r", max_buckets=2)
    assert first["buckets_processed"] == 2

    before = _corrupt(os.path.join(out, "metrics"))
    with pytest.raises(Py4JJavaError, match=re.escape(GARBAGE)):
        run_extraction(spark, pages, out, run_id="r")
    assert _part_files(os.path.join(out, "metrics")) == before | {GARBAGE}


def test_corrupt_manifest_fails_the_resume(spark, tmp_path):
    packed = _packed(spark)
    out = str(tmp_path / "run")
    n_shards = shard_assign(packed, 512).select("pack_group", "shard_idx").distinct().count()
    assert read_manifest(spark, out) is None
    assert write_shards(spark, packed, out, "r", 512)["shards_processed"] == n_shards

    before = _corrupt(os.path.join(out, "manifest"))
    with pytest.raises(Py4JJavaError, match=re.escape(GARBAGE)):
        write_shards(spark, packed, out, "r", 512)
    assert _part_files(os.path.join(out, "manifest")) == before | {GARBAGE}


def _scans(plan) -> list:
    """FileSourceScanExec nodes of an executed plan, through AQE stages."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _scans(plan.executedPlan())
    if hasattr(plan, "plan") and plan.nodeName().endswith("QueryStage"):
        return _scans(plan.plan())
    found = [plan] if plan.nodeName().startswith("Scan parquet") else []
    kids = plan.children()
    for i in range(kids.size()):
        found += _scans(kids.apply(i))
    return found


def test_resume_reads_back_only_todo_partitions(spark, tmp_path, monkeypatch):
    packed = _packed(spark)
    out = str(tmp_path / "run")
    n_shards = shard_assign(packed, 512).select("pack_group", "shard_idx").distinct().count()
    k = 3
    write_shards(spark, packed, out, "r", 512, max_shards=k)

    # the read-back frame is the one commit_run observes for its row count
    observed = []
    cls = type(packed)
    original = cls.observe

    def capture(self, *args, **kwargs):
        observed.append(self)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "observe", capture)
    resumed = write_shards(spark, packed, out, "r", 512)
    monkeypatch.undo()
    assert resumed["shards_processed"] == n_shards - k

    (written,) = observed
    keys = {r.shard_id for r in written.collect()}
    assert len(keys) == n_shards - k
    (scan,) = _scans(written._jdf.queryExecution().executedPlan())
    filters = scan.toString().split("PartitionFilters: ")[1].split(", PushedFilters")[0]
    assert "array_contains" in filters and "shard_id" in filters, filters
    on_disk = [d for d in os.listdir(os.path.join(out, "shards")) if d.startswith("shard_id=")]
    assert len(on_disk) == n_shards
    assert scan.metrics().apply("numPartitions").value() == n_shards - k
    assert (
        read_manifest(spark, out).filter(F.col("run_id") == "r").count() == n_shards
    )
