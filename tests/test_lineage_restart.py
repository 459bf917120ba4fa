"""Kill/resume semantics (FIXTURES.md §3): after K of N buckets commit,
a resumed run recomputes exactly N-K buckets, committed checksums are
unchanged, and the final output is complete and golden-correct."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures import golden_df, pages_df
from ocr_spark.operators.lineage import (
    read_metrics,
    run_extraction,
    run_rollup_complete,
    size_class_latches,
)
from ocr_spark.operators.partitioning import size_bucket_repartition

N_DOCS = 300
K = 5


@pytest.fixture(scope="module")
def pages(spark):
    p = pages_df(spark, N_DOCS).persist()
    p.count()
    yield p
    p.unpersist()


def test_kill_resume(spark, pages, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage_run"))
    n_buckets = size_bucket_repartition(pages).select("bucket").distinct().count()
    assert n_buckets > K

    # phase 1: "killed" after K bucket commits
    s1 = run_extraction(spark, pages, out, run_id="r1", max_buckets=K)
    assert s1["buckets_processed"] == K
    m1 = read_metrics(spark, out).filter(F.col("run_id") == "r1")
    committed1 = {
        (r.partition_id, r.checksum, r.input_count) for r in m1.collect()
    }
    assert len(committed1) == K
    assert not run_rollup_complete(spark, out, "r1", pages)

    # phase 2: resume — must recompute exactly N-K buckets
    s2 = run_extraction(spark, pages, out, run_id="r1")
    assert s2["buckets_processed"] == n_buckets - K
    assert run_rollup_complete(spark, out, "r1", pages)

    m2 = read_metrics(spark, out).filter(F.col("run_id") == "r1")
    all_rows = {(r.partition_id, r.checksum, r.input_count) for r in m2.collect()}
    assert len(all_rows) == n_buckets
    # idempotent markers: phase-1 commits unchanged
    assert committed1 <= all_rows
    # totals reconcile
    assert sum(c for _, _, c in all_rows) == N_DOCS

    # phase 3: re-run of a complete run is a no-op
    s3 = run_extraction(spark, pages, out, run_id="r1")
    assert s3["buckets_processed"] == 0

    # output complete and golden-correct
    data = spark.read.parquet(f"{out}/extracted")
    assert data.count() == N_DOCS
    g = golden_df(spark, N_DOCS)
    bad = (
        data.join(g, "url")
        .filter(F.col("extracted_text") != F.col("golden_text"))
        .count()
    )
    assert bad == 0


def test_size_class_rollup(spark, pages, tmp_path_factory):
    """Nested finish scopes: after a partial run the per-class latches
    report mixed progress that sums to the flat view; after resume every
    class latch closes and the committed count reaches the bucket count."""
    out = str(tmp_path_factory.mktemp("lineage_rollup"))
    n_buckets = size_bucket_repartition(pages).select("bucket").distinct().count()

    run_extraction(spark, pages, out, run_id="r2", max_buckets=K)
    latches = size_class_latches(spark, out, "r2", pages).collect()
    assert sum(r.n_expected for r in latches) == n_buckets
    assert sum(r.n_committed for r in latches) == K
    assert not run_rollup_complete(spark, out, "r2", pages)

    run_extraction(spark, pages, out, run_id="r2")
    latches = size_class_latches(spark, out, "r2", pages).collect()
    assert all(r.complete for r in latches)
    assert sum(r.n_committed for r in latches) == n_buckets
    assert run_rollup_complete(spark, out, "r2", pages)


def test_resume_under_other_salt_fails(spark, pages, tmp_path_factory, monkeypatch):
    """A marker names a bucket, and a bucket's urls depend on the salt
    count: a run committed under another salt count (or before the count
    was recorded) must refuse to resume rather than duplicate or drop
    documents, and must write nothing."""
    from ocr_spark.operators import partitioning

    out = str(tmp_path_factory.mktemp("lineage_salt"))
    monkeypatch.setattr(partitioning, "DEFAULT_SALT", partitioning.DEFAULT_SALT * 2)
    run_extraction(spark, pages, out, run_id="r3", max_buckets=K)
    monkeypatch.undo()

    def snapshot():
        return sorted(
            os.path.relpath(os.path.join(d, f), out)
            for d, _, fs in os.walk(out)
            for f in fs
        )

    before = snapshot()
    with pytest.raises(ValueError, match="salts="):
        run_extraction(spark, pages, out, run_id="r3")
    assert snapshot() == before

    # markers written before the salt count was recorded
    legacy = str(tmp_path_factory.mktemp("lineage_legacy"))
    run_extraction(spark, pages, legacy, run_id="r4", max_buckets=K)
    markers = read_metrics(spark, legacy).drop("salts").toPandas()
    shutil.rmtree(f"{legacy}/metrics")
    spark.createDataFrame(markers).write.parquet(f"{legacy}/metrics")
    with pytest.raises(ValueError, match="salts=None"):
        run_extraction(spark, pages, legacy, run_id="r4")
    # another run id in the same dir is unaffected, and its markers (which
    # record the salt count) do not hide the legacy ones'
    assert run_extraction(spark, pages, legacy, run_id="r5")["rows"] == N_DOCS
    assert run_extraction(spark, pages, legacy, run_id="r5")["buckets_processed"] == 0
    with pytest.raises(ValueError, match="salts=None"):
        run_extraction(spark, pages, legacy, run_id="r4")
