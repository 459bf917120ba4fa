"""Recall of the approximate ANN paths vs the exact brute-force top-k.

The approximate operators (e02 LSH, e04 IVF) trade recall for the
ability to avoid the quadratic compare at scale; these tests pin a
recall floor on the deterministic fixture embeddings so a refactor that
silently breaks bucketing/routing (e.g. hashing the wrong column) fails
loudly rather than returning plausible-but-wrong neighbours.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.plans import QUERIES, load_all

load_all()


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.qid, set()).add(r.vec_id)
    return out


def _recall(approx, exact):
    hits = sum(len(approx.get(q, set()) & vs) for q, vs in exact.items())
    total = sum(len(vs) for vs in exact.values())
    return hits / total


def test_ivf_recall_floor(spark, sf_dir):
    exact = _topk_sets(QUERIES["e01_knn_bruteforce"](spark, sf_dir))
    ivf = _topk_sets(QUERIES["e04_ivf_knn"](spark, sf_dir))
    assert _recall(ivf, exact) >= 0.4


def test_lsh_recall_floor(spark, sf_dir):
    exact = _topk_sets(QUERIES["e01_knn_bruteforce"](spark, sf_dir))
    lsh = _topk_sets(QUERIES["e02_ann_lsh"](spark, sf_dir))
    assert _recall(lsh, exact) >= 0.4


def test_ivf_exact_when_one_cell(spark, sf_dir):
    """With every vector routed through its own probed cells and cos
    computed exactly, IVF results must be a subset of the exact scores:
    any (qid, vec_id) returned by IVF carries the same cos as e01."""
    exact = {
        (r.qid, r.vec_id): r.cos
        for r in QUERIES["e01_knn_bruteforce"](spark, sf_dir).collect()
    }
    for r in QUERIES["e04_ivf_knn"](spark, sf_dir).collect():
        if (r.qid, r.vec_id) in exact:
            assert abs(r.cos - exact[(r.qid, r.vec_id)]) < 1e-9


def test_kmeans_inertia_monotone(spark, sf_dir):
    """Lloyd's must not increase inertia between iterations, and the
    first assignment must agree with e03's nearest-centroid routing
    (same init, cosine vs L2 on mean-centered cells can differ only on
    argmin ties — compare cluster sizes instead of exact ids)."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.similarity import kmeans, label_centroids
    from ocr_spark.sources.io import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    init = label_centroids(emb).select(
        F.col("label").cast("int").alias("cell"), "centroid"
    )
    _a, _c, inertias = kmeans(emb.select("vec_id", "embedding"), init, iters=4)
    assert len(inertias) == 4
    for prev, cur in zip(inertias, inertias[1:]):
        assert cur <= prev + 1e-9, inertias


def test_kmeans_deterministic(spark, sf_dir):
    from pyspark.sql import functions as F

    from ocr_spark.plans import QUERIES

    r1 = {(r.vec_id, r.cell) for r in QUERIES["e05_kmeans"](spark, sf_dir).collect()}
    r2 = {(r.vec_id, r.cell) for r in QUERIES["e05_kmeans"](spark, sf_dir).collect()}
    assert r1 == r2 and len(r1) > 0


def test_d05_lsh_recall_floor(spark, sf_dir):
    """d05's registered sub-quadratic path (sign-LSH candidates → exact
    verify) must recover most of the exact near-dup pairs d10 finds, and
    every pair it returns must be a true pair (verify step is exact)."""
    exact = {
        (r.a_id, r.b_id): r.cos
        for r in QUERIES["d10_neardup_exact"](spark, sf_dir).collect()
    }
    lsh = {
        (r.a_id, r.b_id): r.cos
        for r in QUERIES["d05_embedding_neardup"](spark, sf_dir).collect()
    }
    assert exact, "fixture embeddings produced no exact near-dup pairs"
    # precision is exact by construction: cosine is recomputed on candidates
    for pair, cos in lsh.items():
        assert pair in exact and abs(cos - exact[pair]) < 1e-9
    recall = len(lsh) / len(exact)
    assert recall >= 0.5, f"d05 LSH recall {recall:.2f} below floor"


def test_lsh_keys_batch_matches_jvm_fold(spark, sf_dir):
    """The numpy cumsum bucket keys must equal the interpreted JVM fold
    (lsh_bucket_key) bit-for-bit — cumsum accumulates left-to-right in
    float64 exactly like the sequential fold, so sign decisions agree
    even for near-zero projections."""
    from ocr_spark.operators.similarity import (
        EMBEDDING_DIM,
        lsh_bucket_key,
        lsh_keys_batch,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tables, planes = 8, 4
    karr = F.array(
        *[
            lsh_bucket_key(F.col("embedding"), EMBEDDING_DIM, planes, seed=t)
            for t in range(tables)
        ]
    )
    jvm = {
        (r.vec_id, r.tbl): r.bucket
        for r in emb.select("vec_id", F.posexplode(karr).alias("tbl", "bucket")).collect()
    }
    np_keys = {
        (r.vec_id, r.tbl): r.bucket
        for r in lsh_keys_batch(
            emb, EMBEDDING_DIM, tables, planes, keep_embedding=False
        ).collect()
    }
    assert jvm == np_keys and len(jvm) == emb.count() * tables


def test_zero_norm_embedding_matches_oracle(spark, sf_dir, tmp_path):
    """One all-zero candidate vector: its cosine with anything is 0.0 in
    both engines (functions.vectors.cosine_similarity / cosine_sql), so
    every embedding entry still matches its oracle. Without the rule
    Spark with ANSI on raises DIVIDE_BY_ZERO and DuckDB returns -1.0."""
    import os

    import duckdb

    from ocr_spark.oracle import compare, register_duckdb_views
    from ocr_spark.plans import ORACLE
    from ocr_spark.operators.similarity import EMBEDDING_DIM

    src = os.path.join(sf_dir, "embeddings.parquet")
    dst = tmp_path / "embeddings.parquet"
    con = duckdb.connect()
    con.sql(
        f"""COPY (
          SELECT * FROM read_parquet('{src}')
          UNION ALL
          SELECT (SELECT max(vec_id) + 1 FROM read_parquet('{src}')),
                 CAST(list_transform(range({EMBEDDING_DIM}), i -> 0) AS FLOAT[]),
                 CAST(0 AS INTEGER)
        ) TO '{dst}' (FORMAT PARQUET)"""
    )
    register_duckdb_views(con, str(tmp_path), ["embeddings"])
    (zero_id,) = con.sql("SELECT max(vec_id) FROM embeddings").fetchone()

    for name in (
        "e01_knn_bruteforce",
        "e02_ann_lsh",
        "e03_centroid_assign",
        "e04_ivf_knn",
        "d05_embedding_neardup",
        "d10_neardup_exact",
        "d14_semantic_dedup",
    ):
        mismatch = compare(QUERIES[name](spark, str(tmp_path)), con, ORACLE[name])
        assert mismatch is None, f"{name}: {mismatch}"

    # cosine 0.0 with every centroid: the tie goes to the lowest cell
    (row,) = (
        QUERIES["e03_centroid_assign"](spark, str(tmp_path))
        .filter(F.col("vec_id") == zero_id)
        .collect()
    )
    assert row.assigned_label == 0
