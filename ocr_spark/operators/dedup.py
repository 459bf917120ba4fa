"""Deduplication operators for training-data pipelines.

Four tiers, each a registered catalog query over `documents`:
  d01 exact        — content-hash groupBy (one shuffle on the hash)
  d02 ngram-jaccard— exact pairwise Jaccard over word 3-gram shingles
                     (shingle-explode + self-join; the *verifier*, not the
                     scale path — candidate generation at 100 TB is d03)
  d03 minhash-LSH  — banded MinHash: candidates meet only if a band
                     collides, then exact-Jaccard verify on candidates
                     only. This is the 100 TB path: cost is O(docs ×
                     shingles) for signatures plus the (tiny) candidate
                     join, never O(docs²).
  d04 simhash      — 60-bit per-doc fingerprint computed entirely with
                     array higher-order functions: zero shuffle, zero
                     Python.
  d05 embedding    — cosine near-dup pairs: sign-LSH bucket candidates
                     with a per-bucket numpy prefilter + exact JVM-fold
                     verify; d10 is its exact-recall twin (block-pair
                     matmul). The embedding primitives (cosine, sign-LSH
                     keys, centroid routing, the numpy kernel) are
                     operators.similarity's, shared with e01–e05.
  d06 dup clusters — transitive near-dup groups: iterative min-label
                     propagation (connected components) over the d03
                     pair graph, matched against a recursive-CTE oracle.
  d07 dupgram      — corpus-level duplicated-ngram filter (CCNet-style
                     boilerplate-dominated-doc detection).
  d08 incremental  — new-batch-vs-persisted-index dedup (continuous
                     crawl): the seen corpus is probed via its band-key
                     index, never recomputed.

All hashes are md5-derived (functions.text.hex60) so the DuckDB oracle
reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.functions.text import (
    SHINGLES3_SQL,
    TOKENS_SQL,
    hex60,
    hex60_sql,
    norm_tokens,
    shingles3,
)
from ocr_spark.functions.vectors import cosine_similarity, cosine_sql
from ocr_spark.plans import register
from ocr_spark.sources.io import load_table

JACCARD_THRESHOLD = 0.10
MINHASH_K = 16  # 4 bands x 4 rows
# d02's exact self-join drops shingles shared by more than this many
# documents from the JOIN KEY (corpus boilerplate carries no similarity
# evidence and creates df² join rows — one shingle in 10⁶ docs is a
# 10¹²-row key). Bounds every key's multiplicity; the hot set itself is
# ≤ total_shingle_rows / cap distinct values, so it broadcasts.
SHINGLE_DF_CAP = 128
LSH_BANDS = 4
LSH_ROWS = 4


# --- exact -------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash with the smallest key as canonical."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(key_col))
        .groupBy("content_hash")
        .agg(F.min(key_col).alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@register(
    "d01_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS canonical_doc_id,
           count(*)    AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


# --- shingles ---------------------------------------------------------------


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) distinct shingle rows.

    Tokens are materialized as a column BEFORE shingling: passing the
    `norm_tokens(text)` expression straight into shingles3 means every
    `element_at` re-evaluates the split (codegen does not CSE the shared
    subtree inside a lambda), turning shingling O(tokens²) per document
    — measured 12.8s -> 1.5s for the sf0.1 shingle explode."""
    toks = docs.select("doc_id", norm_tokens("text").alias("ts"))
    return toks.select(
        "doc_id",
        F.explode(F.array_distinct(shingles3(F.col("ts")))).alias("sh"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    df_cap: int | None = SHINGLE_DF_CAP,
) -> DataFrame:
    """Capped-DF Jaccard over distinct 3-gram shingles: exact when no
    shared shingle exceeds ``df_cap`` documents, a conservative lower
    bound otherwise (capped shingles are excluded from the
    intersection, and pairs overlapping ONLY through capped boilerplate
    shingles are dropped entirely). With ``candidates`` (the LSH path)
    or ``df_cap=None`` the score is exact Jaccard.

    With candidates, the shingle intersection is computed candidate-first
    (pair list joined to each side's shingles), so cost is linear in
    candidate pairs x shingles-per-doc — never the quadratic
    shingle-self-join. Without candidates, the self-join key is bounded
    by ``df_cap``: shingles appearing in more than df_cap documents are
    corpus boilerplate, not similarity evidence, and are dropped from
    the JOIN KEY (broadcast anti-join — the d07 heavy-hitter shape, so
    no key can exceed df_cap² rows and AQE has nothing to split).
    Denominators keep the FULL per-doc shingle counts, so the reported
    jaccard is exact when no shared shingle was capped and a
    conservative lower bound otherwise (pairs similar only through
    boilerplate are the pairs a dedup pipeline must NOT merge).
    ``df_cap=None`` restores the unrestricted join (test-only verifier).
    """
    sh = shingles if shingles is not None else _doc_shingles(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    if candidates is not None:
        a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
        b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
        inter = (
            candidates.join(a, "doc_a")
            .join(b, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        join_sh = sh
        if df_cap is not None:
            hot = (
                sh.groupBy("sh")
                .agg(F.count(F.lit(1)).alias("df"))
                .filter(F.col("df") > df_cap)
                .select("sh")
            )
            join_sh = sh.join(F.broadcast(hot), "sh", "left_anti")
        a = join_sh.select(F.col("doc_id").alias("doc_a"), "sh")
        b = join_sh.select(F.col("doc_id").alias("doc_b"), "sh")
        inter = (
            a.join(b, "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_a",
            "n_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


_SHINGLE_CTE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter({TOKENS_SQL.format(col='text')}, t -> t <> '') AS ts
      FROM documents
    ), doc_sh AS (
      SELECT DISTINCT doc_id, unnest({SHINGLES3_SQL.format(ts='ts')}) AS sh FROM toks
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM doc_sh GROUP BY doc_id
    )
"""


@register(
    "d02_ngram_jaccard",
    oracle=_SHINGLE_CTE
    + f"""
    , join_sh AS (
      -- mirror of SHINGLE_DF_CAP: boilerplate shingles leave the join key
      SELECT doc_id, sh FROM doc_sh
      WHERE sh NOT IN (
        SELECT sh FROM doc_sh GROUP BY sh HAVING count(*) > {SHINGLE_DF_CAP}
      )
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM join_sh a JOIN join_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD}
    """,
)
def d02_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# --- MinHash + LSH -----------------------------------------------------------


def minhash_signatures(
    docs: DataFrame, k: int = MINHASH_K, shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_id, sig: array<long>) — k MinHash values, one agg pass.

    Shape: shingle explode (narrow) + hash-aggregate with MAP-SIDE
    partial min — the exchange carries one partial row per doc per
    mapper, never the exploded shingle rows, so this is already the
    scale-correct shape. (A zero-shuffle per-row aggregate()/zip_with
    fold was benchmarked 6x slower: Spark evaluates higher-order
    functions interpreted, outside whole-stage codegen, and the fold
    allocates a k-array per shingle.)

    Hash economics: each md5 digest (32 hex chars) yields FOUR
    independent 32-bit lanes (hex chars 1-8/9-16/17-24/25-32), so k
    lanes cost k/4 md5 invocations per shingle — md5 dominated round
    1's signature cost at 16 md5/shingle. The md5 strings are projected
    as columns BEFORE the groupBy so each is computed once; the
    substr/conv lanes are codegen-cheap."""
    sh = shingles if shingles is not None else _doc_shingles(docs)
    n_md5 = (k + 3) // 4
    proj = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"mh{i}|"), F.col("sh"))).alias(f"m{i}")
            for i in range(n_md5)
        ],
    )
    mins = [
        F.min(
            F.conv(F.substring(F.col(f"m{i // 4}"), (i % 4) * 8 + 1, 8), 16, 10).cast(
                "long"
            )
        ).alias(f"h{i}")
        for i in range(k)
    ]
    sig = proj.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(k)]).alias("sig"))


def lsh_band_keys(
    sig: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """(doc_id, band, band_key) — all band keys in ONE pass over the
    signature table (posexplode of a per-row key array); a per-band
    union would recompute the signature aggregation `bands` times
    (measured: 15 exchanges in the d03 plan vs 7 with the explode).
    At cluster scale this is the persisted LSH *index* table,
    partitioned by (band, band_key)."""
    keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",", *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)]
                )
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.posexplode(keys).alias("band", "band_key"))


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs colliding in >=1 MinHash band."""
    bk = lsh_band_keys(sig, bands, rows)
    a = bk.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b2 = bk.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b2, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_lsh_dedup(docs: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by exact Jaccard.

    Cost shape at corpus scale: the signature aggregation map-side
    combines (the exchange carries per-doc partials, not shingle rows);
    the band-key self-join shuffles 4 small rows per doc; the
    shingle explode needed for the exact verify runs ONLY over docs
    that appear in some candidate pair (left_semi against the candidate
    id set) — near-dups are rare, so the exploded verify input is a
    sliver of the corpus rather than all of it (round 1 exploded and
    cached every document's shingles)."""
    cands = lsh_candidate_pairs(minhash_signatures(docs)).cache()
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _doc_shingles(docs.join(cand_docs, "doc_id", "left_semi")).cache()
    return ngram_jaccard_pairs(docs, threshold, candidates=cands, shingles=sh)


def _lsh_oracle_sql(cand_cond: str = "a.doc_id < b.doc_id") -> str:
    mins = ",\n             ".join(
        "min(CAST(concat('0x', substr(md5('mh{m}|' || sh), {pos}, 8)) AS BIGINT)) AS h{i}".format(
            m=i // 4, pos=(i % 4) * 8 + 1, i=i
        )
        for i in range(MINHASH_K)
    )
    band_selects = []
    for b in range(LSH_BANDS):
        parts = " || ',' || ".join(
            f"CAST(h{b * LSH_ROWS + r} AS VARCHAR)" for r in range(LSH_ROWS)
        )
        band_selects.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS band_key FROM sig")
    bands_union = "\n      UNION ALL\n      ".join(band_selects)
    return (
        _SHINGLE_CTE
        + f"""
    , sig AS (
      SELECT doc_id, {mins}
      FROM doc_sh GROUP BY doc_id
    ), bk AS (
      {bands_union}
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
                        AND {cand_cond}
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM doc_sh a JOIN doc_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      JOIN cands c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {JACCARD_THRESHOLD}
    """
    )


@register("d03_minhash_lsh", oracle=_lsh_oracle_sql())
def d03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_dedup(load_table(spark, sf_dir, "documents"))


# --- incremental dedup against a persisted index ------------------------------

# The seen/new split is the id midpoint — (max(doc_id)+1)//2 — so BOTH
# sides are non-empty at every scale factor (a fixed absolute split
# degenerated to an empty "new batch" below 250 docs).  The oracle
# mirrors it as a scalar subquery.
_SEEN_SPLIT_SQL = "(SELECT (max(doc_id) + 1) // 2 FROM documents)"

_SPLIT_CACHE: dict[str, int] = {}


def _midpoint_split(spark: SparkSession, sf_dir: str) -> int:
    """Driver-side midpoint (max(doc_id)+1)//2, cached per sf_dir so
    d08 and d11 share one control-plane max instead of each running a
    full-column scan; raises a clear error on an empty corpus instead
    of TypeError(None + 1)."""
    if sf_dir not in _SPLIT_CACHE:
        mx = (
            load_table(spark, sf_dir, "documents")
            .agg(F.max("doc_id"))
            .collect()[0][0]
        )
        if mx is None:
            raise ValueError(
                f"documents table in {sf_dir} is empty — no seen/new midpoint split"
            )
        _SPLIT_CACHE[sf_dir] = (mx + 1) // 2
    return _SPLIT_CACHE[sf_dir]


def incremental_neardup_pairs(
    old_docs: DataFrame,
    new_docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs between a NEW batch and an already-seen corpus —
    the continuous-crawl shape: the seen corpus's band keys are a
    persisted index table (written once, partitioned by (band,
    band_key)); each ingest batch computes only its own signatures and
    probes the index. Cost per batch is O(batch) + the (tiny) collision
    join — the seen corpus is never re-shingled, re-hashed, or
    re-shuffled. Old-old and new-new pairs are deliberately excluded:
    the former were found when the index was built, the latter by
    running d03 on the batch.

    The exact-Jaccard verify explodes shingles only for documents named
    in some candidate pair (both sides), same as d03."""
    idx = lsh_band_keys(minhash_signatures(old_docs)).select(
        F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    probe = lsh_band_keys(minhash_signatures(new_docs)).select(
        F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    cands = idx.join(probe, ["band", "band_key"]).select("doc_a", "doc_b").distinct()
    cands = cands.cache()
    all_docs = old_docs.unionByName(new_docs)
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = _doc_shingles(all_docs.join(cand_docs, "doc_id", "left_semi")).cache()
    return ngram_jaccard_pairs(all_docs, threshold, candidates=cands, shingles=sh)


@register(
    "d08_incremental_dedup",
    oracle=_lsh_oracle_sql(
        cand_cond=f"a.doc_id < {_SEEN_SPLIT_SQL} AND b.doc_id >= {_SEEN_SPLIT_SQL}"
    ),
)
def d08_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # control-plane scalar (one driver-side max, like the restart bucket
    # list in operators/lineage.py), NOT a hot-path collect
    split = _midpoint_split(spark, sf_dir)
    old_docs = docs.filter(F.col("doc_id") < split)
    new_docs = docs.filter(F.col("doc_id") >= split)
    return incremental_neardup_pairs(old_docs, new_docs)


# --- SimHash ------------------------------------------------------------------

SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc over distinct tokens.

    Entirely array higher-order functions on the hash array — per-row,
    JVM-side, no explode, no shuffle: the narrowest possible plan for a
    fingerprint pass over 100 TB.

    SINGLE fold over the hash array: the accumulator is the whole
    60-counter vote vector (zip_with against the per-hash bit signs), and
    a second 60-element fold packs votes into the fingerprint.  Spark
    HOFs are interpreted (no codegen), so the previous form — one
    aggregate() per bit, 60 re-walks of the array — paid ~60× the
    interpreter dispatch for identical arithmetic: 2.38 s → 0.22 s at
    sf0.1 on local[16], bit-identical output."""
    hashes = F.transform(
        F.array_distinct(norm_tokens(text_col)), lambda t: hex60(t)
    ).alias("hs")
    packed = f"""aggregate(
          zip_with(
            aggregate(hs, array_repeat(0, {SIMHASH_BITS}),
                      (acc, h) -> zip_with(acc, sequence(0, {SIMHASH_BITS - 1}),
                                           (a, b) -> a + CAST((shiftright(h, b) & 1) * 2 - 1 AS INT))),
            sequence(0, {SIMHASH_BITS - 1}),
            (v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),
          CAST(0 AS BIGINT), (a, x) -> a + x)"""
    return docs.select("doc_id", hashes).select(
        "doc_id", F.expr(packed).alias("simhash")
    )


def _simhash_oracle_sql() -> str:
    h = hex60_sql("t")
    terms = " + ".join(
        f"(CASE WHEN list_sum([CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) > 0 "
        f"THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return f"""
    WITH hs_t AS (
      SELECT doc_id,
             [{h} FOR t IN list_distinct(
               list_filter({TOKENS_SQL.format(col='text')}, t -> t <> ''))] AS hs
      FROM documents
    )
    SELECT doc_id, {terms} AS simhash FROM hs_t
    """


@register("d04_simhash", oracle=_simhash_oracle_sql())
def d04_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"))


# --- embedding-cosine near-dup ----------------------------------------------

COSINE_NEARDUP_THRESHOLD = 0.4


NEARDUP_BLOCKS = 8


def _neardup_candidates_blocked(
    emb: DataFrame,
    threshold: float,
    n_blocks: int = NEARDUP_BLOCKS,
    margin: float = 1e-4,
) -> DataFrame:
    """Distributed exact candidate generation: hash-assign each vector to
    one of ``n_blocks`` blocks, replicate each block to its B block-pair
    groups, and run a numpy matmul per (block_a, block_b) group via
    applyInPandas. Exact all-pairs is inherently O(n²) *comparisons*,
    but here the flops are vectorized AND sharded into B(B+1)/2
    independent tasks of 2n/B vectors each — no driver collect(), no
    broadcast of the corpus (round 1's d05 scale-killer). Each unordered
    vector pair lands in exactly one group, so output pairs are unique.

    At 100 TB, grow n_blocks ~ n/block_budget so each group's two
    sub-matrices fit an executor; replication factor is n_blocks
    (storage n × B rows through one shuffle). For sub-quadratic cost
    pass ``candidates`` from LSH bucketing instead — this path is the
    exact-recall candidate generator the oracle can verify.
    """
    import numpy as np
    import pandas as pd

    from ocr_spark.operators.similarity import cosine_block_pairs

    cut = threshold - margin

    def one_pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pa, pb = key
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        emb = pdf["embedding"]
        if pa == pb:
            return cosine_block_pairs(ids, emb, ids, emb, cut)
        blk = pdf["blk"].to_numpy()
        la, lb = blk == pa, blk == pb
        return cosine_block_pairs(ids[la], emb[la], ids[lb], emb[lb], cut)

    e = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.col("vec_id"), F.lit(n_blocks)).alias("blk"),
    )
    # a vector in block v participates in every unordered block pair
    # {v, w}: replicate it under key (min(v,w), max(v,w)) for all w
    pair_keys = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_blocks - 1)),
            lambda w: F.struct(
                F.least(F.col("blk"), w).alias("pa"),
                F.greatest(F.col("blk"), w).alias("pb"),
            ),
        )
    )
    rep = e.select(
        "vec_id", "embedding", "blk", F.explode(pair_keys).alias("p")
    ).select("vec_id", "embedding", "blk", "p.pa", "p.pb")
    return rep.groupBy("pa", "pb").applyInPandas(one_pair, "a_id long, b_id long")


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = COSINE_NEARDUP_THRESHOLD,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(a_id, b_id, cos) pairs with cosine >= threshold, a_id < b_id.

    Two-phase: candidate generation (distributed blocked matmul with an
    exactness margin by default; pass ``candidates`` = an LSH-bucket
    pair list for the sub-quadratic approximate path, as d03 does with
    MinHash bands), then exact cosine on candidates only via the JVM
    sequential fold (functions.vectors) whose addition order matches
    DuckDB's — the final values are oracle-exact, the prefilter only
    prunes.
    """
    if candidates is None:
        candidates = _neardup_candidates_blocked(emb, threshold)
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_emb"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_emb"))
    pairs = candidates.join(a, "a_id").join(b, "b_id")
    cos = cosine_similarity(F.col("a_emb"), F.col("b_emb"))
    return (
        pairs.select("a_id", "b_id", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


# Sign-LSH candidate generation for the registered (scale) path: a pair
# is a candidate iff it shares a bucket in >=1 of NEARDUP_LSH_TABLES
# independent NEARDUP_LSH_PLANES-bit sign-plane tables (same OR-of-ANDs
# amplification as e02).  Seeds are offset so the plane sets are
# independent of e02's ANN tables.
NEARDUP_LSH_TABLES = 8
NEARDUP_LSH_PLANES = 4
NEARDUP_LSH_SEED0 = 100


def neardup_candidates_lsh(
    emb: DataFrame,
    dim: int,
    threshold: float = COSINE_NEARDUP_THRESHOLD,
    tables: int = NEARDUP_LSH_TABLES,
    planes: int = NEARDUP_LSH_PLANES,
    seed0: int = NEARDUP_LSH_SEED0,
    margin: float = 1e-4,
) -> DataFrame:
    """(a_id, b_id) candidate pairs: share >=1 sign-LSH bucket AND pass
    a vectorized numpy cosine prefilter at threshold - margin — the
    sub-quadratic candidate generator for embedding near-dup.

    Shape: bucket keys are computed narrow (no shuffle); ONE exchange
    groups vectors by (tbl, bucket); each bucket's pairs are scored by a
    per-group numpy matmul (applyInPandas) and only pairs above
    threshold - margin survive to the exact verify.  Scoring inside the
    bucket group (rather than bucket-self-join → per-pair interpreted
    fold) matters: Spark HOF folds are interpreted, so 10^6 surviving
    join rows × dim fold steps cost ~10 s at sf0.1, while the same
    comparisons as per-bucket BLAS are milliseconds — 12.3 s → ~1 s
    benched.  The margin guarantees no exact-threshold pair is lost to
    float summation-order differences (d10's technique); the exact JVM
    fold then recomputes oracle-exact cosines on survivors only.

    At 100 TB: grow ``planes`` ~log2(n/bucket_budget) so expected bucket
    size (and each group's matmul) stays bounded; total cost is
    O(n · bucket_size), never O(n²).  Hot buckets (dense clusters) are
    the skew surface: AQE handles the group-exchange, a per-bucket size
    cap (salt-split oversized buckets) is the escape hatch.  Recall is
    tuned by (tables, planes); the exact-recall twin is
    d10_neardup_exact."""
    import numpy as np
    import pandas as pd

    from ocr_spark.operators.similarity import cosine_block_pairs, lsh_keys_batch

    cut = threshold - margin

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        return cosine_block_pairs(ids, pdf["embedding"], ids, pdf["embedding"], cut)

    keyed = lsh_keys_batch(emb, dim, tables, planes, seed0=seed0)
    return (
        keyed.groupBy("tbl", "bucket")
        .applyInPandas(bucket_pairs, "a_id long, b_id long")
        .distinct()
    )


def _neardup_lsh_oracle_sql(
    dim: int,
    threshold: float = COSINE_NEARDUP_THRESHOLD,
    tables: int = NEARDUP_LSH_TABLES,
    planes: int = NEARDUP_LSH_PLANES,
    seed0: int = NEARDUP_LSH_SEED0,
) -> str:
    """DuckDB twin of the LSH-candidates → exact-cosine-verify path: the
    bucket keys are e02's sign-LSH fragment under ``seed0``, so they —
    and therefore the candidate set — are bit-identical."""
    from ocr_spark.operators.similarity import _lsh_keys_sql

    return f"""
    WITH {_lsh_keys_sql(dim, tables, planes, seed0)},
    cand AS (
      SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.bucket = b.bucket
      WHERE a.vec_id < b.vec_id
    )
    SELECT * FROM (
      SELECT c.a_id, c.b_id,
             round({cosine_sql("ae.embedding", "be.embedding")}, 6) AS cos
      FROM cand c
      JOIN embeddings ae ON ae.vec_id = c.a_id
      JOIN embeddings be ON be.vec_id = c.b_id)
    WHERE cos >= {threshold}
    """


_NEARDUP_EXACT_ORACLE = f"""
    SELECT * FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round({cosine_sql("a.embedding", "b.embedding")}, 6) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
    WHERE cos >= {COSINE_NEARDUP_THRESHOLD}
    """


def _embedding_dim() -> int:
    from ocr_spark.operators.similarity import EMBEDDING_DIM

    return EMBEDDING_DIM


@register("d05_embedding_neardup", oracle=_neardup_lsh_oracle_sql(dim=_embedding_dim()))
def d05_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered (scale) path: sign-LSH bucket candidates → exact cosine
    verify.  Sub-quadratic — no all-pairs stage anywhere in the plan
    (asserted by tests/test_plan_quality.py).  The exact-recall twin
    with an identical output contract is d10_neardup_exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    cands = neardup_candidates_lsh(emb, _embedding_dim())
    return embedding_neardup_pairs(emb, candidates=cands)


@register("d10_neardup_exact", oracle=_NEARDUP_EXACT_ORACLE)
def d10_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall verifier twin of d05: distributed blocked all-pairs
    matmul candidates (O(n²) comparisons, sharded into B(B+1)/2 tasks —
    the oracle-exact baseline, NOT the 100 TB default; see d05)."""
    return embedding_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


# --- corpus-level duplicated-ngram filter (CCNet-style) -----------------------

DUPGRAM_MIN_DOCS = 2
BOILERPLATE_FRACTION = 0.5
# Grams in at least this many docs are heavy hitters: their freq rows
# are broadcast so the back-join never shuffles the hot keys.  The hot
# set is self-bounding — |hot| <= total_gram_occurrences / hot_min — so
# pick hot_min from the executor memory budget (at 10^12 docs × ~10^3
# grams each, hot_min = 10^8 bounds the broadcast to ~10^7 rows; real
# corpora are far below the bound because gram frequency is Zipfian).
DUPGRAM_HOT_MIN_DOCS = 4096


def dupgram_stats(
    docs: DataFrame,
    min_docs: int = DUPGRAM_MIN_DOCS,
    hot_min: int = DUPGRAM_HOT_MIN_DOCS,
) -> DataFrame:
    """Per-doc duplicated-ngram statistics — the corpus-level repetition
    filter of CCNet-style pipelines (drop/flag documents dominated by
    text shared with other documents, e.g. boilerplate headers, mirrored
    articles).

    Shape: distinct 3-gram explode (narrow) → global gram frequency
    (shuffle #1, map-side combined: one row per distinct gram per mapper
    crosses the wire) → heavy-hitter split back-join → per-doc aggregate
    (last shuffle).

    The back-join is the classic hot-key surface at 100 TB: a gram like
    "click here to" can appear in half the corpus, and a plain shuffle
    join serializes all its occurrences through one reducer. AQE's skew
    split does NOT cover this join (both sides derive from the same gram
    stream, so the shuffle is shared/reused and the rule cannot split it
    — verified empirically in tests/test_skew_adversarial.py history);
    the mitigation is deterministic heavy-hitter splitting: freq rows
    with n_docs >= hot_min are BROADCAST (g_hot join is map-side, hot
    keys never shuffle), while the tail join's per-key multiplicity is
    < hot_min by construction, so no reducer can receive more than
    hot_min rows of any key. At extreme scale swap the exact hot table
    for a count-min-sketch broadcast; the exact form is the oracle-able
    baseline.

    dup_fraction is emitted as the raw long/long division (identical
    IEEE expression in DuckDB) — no rounding, no midpoint hazard."""
    toks = docs.select("doc_id", norm_tokens("text").alias("ts"))
    g = toks.select(
        "doc_id", F.explode(F.array_distinct(shingles3(F.col("ts")))).alias("sh")
    )
    freq = g.groupBy("sh").agg(F.count(F.lit(1)).alias("n_docs"))
    hot = freq.filter(F.col("n_docs") >= hot_min)
    tail = freq.filter(F.col("n_docs") < hot_min)
    marked = g.join(F.broadcast(hot), "sh").unionByName(g.join(tail, "sh"))
    frac = F.count(F.when(F.col("n_docs") >= min_docs, 1)) / F.count(F.lit(1))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.when(F.col("n_docs") >= min_docs, 1)).alias("n_dup_grams"),
        frac.alias("dup_fraction"),
        (frac >= BOILERPLATE_FRACTION).alias("boilerplate"),
    )


@register(
    "d07_dupgram_filter",
    oracle=_SHINGLE_CTE
    + f"""
    , freq AS (
      SELECT sh, count(*) AS n_docs FROM doc_sh GROUP BY sh
    )
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN n_docs >= {DUPGRAM_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           CAST(sum(CASE WHEN n_docs >= {DUPGRAM_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
             / count(*) AS dup_fraction,
           (CAST(sum(CASE WHEN n_docs >= {DUPGRAM_MIN_DOCS} THEN 1 ELSE 0 END) AS BIGINT)
             / count(*) >= {BOILERPLATE_FRACTION}) AS boilerplate
    FROM doc_sh JOIN freq USING (sh)
    GROUP BY doc_id
    """,
)
def d07_dupgram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dupgram_stats(load_table(spark, sf_dir, "documents"))


# --- transitive dup clusters (connected components) ---------------------------

CC_MAX_ITERS = 20


def dup_clusters(
    docs: DataFrame, pairs: DataFrame, max_iters: int = CC_MAX_ITERS
) -> DataFrame:
    """(doc_id, cluster_id) for every document: cluster_id = min doc_id
    of its connected component in the near-dup pair graph; docs with no
    pair form singleton clusters.

    Iterative min-label propagation + pointer jumping over DataFrames
    (the reference's only loop construct is user-space recursion over
    EDTs — here the driver loop composes bounded shuffles on doc_id).
    Each round does (a) one neighbor-min hop and (b) one label(label)
    shortcut hop, so the covered min-label distance roughly doubles per
    round: ``max_iters`` rounds cover component diameters up to about
    2^max_iters. If the loop exhausts without reaching fixpoint the
    labels would be silently wrong, so it raises instead.

    Every round's result is ``localCheckpoint``-ed: persist() alone only
    cuts physical re-execution, while the *logical plan* of round k
    embeds round k-1's plan several times (neighbor join + shortcut
    join + changed-check), which grows exponentially and OOMs the driver
    during analysis on deep chains. Checkpointing truncates lineage so
    each round's plan is flat. On a real cluster use checkpoint() with a
    reliable dir so executor loss cannot drop the truncated lineage.

    At 100 TB: labels and edges are both (id, id) tables hash-partitioned
    on the join key; each round is co-partitioned joins — the classic
    large-scale CC (Hash-to-Min / pointer-jumping) shape. The pair list
    is the small side (near-dups are rare) and broadcastable in practice.
    """
    # materialize the edge list once: every propagation round joins it,
    # and without the cache each round would re-run the upstream pair
    # pipeline (for d06 that is the whole MinHash-LSH DAG)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).localCheckpoint()
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"), "cluster_id"), "dst"
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        one_hop = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer jump: cluster_id is itself a doc_id, so look its label
        # up in the same table — label <- min(label, label(label)).
        parent = one_hop.select(
            F.col("doc_id").alias("p_id"), F.col("cluster_id").alias("p_lab")
        )
        two_hop = (
            one_hop.join(parent, one_hop["cluster_id"] == parent["p_id"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("p_lab", F.col("cluster_id"))
                ).alias("cluster_id"),
            )
        )
        new_labels = two_hop.localCheckpoint()  # eager; truncates lineage
        changed = (
            new_labels.join(
                labels.withColumnRenamed("cluster_id", "old"), "doc_id"
            )
            .filter(F.col("cluster_id") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds; "
            "component diameter exceeds ~2^max_iters — raise max_iters"
        )
    return labels


def _cc_oracle_sql() -> str:
    """Connected components as a recursive reachability closure over the
    (embedded) d03 pair query: cluster_id = min(doc_id, min reachable
    doc_id). Exponential-diameter closure is fine at oracle scale."""
    return f"""
    WITH RECURSIVE pairs AS ( {_lsh_oracle_sql()} ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT d.doc_id,
           least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
    FROM documents d
    LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
      ON m.src = d.doc_id
    """


@register("d06_dup_clusters", oracle=_cc_oracle_sql())
def d06_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs).select("doc_a", "doc_b")
    return dup_clusters(docs, pairs)


# --- canonical selection (the applied dedup verdict) --------------------------


def canonical_selection(docs: DataFrame, clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, quality_score, is_canonical): within each
    near-dup cluster keep the highest-quality document (ties: smallest
    doc_id) — the final keep/drop decision a curation pipeline applies
    after d06 clustering + t02 scoring. One broadcast-size join per doc
    plus a per-cluster argmax window; the cluster table is the small
    side at any scale (clusters ≈ docs only in the no-dup limit).
    Ordering uses the 6-decimal-rounded score both engines already
    agree on bit-for-bit (t02), so the argmax is cross-engine exact."""
    from pyspark.sql import Window as W

    j = docs.select("doc_id").join(clusters, "doc_id").join(
        quality.select("doc_id", "quality_score"), "doc_id"
    )
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return j.select(
        "doc_id",
        "cluster_id",
        "quality_score",
        (F.row_number().over(w) == 1).alias("is_canonical"),
    )


def _canonical_oracle_sql() -> str:
    from ocr_spark.operators.textstats import _STOP_SQL, _TOKS  # noqa: F401

    quality_cte = f"""
    qual AS (
      SELECT doc_id,
             round((CASE WHEN (length(text) >= 100 AND length(text) <= 20000)
                         THEN 0.4 ELSE 0.0 END)
                   + least((CASE WHEN len(toks) > 0
                            THEN CAST(len(list_filter(toks, t -> t IN {_STOP_SQL})) AS DOUBLE) / len(toks)
                            ELSE 0.0 END) * 4, 0.3)
                   + least(CASE WHEN len(toks) > 0
                           THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                           ELSE 0.0 END, 0.3), 6) AS quality_score
      FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    )"""
    return f"""
    WITH RECURSIVE pairs AS ( {_lsh_oracle_sql()} ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    clusters AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(m.mn, d.doc_id)) AS cluster_id
      FROM documents d
      LEFT JOIN (SELECT src, min(dst) AS mn FROM reach GROUP BY src) m
        ON m.src = d.doc_id
    ),
    {quality_cte}
    SELECT c.doc_id, c.cluster_id, q.quality_score,
           (row_number() OVER (PARTITION BY c.cluster_id
                               ORDER BY q.quality_score DESC, c.doc_id ASC) = 1)
             AS is_canonical
    FROM clusters c JOIN qual q ON q.doc_id = c.doc_id
    """


@register("d09_canonical_selection", oracle=_canonical_oracle_sql())
def d09_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.textstats import quality_score

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_dedup(docs).select("doc_a", "doc_b")
    clusters = dup_clusters(docs, pairs)
    quality = quality_score(docs)
    return canonical_selection(docs, clusters, quality)


# --- Bloom-style approximate membership ---------------------------------------

BLOOM_BITS = 4096  # m
BLOOM_LANES = 3  # k independent md5-derived positions per document

# One-sided guarantee: an exact content match is ALWAYS maybe_seen
# (zero false negatives); false-positive rate ~ (1 - e^(-k·n/m))^k and
# every position is a deterministic function of the text, so the whole
# operator — including its false positives — is reproducible and
# oracle-able (unlike sketch-library blooms).


def _bloom_positions(text_col, m: int = BLOOM_BITS, k: int = BLOOM_LANES):
    """k bit positions per document from disjoint md5 hex lanes (the
    hex60 cross-engine idiom: identical conv/substr arithmetic in
    DuckDB)."""
    return F.array(
        *[
            F.pmod(
                F.conv(F.substring(F.md5(text_col), 1 + i * 5, 5), 16, 10).cast("long"),
                F.lit(m),
            )
            for i in range(k)
        ]
    )


def bloom_membership(
    seen_docs: DataFrame,
    new_docs: DataFrame,
    m: int = BLOOM_BITS,
    k: int = BLOOM_LANES,
) -> DataFrame:
    """(doc_id, hits, maybe_seen) for every new doc: has this content
    possibly been crawled before?  The membership index is the DISTINCT
    position table of the seen corpus — at most ``m`` rows regardless of
    corpus size, so at 10^12 documents the index is a few KB broadcast
    to every probe task; the probe is a narrow pass + broadcast join.
    This is the continuous-crawl front-door filter ahead of d08's exact
    band-key probe (bloom says "definitely new" for most pages without
    touching the index tables)."""
    seen_pos = (
        seen_docs.select(F.explode(_bloom_positions(F.col("text"), m, k)).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probed = (
        new_docs.select("doc_id", F.explode(_bloom_positions(F.col("text"), m, k)).alias("pos"))
        .join(F.broadcast(seen_pos), "pos", "left")
    )
    return probed.groupBy("doc_id").agg(
        F.count(F.col("hit")).cast("int").alias("hits"),
        (F.count(F.col("hit")) == k).alias("maybe_seen"),
    )


def _bloom_oracle_sql(m: int = BLOOM_BITS, k: int = BLOOM_LANES) -> str:
    lanes = ", ".join(
        f"CAST(concat('0x', substr(md5(text), {1 + i * 5}, 5)) AS BIGINT) % {m}"
        for i in range(k)
    )
    return f"""
    WITH pos AS (
      SELECT doc_id, unnest([{lanes}]) AS pos
      FROM documents
    ),
    seen AS (
      SELECT DISTINCT pos FROM pos WHERE doc_id < {_SEEN_SPLIT_SQL}
    )
    SELECT p.doc_id,
           CAST(count(s.pos) AS INT) AS hits,
           count(s.pos) = {k} AS maybe_seen
    FROM pos p LEFT JOIN seen s ON s.pos = p.pos
    WHERE p.doc_id >= {_SEEN_SPLIT_SQL}
    GROUP BY p.doc_id
    """


@register("d11_bloom_membership", oracle=_bloom_oracle_sql())
def d11_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    split = _midpoint_split(spark, sf_dir)
    return bloom_membership(
        docs.filter(F.col("doc_id") < split), docs.filter(F.col("doc_id") >= split)
    )


# --- cross-document exact substring dedup (Lee et al. style) ------------------

# Fixed token-window length for substring fingerprints.  Lee et al.
# ("Deduplicating Training Data Makes Language Models Better") remove
# verbatim substrings of >= 50 tokens via a corpus suffix array; the
# distributed re-expression fingerprints every WINDOW-token sliding
# window instead — any duplicated substring of length >= WINDOW contains
# a duplicated window, and the union of duplicated windows over-covers
# it by < WINDOW tokens on each flank, so the removal mask converges to
# the suffix-array answer as spans grow.  A suffix array is inherently
# a single-machine global structure; sliding fingerprints shard.
DUPSPAN_WINDOW = 16
DUPSPAN_MIN_DOCS = 2
# Same heavy-hitter bound as d07: window hashes in >= this many docs are
# broadcast so the back-join never shuffles the hot keys (a license
# header shared by 10⁶ docs is one join key).
DUPSPAN_HOT_MIN_DOCS = 4096


def coverage_union_fold(sorted_starts, window: int):
    """|union of [s, s+window) over ascending starts| as one fold:
    each interval contributes ``window - max(0, prev_end - s)`` new
    tokens (prev_end <= s + window always holds for equal-length sorted
    intervals, so the contribution is never negative). Property-tested
    against naive set coverage in tests/test_new_ops_properties.py."""
    init = F.struct(
        F.lit(0).cast("long").alias("cov"), F.lit(-window).cast("long").alias("prev")
    )
    return F.aggregate(
        sorted_starts,
        init,
        lambda acc, s: F.struct(
            (acc["cov"] + window - F.greatest(F.lit(0).cast("long"), acc["prev"] - s)).alias("cov"),
            (s.cast("long") + window).alias("prev"),
        ),
        lambda acc: acc["cov"],
    )


def window_fingerprints(toks: DataFrame, window: int) -> DataFrame:
    """(doc_id, s, h) for every sliding ``window``-token window of the
    (doc_id, ts) token arrays: h = md5 of the space-joined window
    starting at token s (0-based). Docs shorter than ``window`` have
    none. The DuckDB twin is :func:`_window_fingerprints_sql`."""
    return (
        toks.filter(F.size("ts") >= window)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("ts") - window)).alias("s"),
            "ts",
        )
        .select(
            "doc_id",
            "s",
            F.md5(F.array_join(F.slice("ts", F.col("s") + 1, window), " ")).alias("h"),
        )
    )


def _window_fingerprints_sql(window: int) -> str:
    """DuckDB twin of :func:`window_fingerprints`: the CTEs ``toks``
    (doc_id, ts) over ``documents`` and ``w`` (doc_id, s, h), to follow
    a WITH."""
    toks_sql = TOKENS_SQL.format(col="text")
    return f"""toks AS (
      SELECT doc_id, list_filter({toks_sql}, t -> t <> '') AS ts FROM documents
    ), w AS (
      SELECT doc_id, s, md5(array_to_string(ts[s + 1 : s + {window}], ' ')) AS h
      FROM (SELECT doc_id, ts, unnest(range(0, len(ts) - {window} + 1)) AS s
            FROM toks WHERE len(ts) >= {window})
    )"""


def dupspan_stats(
    docs: DataFrame,
    window: int = DUPSPAN_WINDOW,
    min_docs: int = DUPSPAN_MIN_DOCS,
    hot_min: int = DUPSPAN_HOT_MIN_DOCS,
) -> DataFrame:
    """Per-doc removal mask for text duplicated verbatim ACROSS
    documents: n_dup_tokens = |union of all duplicated WINDOW-token
    spans| (exact interval union), dup_fraction = share of the doc a
    substring-dedup pass would remove.

    Shape: sliding-window fingerprint (narrow; md5 over each window so
    the oracle reproduces it bit-for-bit) → distinct-doc frequency per
    fingerprint (shuffle #1, partial-agg'd) → heavy-hitter split
    back-join (hot fingerprints broadcast, d07's pattern — AQE skew
    split cannot cover a self-derived join) → per-doc sorted-starts
    interval-union fold (shuffle #2 on doc_id).

    The coverage union is a single F.aggregate fold over the sorted
    start list (starts ascending ⇒ each window adds
    ``window - max(0, prev_end - s)`` tokens) — O(dup windows) per doc,
    no W× position explode on the Spark side; the DuckDB oracle computes
    the same integer naively via distinct exploded positions."""
    toks = docs.select("doc_id", norm_tokens("text").alias("ts"))
    w = window_fingerprints(toks, window)
    freq = w.groupBy("h").agg(F.count_distinct("doc_id").alias("n_docs"))
    dup = freq.filter(F.col("n_docs") >= min_docs).select("h", "n_docs")
    hot = dup.filter(F.col("n_docs") >= hot_min)
    tail = dup.filter(F.col("n_docs") < hot_min)
    dupw = w.join(F.broadcast(hot.select("h")), "h").unionByName(
        w.join(tail.select("h"), "h")
    )
    covered = coverage_union_fold(F.sort_array(F.collect_list("s")), window)
    per_doc = dupw.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_windows"), covered.alias("n_dup_tokens")
    )
    base = toks.select(
        "doc_id",
        F.size("ts").alias("n_tokens"),
        F.greatest(F.size("ts") - window + 1, F.lit(0)).alias("n_windows"),
    )
    joined = base.join(per_doc, "doc_id", "left")
    ndup = F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long")
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        F.coalesce(F.col("n_dup_windows"), F.lit(0)).cast("long").alias("n_dup_windows"),
        ndup.alias("n_dup_tokens"),
        F.when(F.col("n_tokens") > 0, ndup / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("dup_fraction"),
    )


def _dupspan_oracle_sql(
    window: int = DUPSPAN_WINDOW, min_docs: int = DUPSPAN_MIN_DOCS
) -> str:
    return f"""
    WITH {_window_fingerprints_sql(window)}, freq AS (
      SELECT h, count(DISTINCT doc_id) AS n_docs FROM w GROUP BY h
    ), dupw AS (
      SELECT doc_id, s FROM w JOIN freq USING (h) WHERE n_docs >= {min_docs}
    ), dwc AS (
      SELECT doc_id, count(*) AS n_dup_windows FROM dupw GROUP BY doc_id
    ), cov AS (
      SELECT doc_id, count(DISTINCT pos) AS n_dup_tokens
      FROM (SELECT doc_id, unnest(range(s, s + {window})) AS pos FROM dupw)
      GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(ts) AS INT) AS n_tokens,
           CAST(greatest(len(ts) - {window} + 1, 0) AS INT) AS n_windows,
           CAST(COALESCE(d.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           CASE WHEN len(ts) > 0
                THEN CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) / len(ts)
                ELSE 0.0 END AS dup_fraction
    FROM toks t
    LEFT JOIN dwc d USING (doc_id)
    LEFT JOIN cov c USING (doc_id)
    """


@register("d12_substring_dedup", oracle=_dupspan_oracle_sql())
def d12_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dupspan_stats(load_table(spark, sf_dir, "documents"))

# --- benchmark decontamination (GPT-3 appendix-C / Lee et al. style) ----------

# Window length for overlap fingerprints: GPT-3's decontamination used
# 13-gram collisions against the eval sets ("Language Models are Few-Shot
# Learners", appendix C); the same window is standard in later pipelines
# (PaLM, Llama).  The benchmark side here is a deterministic held-out
# slice of the corpus itself (doc_id % DECONTAM_BENCH_MOD == 0) so both
# engines derive the identical eval set with no external data.
DECONTAM_WINDOW = 13
DECONTAM_BENCH_MOD = 17


def decontam_stats(
    docs: DataFrame,
    window: int = DECONTAM_WINDOW,
    bench_mod: int = DECONTAM_BENCH_MOD,
) -> DataFrame:
    """Per-training-doc benchmark-overlap report: n_contam_windows =
    how many of the doc's sliding ``window``-token fingerprints occur
    anywhere in the benchmark slice, contaminated = any such hit.

    Scale shape (the canonical decontamination plan): the benchmark
    n-gram set is SMALL BY CONSTRUCTION — eval suites are a few million
    n-grams regardless of corpus size — so its distinct fingerprints
    broadcast and the 10^12-doc training side never shuffles its
    exploded windows: fingerprint (narrow) -> broadcast-hash-join ->
    per-doc count (partial-agg'd map-side; one row per doc crosses the
    wire).  Contrast d12 (`dupspan_stats`), where BOTH sides are the
    corpus and a heavy-hitter split is required.

    Fingerprints are d12's (:func:`window_fingerprints`: md5 over the
    space-joined window) so the DuckDB oracle reproduces them
    bit-for-bit.
    """
    toks = docs.select("doc_id", norm_tokens("text").alias("ts"))
    w = window_fingerprints(toks, window)
    is_bench = F.pmod(F.col("doc_id"), F.lit(bench_mod)) == 0
    bench_h = w.filter(is_bench).select("h").distinct()
    hits = w.filter(~is_bench).join(F.broadcast(bench_h), "h")
    per_doc = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contam_windows")
    )
    base = toks.filter(~is_bench).select(
        "doc_id",
        F.greatest(F.size("ts") - window + 1, F.lit(0)).alias("n_windows"),
    )
    nc = F.coalesce(F.col("n_contam_windows"), F.lit(0)).cast("long")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        nc.alias("n_contam_windows"),
        (nc > 0).alias("contaminated"),
    )


def _decontam_oracle_sql(
    window: int = DECONTAM_WINDOW, bench_mod: int = DECONTAM_BENCH_MOD
) -> str:
    return f"""
    WITH {_window_fingerprints_sql(window)}, bench AS (
      SELECT DISTINCT h FROM w WHERE doc_id % {bench_mod} = 0
    ), hits AS (
      SELECT w.doc_id, count(*) AS n_contam_windows
      FROM w JOIN bench USING (h)
      WHERE w.doc_id % {bench_mod} <> 0
      GROUP BY w.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(ts) - {window} + 1, 0) AS INT) AS n_windows,
           CAST(COALESCE(h.n_contam_windows, 0) AS BIGINT) AS n_contam_windows,
           COALESCE(h.n_contam_windows, 0) > 0 AS contaminated
    FROM toks t
    LEFT JOIN hits h USING (doc_id)
    WHERE t.doc_id % {bench_mod} <> 0
    """


@register("d13_benchmark_decontam", oracle=_decontam_oracle_sql())
def d13_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decontam_stats(load_table(spark, sf_dir, "documents"))


# --- d14: semantic dedup (SemDeDup) -------------------------------------------

SEMDEDUP_THRESHOLD = 0.4


def semantic_dedup(
    emb: DataFrame, threshold: float = SEMDEDUP_THRESHOLD
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space, then prune cosine near-duplicates WITHIN each
    cluster, keeping the member farthest from its centroid (the paper's
    keep-the-outlier rule; deterministic tie-break on vec_id).

    Scale shape: assignment calls e04's router
    (operators.similarity.nearest_cells over centroid_row) — centroids
    fold into a ONE-ROW broadcast array and every vector argmins per-row
    (no Window, no exchange of the n x k scored set); the only corpus-sized
    exchange is the within-cell self-join on the cell id, whose
    quadratic cost is bounded by the cell size — SemDeDup's design
    point is that k grows with the corpus so |cell| stays budgeted
    (oversized cells would take d05's sign-LSH sub-bucketing).  All
    cosine arithmetic is the sequential F.aggregate fold, bit-equal to
    DuckDB's list kernels, so the oracle compares raw doubles exactly.

    Returns one row per vector: (vec_id, cell, cc_micros, keep) —
    cc_micros = floor(1e6 x cos(vector, assigned centroid)).
    """
    from ocr_spark.operators.similarity import (
        centroid_row,
        label_centroids,
        nearest_cells,
    )

    cents = centroid_row(
        label_centroids(emb).select(F.col("label").alias("cell"), "centroid")
    )
    m = nearest_cells(emb.select("vec_id", "embedding"), cents).select(
        "vec_id", "embedding", F.col("cell").cast("int").alias("cell"), "cc"
    )
    a = m.select(
        "cell",
        F.col("vec_id").alias("i"),
        F.col("embedding").alias("ea"),
        F.col("cc").alias("cca"),
    )
    b = m.select(
        "cell",
        F.col("vec_id").alias("j"),
        F.col("embedding").alias("eb"),
        F.col("cc").alias("ccb"),
    )
    drops = (
        a.join(b, "cell")
        .where(F.col("i") != F.col("j"))
        .where(cosine_similarity(F.col("ea"), F.col("eb")) >= F.lit(threshold))
        .where(
            (F.col("cca") < F.col("ccb"))
            | ((F.col("cca") == F.col("ccb")) & (F.col("i") < F.col("j")))
        )
        .select(F.col("j").alias("vec_id"))
        .distinct()
    )
    return (
        m.join(drops.withColumn("dropped", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.floor(F.col("cc") * F.lit(1000000.0)).cast("bigint").alias("cc_micros"),
            F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"),
        )
    )


def _semdedup_oracle_sql(threshold: float = SEMDEDUP_THRESHOLD) -> str:
    from ocr_spark.operators.similarity import _mean_centroids_sql, _nearest_cells_sql

    return f"""
    WITH cent AS ({_mean_centroids_sql("embeddings", "label")}
    ), assign AS (
      SELECT vec_id, embedding, CAST(cell AS INT) AS cell, cc
      FROM ({_nearest_cells_sql()}) WHERE crn = 1
    ), drops AS (
      SELECT DISTINCT b.vec_id
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
      WHERE {cosine_sql("a.embedding", "b.embedding")} >= {threshold}
        AND (a.cc < b.cc OR (a.cc = b.cc AND a.vec_id < b.vec_id))
    )
    SELECT m.vec_id, m.cell,
           CAST(floor(m.cc * 1000000.0) AS BIGINT) AS cc_micros,
           (d.vec_id IS NULL) AS keep
    FROM assign m LEFT JOIN drops d USING (vec_id)
    """


@register("d14_semantic_dedup", oracle=_semdedup_oracle_sql())
def d14_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(load_table(spark, sf_dir, "embeddings"))


# --- d15: segment-level corpus dedup (C4 line removal) -------------------------

SEGDEDUP_W = 8
SEGDEDUP_DF_CAP = 3


def segment_dedup(
    docs: DataFrame, w: int = SEGDEDUP_W, cap: int = SEGDEDUP_DF_CAP
) -> DataFrame:
    """Corpus-frequency segment removal with document reconstruction —
    C4's "remove any line occurring ≥N times in the corpus" (Raffel et
    al. 2020 §2.2) / RefinedWeb line dedup, at fixed ``w``-token
    segment grain (the synthetic corpus has no newlines; a real crawl
    would split on them instead).

    Scale shape: segments shuffle ONCE (distinct (hash, doc) →
    per-hash distinct-doc frequency, both map-side combined — the
    d01/d07 grain); the boilerplate set (df ≥ cap) is
    heavy-hitter-sized at any corpus scale and broadcasts back onto
    the segment stream, so the removal verdict never reshuffles the
    corpus; the rebuild is one per-doc fold (collect_list of surviving
    (idx, seg) structs → array_sort → join), i.e. the same single
    corpus exchange every dedup entry already pays.  The token array
    is pre-projected into a bound column before the segmenting HOF
    (the p08 lambda-CSE lesson).

    Returns one row per doc: (doc_id, n_segments, n_removed,
    clean_md5) where clean_md5 = md5 of the surviving segments joined
    in order by single spaces (md5('') when nothing survives).
    """
    base = docs.select("doc_id", norm_tokens("text").alias("ts"))
    ts = F.col("ts")
    idxs = F.when(
        F.size(ts) > 0,
        F.sequence(F.lit(0), F.ceil(F.size(ts) / F.lit(w)).cast("int") - 1),
    ).otherwise(F.array().cast("array<int>"))
    seg_arr = F.transform(
        idxs, lambda i: F.array_join(F.slice(ts, i * w + 1, w), " ")
    )
    segs = base.select(
        "doc_id", F.posexplode(seg_arr).alias("idx", "seg")
    ).withColumn("h", F.md5("seg"))
    hot = (
        segs.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= cap)
        .select("h", F.lit(True).alias("is_hot"))
    )
    marked = segs.join(F.broadcast(hot), "h", "left").withColumn(
        "is_hot", F.coalesce(F.col("is_hot"), F.lit(False))
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_segments"),
        F.sum(F.col("is_hot").cast("int")).cast("int").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("is_hot"),
                                F.struct(F.col("idx"), F.col("seg")),
                            )
                        )
                    ),
                    lambda x: x["seg"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segments", F.lit(0)).alias("n_segments"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
        )
    )


def _segment_dedup_oracle_sql(
    w: int = SEGDEDUP_W, cap: int = SEGDEDUP_DF_CAP
) -> str:
    from ocr_spark.operators.textstats import _TOKS

    return f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS ts FROM documents
    ), seg AS (
      SELECT doc_id, s AS idx,
             array_to_string(ts[s*{w}+1 : s*{w}+{w}], ' ') AS seg
      FROM (SELECT doc_id, ts,
                   unnest(range(0, CAST(ceil(len(ts) / {w}.0) AS INT))) AS s
            FROM t)
    ), k AS (
      SELECT doc_id, idx, seg, md5(seg) AS h FROM seg
    ), hot AS (
      SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM k GROUP BY h)
      WHERE df >= {cap}
    ), m AS (
      SELECT k.*, (hot.h IS NOT NULL) AS is_hot
      FROM k LEFT JOIN hot ON k.h = hot.h
    ), pd AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_segments,
             CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS INT) AS n_removed,
             md5(COALESCE(
               string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE NOT is_hot),
               '')) AS clean_md5
      FROM m GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(n_segments, 0) AS n_segments,
           COALESCE(n_removed, 0) AS n_removed,
           COALESCE(clean_md5, md5('')) AS clean_md5
    FROM documents d LEFT JOIN pd USING (doc_id)
    """


@register("d15_segment_dedup", oracle=_segment_dedup_oracle_sql())
def d15_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segment_dedup(load_table(spark, sf_dir, "documents"))
