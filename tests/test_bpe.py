"""t13 true-BPE property tests.

Pins the DuckDB oracle's sequential-replace formulation (apply each
merge once, in rank order, as a replace-all over the sentinel encoding)
to the classic GPT-2 ``bpe()`` priority loop on TRAINED merge tables —
the equivalence the ``bpe.py`` module docstring argues — and the Spark
mapInPandas encoder to the same classic loop. Merge tables are
always produced by ``train_bpe_merges`` (the equivalence only holds for
training-derived tables, where a merged symbol cannot exist before its
creating merge).

Mirrors the reference's per-feature self-checking tests
(`/root/reference/tests/non-regression-tests/`), plus the differential
oracle in test_catalog_oracle.py (t13 row) the reference never had.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.operators.bpe import (
    MERGES,
    SEED_CORPUS,
    SEP,
    WB,
    classic_bpe_encode,
    train_bpe_merges,
)
from ocr_spark.operators.textstats import BPE_PATTERN


def _encode_word(word: str) -> str:
    """Python mirror of the oracle's sentinel encoding (``_encode_sql``)
    for a single word: every char owns both its separators."""
    return "".join(f"{SEP}{c}{SEP}" for c in word)


def _sequential_replace(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Python mirror of the oracle's merge chain (``_merge_replace_sql``)
    restricted to one word: left-to-right replace-all per merge, in rank
    order — exactly what DuckDB replace does."""
    enc = _encode_word(word)
    for a, b in merges:
        enc = enc.replace(f"{SEP}{a}{SEP}{SEP}{b}{SEP}", f"{SEP}{a}{b}{SEP}")
    toks = [t for t in enc.split(SEP) if t]
    return toks


words = st.text(alphabet="abcde", min_size=1, max_size=12)


@given(corpus=st.lists(words, min_size=1, max_size=20), probe=words)
@settings(max_examples=200, deadline=None)
def test_sequential_replace_equals_classic_loop(corpus, probe):
    merges = train_bpe_merges([" ".join(corpus)], n_merges=24)
    for w in corpus + [probe]:
        assert _sequential_replace(w, merges) == classic_bpe_encode(w, merges), (
            w,
            merges,
        )


@given(word=st.text(alphabet="ab", min_size=1, max_size=16))
@settings(max_examples=100, deadline=None)
def test_adjacent_runs_merge_like_classic(word):
    """Runs of identical symbols are the adversarial case for replace-all
    (overlapping occurrences) — the own-delimiters encoding must make
    them disjoint."""
    merges = train_bpe_merges(["ab ab aa bb aab abb " + word], n_merges=16)
    assert _sequential_replace(word, merges) == classic_bpe_encode(word, merges)


def test_tokens_roundtrip_to_word():
    for line in SEED_CORPUS:
        for w in re.findall(BPE_PATTERN, line):
            assert "".join(classic_bpe_encode(w)) == w


def test_training_is_deterministic():
    assert train_bpe_merges(SEED_CORPUS) == MERGES
    assert len(MERGES) > 0


def test_shipped_merges_actually_merge():
    """The shipped table must compress the seed corpus (tokens < chars)
    or the operator is a no-op count."""
    w = "the"
    assert len(classic_bpe_encode(w)) < len(w)


_CORPUS = [
    "the quick brown fox",
    "aaaa bbbb the the the",
    f"sentinel{SEP}chars{WB}stripped the dog",
    "tokenize the documents and pack the tokens",
    "",
]


def _classic(text: str) -> tuple[list[list[str]], str]:
    """(per-word classic-loop tokens, md5 of their sentinel encoding)."""
    clean = text.replace(SEP, "").replace(WB, "")
    words = [classic_bpe_encode(w) for w in re.findall(BPE_PATTERN, clean)]
    enc = WB.join("".join(f"{SEP}{tok}{SEP}" for tok in w) for w in words)
    return words, hashlib.md5(enc.encode("utf-8")).hexdigest()


def _corpus_df(spark):
    return spark.createDataFrame(list(enumerate(_CORPUS)), "doc_id long, text string")


def test_spark_expression_matches_classic(spark):
    """The Spark encoder's per-doc stats (token and word counts, ratio,
    tok_digest) equal the classic loop on a corpus with sentinel chars,
    runs of repeats, multi-word docs and an empty doc."""
    from ocr_spark.operators.bpe import bpe_tokenize_stats_production

    rows = {r.doc_id: r for r in bpe_tokenize_stats_production(_corpus_df(spark)).collect()}
    for i, t in enumerate(_CORPUS):
        words, digest = _classic(t)
        n_tok = sum(len(w) for w in words)
        assert rows[i].n_bpe_tokens == n_tok, (i, t)
        assert rows[i].n_words == len(words), (i, t)
        assert rows[i].tokens_per_word == (n_tok / len(words) if words else 0.0), (i, t)
        assert rows[i].tok_digest == digest, (i, t)


def test_production_word_loop_equals_classic():
    """The broadcast-rank merge loop (_bpe_word) is the classic GPT-2
    priority loop — including on hypothesis-style adversarial runs."""
    from ocr_spark.operators.bpe import _bpe_word

    ranks = {p: i for i, p in enumerate(MERGES)}
    for line in SEED_CORPUS:
        for w in re.findall(BPE_PATTERN, line):
            assert _bpe_word(w, ranks) == classic_bpe_encode(w)
    merges = train_bpe_merges(["ab ab aa bb aab abb abab aabb"], n_merges=16)
    r2 = {p: i for i, p in enumerate(merges)}
    for w in ["ababab", "aaaa", "abba", "aabbaabb", "b", ""]:
        if w:
            assert _bpe_word(w, r2) == classic_bpe_encode(w, merges), w


def test_production_token_arrays_match_expression(spark):
    """bpe_token_arrays_production gives the classic loop's flat token
    array per doc on the same corpus."""
    from ocr_spark.operators.bpe import bpe_token_arrays_production

    got = {r.doc_id: r.ts for r in bpe_token_arrays_production(_corpus_df(spark)).collect()}
    want = {i: [tok for w in _classic(t)[0] for tok in w] for i, t in enumerate(_CORPUS)}
    assert got == want


def test_production_scales_past_demo_vocab(spark):
    """At >=1k merges — where a chained-replace expression tree cannot
    be planned (BENCH/BPE_SCALE.md) — the production path still runs and
    matches the classic loop."""
    from ocr_spark.operators.bpe import bpe_tokenize_stats_production

    corpus = [" ".join(ln.split()) for ln in SEED_CORPUS if ln.strip()]
    big = train_bpe_merges(corpus * 4 + ["tokenization pipelines everywhere"], n_merges=1024)
    assert len(big) >= 300, len(big)  # seed vocab exhausts eventually; still way past demo
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(corpus)], "doc_id long, text string"
    )
    rows = {r.doc_id: r.n_bpe_tokens for r in bpe_tokenize_stats_production(df, merges=big).collect()}
    for i, t in enumerate(corpus):
        want = sum(len(classic_bpe_encode(w, big)) for w in re.findall(BPE_PATTERN, t))
        assert rows[i] == want, (i, t)


# --- t18: distributed BPE merge training ------------------------------------


def test_distributed_train_matches_classic_on_seed_corpus(spark):
    """The distributed trainer learns the SAME merge list (same ranks,
    same tie-breaks) as the pure-Python classic trainer."""
    from ocr_spark.operators.bpe import distributed_bpe_train

    texts = [ln for ln in SEED_CORPUS if ln.strip()]
    want = train_bpe_merges(texts, n_merges=40)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.lhs, r.rhs)
        for r in distributed_bpe_train(df, 40, word_partitions=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == want


def test_distributed_train_tie_breaks_and_overlaps(spark):
    """Adversarial corpus: overlapping self-pairs (aaaa -> (a,a) counted
    3x, merged non-overlapping left-to-right) and exact count ties that
    only the lexicographic (a, b) tie-break resolves."""
    from ocr_spark.operators.bpe import distributed_bpe_train

    texts = ["aaaa bbbb aaaa bbbb", "zz yy zz yy xx", "cdcd dcdc cddc"]
    want = train_bpe_merges(texts, n_merges=12)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.lhs, r.rhs)
        for r in distributed_bpe_train(df, 12, word_partitions=1)
        .orderBy("rank")
        .collect()
    ]
    assert got == want


def test_distributed_train_unicode_parity(spark):
    """Non-ASCII corpora: Spark's UTF8_BINARY tie-break order must equal
    Python's code-point tuple order (UTF-8 byte order is code-point
    order), and the (.) char split must agree with Python's tuple()."""
    from ocr_spark.operators.bpe import distributed_bpe_train

    texts = ["日本語の文章 日本語の文章 正確で速い", "中文网页正文 中文网页", "éèêë éèê ü"]
    want = train_bpe_merges(texts, n_merges=16)
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.lhs, r.rhs)
        for r in distributed_bpe_train(df, 16, word_partitions=1)
        .orderBy("rank")
        .collect()
    ]
    assert got == want


def test_trained_merges_feed_the_encoder(spark):
    """Lifecycle closure: merges learned by the distributed trainer
    drive the production encoder to the same tokens as the classic
    priority loop under the same table."""
    from ocr_spark.operators.bpe import (
        bpe_tokenize_stats_production,
        distributed_bpe_train,
    )

    texts = [ln for ln in SEED_CORPUS if ln.strip()]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    learned = [
        (r.lhs, r.rhs)
        for r in distributed_bpe_train(df, 24, word_partitions=2)
        .orderBy("rank")
        .collect()
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r.n_bpe_tokens
        for r in bpe_tokenize_stats_production(docs, merges=learned).collect()
    }
    for i, t in enumerate(texts):
        want = sum(
            len(classic_bpe_encode(w, learned)) for w in re.findall(BPE_PATTERN, t)
        )
        assert rows[i] == want, (i, t)
