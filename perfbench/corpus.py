"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``--seed``; nothing here touches Spark.

* ``pages(start, n)`` — rows ``start .. start+n-1`` of the
  ``ocr_spark.fixtures`` page corpus (html / pdf / text branch mix and the
  1-in-500 skew tail), each with its golden text. ``fixtures.gen_corpus``
  only produces rows from 0, so the row plan is replayed here on the
  fixture's own per-row builders; ``check_pages_match_fixture`` pins the
  replay to ``gen_corpus`` on the first rows of every run.
* ``documents(n, seed)`` — a ``documents`` table in the testdata schema
  of TESTDATA.md (doc_id, text, lang, source, n_chars) with sf0.1's
  length, language and source mix plus a stated share of duplicates.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from ocr_spark import fixtures
from ocr_spark.extract.normalize import assemble

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
_T0 = datetime(2025, 1, 1, tzinfo=timezone.utc)
# Page row i has warc_ts = _T0 + 137 i seconds and an 8-digit url, so a
# seed picks one of SEED_SLOTS doc-id windows; any larger offset would run
# the timestamps past what pandas and Parquet hold.
SEED_SLOTS = 1000


def seed_slot(seed: int) -> int:
    """Window index of ``seed``: any integer, negative ones included."""
    return seed % SEED_SLOTS


def _page_row(i: int) -> dict:
    """Row ``i`` of ``fixtures.gen_corpus`` (same row plan, same builders)."""
    rng = fixtures._rng(i)
    lang = fixtures.LANGS[i % 8]
    html = text = None
    if i % 100 == 7:
        text, golden_blocks = fixtures._text_doc(i, rng, lang)
        branch = "text"
    elif i % 20 == 3:
        html, golden_blocks = fixtures._pdf_page(rng)
        branch = "pdf"
    else:
        title = fixtures._title(rng, lang)
        pars = fixtures._paragraphs(i, rng, lang)
        html, golden_blocks = fixtures._html_page(i, rng, lang, title, pars)
        branch = "html"
    return {
        "url": f"https://site{i % 1000}.example/p/{i:08d}",
        "warc_ts": _T0 + timedelta(seconds=i * 137),
        "html": html,
        "text": text,
        "lang": lang,
        "golden_text": assemble(golden_blocks),
        "golden_branch": branch,
    }


def pages(start: int, n: int) -> pd.DataFrame:
    return pd.DataFrame([_page_row(i) for i in range(start, start + n)])


def check_pages_match_fixture(n: int = 120) -> bool:
    """The replayed rows equal ``fixtures.gen_corpus`` on rows 0..n-1."""
    ours = pages(0, n)
    ref = fixtures.gen_corpus(n)
    cols = PAGE_COLS + ["golden_text", "golden_branch"]
    return ours[cols].equals(ref[cols])


# --- documents table ---------------------------------------------------------

# The sf0.1 vocabulary: 30 words, every language drawn from the same pool.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# sf0.1 language mix in percent: en 41, zh 15, es 15, fr 15, de 14.
LANG_MIX = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]
N_SOURCES = 20  # source = 'src' || doc_id % 20, as in sf0.1
MIN_WORDS, MAX_WORDS = 10, 100  # sf0.1: 10..100 words, 44..577 chars
EXACT_DUP_SHARE = 0.02  # copy of an earlier doc's text
NEAR_DUP_SHARE = 0.05  # an earlier doc's text + " dup" (sf0.1's near-dup form)


def documents(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed % 2**64)  # numpy takes no negative seed
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, n_words)]
    kind = rng.random(n)
    origin = (rng.random(n) * np.arange(n)).astype(np.int64)  # an earlier doc
    for i in range(1, n):
        if kind[i] < EXACT_DUP_SHARE:
            texts[i] = texts[origin[i]]
        elif kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            texts[i] = texts[origin[i]] + " dup"
    langs = np.array([l for l, pct in LANG_MIX for _ in range(pct)], dtype=object)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
