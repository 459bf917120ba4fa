"""Production-vocab BPE scale probe (VERDICT r04 punch item #2 'Done'
criterion): a bench row at >=1k merges for the mapInPandas encoder.

The driver-generated documents tables carry only 31 distinct pre-tokens
(their trainable-vocabulary ceiling is ~107 merges — measured), so the
probe synthesises a deterministic rich corpus: seeded syllable
pseudo-words (~3,000 distinct), 2,000 docs x 300 words. Then:

  1. train a 1,024-merge table on that corpus (classic trainer);
  2. time the mapInPandas encoder (broadcast ranks) over the corpus,
     min-of-3, and cross-check 20 sampled docs against the classic
     GPT-2 loop.

Writes BENCH/BPE_SCALE.md + prints one JSON line.

Usage: python tools/bpe_scale_probe.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_MERGES_BIG = 1024
N_DOCS = 2000
WORDS_PER_DOC = 300
N_VOCAB = 3000


def synth_corpus() -> list[str]:
    """Deterministic pseudo-word corpus with a real trainable vocabulary
    (Zipf-ish repetition so the production path's word cache is
    exercised the way crawl text exercises it)."""
    rng = random.Random(42)
    syl = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"]
    vocab: list[str] = []
    seen = set()
    while len(vocab) < N_VOCAB:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    # Zipf-ish: rank-weighted sampling via an index^2 skew
    docs = []
    for _ in range(N_DOCS):
        idx = [min(int(rng.random() ** 2 * N_VOCAB), N_VOCAB - 1) for _ in range(WORDS_PER_DOC)]
        docs.append(" ".join(vocab[i] for i in idx))
    return docs


def main() -> int:
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    texts = synth_corpus()

    from ocr_spark.operators.bpe import classic_bpe_encode, train_bpe_merges

    t0 = time.perf_counter()
    big = train_bpe_merges(texts[:200], n_merges=N_MERGES_BIG)
    train_s = time.perf_counter() - t0
    print(f"trained {len(big)} merges in {train_s:.1f}s", file=sys.stderr)
    assert len(big) >= 1000, f"corpus too poor: {len(big)} merges"

    from ocr_spark.operators.bpe import bpe_tokenize_stats_production
    from ocr_spark.session import build_session

    spark = build_session("bpe-scale-probe", cores=cores)
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    corpus_path = os.path.join("/tmp", "ocr_spark_bpe_probe_corpus")
    docs.write.mode("overwrite").parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    n_docs = docs.count()

    prod_best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        bpe_tokenize_stats_production(docs, merges=big).count()
        prod_best = min(prod_best, time.perf_counter() - t0)

    # correctness spot-check vs the classic loop at the big vocab
    import re

    from ocr_spark.operators.textstats import BPE_PATTERN

    pat = re.compile(BPE_PATTERN)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_tokenize_stats_production(docs, merges=big)
        .filter("doc_id % 100 = 0")
        .collect()
    }
    for i in range(0, N_DOCS, 100):
        want = sum(len(classic_bpe_encode(w, big)) for w in pat.findall(texts[i]))
        assert got[i] == want, (i, got[i], want)
    spark.stop()

    out = {
        "metric": "bpe_1024_merge_tokenize",
        "n_merges": len(big),
        "train_s": round(train_s, 1),
        "n_docs": n_docs,
        "words_per_doc": WORDS_PER_DOC,
        "distinct_vocab": N_VOCAB,
        "production_wall_s": round(prod_best, 2),
        "production_docs_per_s": round(n_docs / prod_best, 1),
        "cores": cores,
        "classic_loop_spot_check": "passed (20 sampled docs)",
    }
    print(json.dumps(out))
    md = os.path.join(REPO, "BENCH", "BPE_SCALE.md")
    with open(md, "w") as fh:
        fh.write(
            "# BPE production-vocab scale probe\n\n"
            "Generated by tools/bpe_scale_probe.py — see its docstring for method.\n\n"
            "```json\n" + json.dumps(out, indent=1) + "\n```\n"
        )
    return 0


if __name__ == "__main__":
    main()
