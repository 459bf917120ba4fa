"""p06 training-shard writer E2E at scale: kill -> resume -> no-op over
a corpus ~40x the sf0.1 documents table, launched the production way
(`spark-submit --py-files build/ocr_spark.zip tools/shard_job.py`).

Pipeline under test is exactly the catalog entry's: production BPE
tokenize (broadcast ranks + mapInPandas) -> token-window chunking ->
salted next-fit packing -> shard_assign + write_shards with the
write-data-then-marker commit protocol. Three timed phases:

  1. killed run: only the first --kill-shards uncommitted shards commit;
  2. resuming run: completes every remaining shard;
  3. no-op run: must process 0 shards (all markers present).

Invariants checked from DISK, not memory: the union of phase-1+2
manifests covers every assigned shard exactly once, per-shard token
sums equal the packed frame's, and phase 3 is a no-op.

Usage:
  python tools/shard_job.py [--n-docs 192000] [--words 80]
      [--kill-shards 40] [--cores 16] [--out /tmp/shard_e2e.json]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_VOCAB = 3000


def synth_documents(n_docs: int, words: int) -> "pd.DataFrame":
    """Deterministic Zipf-ish pseudo-word corpus (same generator family
    as tools/bpe_scale_probe.py, parameterized)."""
    import pandas as pd

    rng = random.Random(42)
    syl = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"]
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < N_VOCAB:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    texts = []
    for _ in range(n_docs):
        idx = [min(int(rng.random() ** 2 * N_VOCAB), N_VOCAB - 1) for _ in range(words)]
        texts.append(" ".join(vocab[i] for i in idx))
    return pd.DataFrame({"doc_id": range(n_docs), "text": texts})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=192_000)
    ap.add_argument("--words", type=int, default=80)
    ap.add_argument("--kill-shards", type=int, default=40)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ocr_spark.operators.bpe import bpe_token_arrays_production
    from ocr_spark.operators.chunking import CHUNK_TOKENS, chunk_token_arrays, pack_chunks
    from ocr_spark.operators.shards import (
        read_manifest,
        shard_assign,
        write_shards,
    )
    from ocr_spark.scratch import scratch_dir
    from ocr_spark.session import build_session

    spark = build_session("shard-e2e", cores=args.cores)

    # content-keyed: a run of another size never reuses this corpus
    corpus_path = os.path.join(
        tempfile.gettempdir(),
        f"ocr_spark_shard_e2e_corpus_{args.n_docs}x{args.words}",
    )
    if not os.path.isdir(corpus_path):
        pdf = synth_documents(args.n_docs, args.words)
        spark.createDataFrame(pdf).repartition(args.cores * 4).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    docs = spark.read.parquet(corpus_path)
    n_docs = docs.count()

    out_dir = scratch_dir(spark, "shard_e2e_out")

    def packed_frame():
        toks = bpe_token_arrays_production(docs)
        chunks = chunk_token_arrays(toks, window=CHUNK_TOKENS, stride=CHUNK_TOKENS)
        return pack_chunks(chunks.select("doc_id", "chunk_idx", "n_chunk_tokens"))

    walls = {}
    t0 = time.perf_counter()
    r1 = write_shards(spark, packed_frame(), out_dir, run_id="e2e", max_shards=args.kill_shards)
    walls["killed_run_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    r2 = write_shards(spark, packed_frame(), out_dir, run_id="e2e")
    walls["resume_run_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    r3 = write_shards(spark, packed_frame(), out_dir, run_id="e2e")
    walls["noop_run_s"] = round(time.perf_counter() - t0, 2)

    # disk-truth invariants
    packed = packed_frame()
    assigned = shard_assign(packed)
    expect = (
        assigned.groupBy("pack_group", "shard_idx")
        .agg(F.count(F.lit(1)).alias("n_chunks"), F.sum("n_chunk_tokens").alias("n_tokens"))
    )
    manifest = read_manifest(spark, out_dir).filter(F.col("run_id") == "e2e")
    diff = (
        expect.join(manifest, ["pack_group", "shard_idx"], "full_outer")
        .filter(
            expect["n_chunks"].isNull()
            | manifest["n_chunks"].isNull()
            | (expect["n_chunks"] != manifest["n_chunks"])
            | (expect["n_tokens"] != manifest["n_tokens"])
        )
        .count()
    )
    dupes = manifest.groupBy("shard_id").count().filter("count > 1").count()
    n_shards = manifest.count()

    result = {
        "metric": "p06_shard_writer_e2e",
        "n_docs": n_docs,
        "cores": args.cores,
        "kill_shards": args.kill_shards,
        "shards_total": n_shards,
        "phases": {
            "killed": r1["shards_processed"],
            "resume": r2["shards_processed"],
            "noop": r3["shards_processed"],
        },
        "walls": walls,
        "manifest_matches_assignment": diff == 0,
        "no_duplicate_markers": dupes == 0,
        "noop_is_noop": r3["shards_processed"] == 0,
    }
    print(json.dumps(result))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(result, f)
    spark.stop()
    ok = result["manifest_matches_assignment"] and result["no_duplicate_markers"] and result["noop_is_noop"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
