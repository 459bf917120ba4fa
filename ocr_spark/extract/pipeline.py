"""End-to-end extraction plan assembly.

Plan shape (one wide exchange total, per SURVEY.md §4.3):

  scan pages (column-pruned: url, html, text)
    -> salted size-bucket repartition           (the one shuffle)
    -> mapInPandas EXTRACT                      (Arrow-batched Python)
    -> sink / golden-diff

The first step keeps EXTRACT_INPUT only; the second is
operators.partitioning.size_bucket_repartition, the one extraction
plan: extract_pages, the committed run (operators.lineage.run_extraction,
which tools/extract_job.py submits) and the streaming twin all call it,
so every path shuffles the same way and a bucket id never depends on
the cluster it ran on.

The EXTRACT stage is the EDT of the system (reference task execute:
`/root/reference/src/task/hc/hc-task.c:337-419` — acquire input buffers,
run user function, emit output): one Arrow batch in, one batch of
(url, extracted_text, ...) out. Per-document routing happens inside the
batch loop:

  html NULL + text present -> text branch (blank-line blocks)
  %SPDF magic              -> pdf branch (CC + baseline clustering)
  otherwise                -> html branch (DOM blocks + boilerplate)

Any per-document exception becomes a row-level error (never a task
failure) — FIXTURES §4.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ocr_spark.extract import boilerplate, dom, normalize, pdfbranch
from ocr_spark.operators.partitioning import size_bucket_repartition

# the only columns that cross into the EXTRACT stage's Python worker
EXTRACT_INPUT = ("url", "html", "text")
EXTRACT_DDL = (
    "url string, extracted_text binary, n_blocks_kept int, "
    "branch string, error string, bucket int, proc_us long"
)


def extract_one(html, text) -> tuple[bytes, int, str]:
    """One document -> (bytes, n_blocks_kept, branch). Pure, reusable by
    tests and by an independent single-process reference run."""
    if html is None:
        if text:
            blocks = [b for b in text.split("\n\n") if b.strip()]
            return normalize.assemble(blocks), len(blocks), "text"
        return b"", 0, "empty"
    raw = bytes(html)
    if raw.startswith(pdfbranch.MAGIC):
        lines = pdfbranch.decode_spdf(raw)
        return normalize.assemble(lines), len(lines), "pdf"
    blocks = dom.parse_blocks_fast(raw)
    kept = boilerplate.kept_texts(blocks)
    return normalize.assemble(kept), len(kept), "html"


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = len(pdf)
        out = {
            "url": pdf["url"].tolist(),
            "extracted_text": [None] * n,
            "n_blocks_kept": [0] * n,
            "branch": ["empty"] * n,
            "error": [None] * n,
            "bucket": pdf["bucket"].tolist(),
            "proc_us": [0] * n,
        }
        htmls = pdf["html"].tolist()
        texts = pdf["text"].tolist()
        for j in range(n):
            t0 = time.perf_counter_ns()
            try:
                data, n_kept, branch = extract_one(htmls[j], texts[j])
                out["extracted_text"][j] = data
                out["n_blocks_kept"][j] = n_kept
                out["branch"][j] = branch
            except Exception as e:  # noqa: BLE001 — row error, never task failure
                out["branch"][j] = "error"
                out["error"][j] = f"{type(e).__name__}: {e}"[:500]
            out["proc_us"][j] = (time.perf_counter_ns() - t0) // 1000
        yield pd.DataFrame(out)


def extract_pages(pages: DataFrame) -> DataFrame:
    """pages (url, html, text[, lang]) -> extracted rows.

    Column pruning is explicit: only EXTRACT_INPUT + bucket cross into
    Python — warc_ts/lang never pay the Arrow transfer.
    """
    return size_bucket_repartition(pages.select(*EXTRACT_INPUT)).mapInPandas(
        _extract_batches, schema=EXTRACT_DDL
    )
