"""The workloads: inputs, set-up, one timed pass, correctness checks.

Each workload drives the library only through public calls and times
them from outside. Contract of a workload object ``w``:

* ``w.make_inputs(root, seed)`` — seeded input generation (not timed).
* ``w.setup(spark, tracer)`` — input read plus full-size warm-up passes
  (timed as part of ``setup_s``).
* ``w.run_pass(spark, tracer)`` — one timed pass.
* ``w.check(spark)`` — ``(attempted, failed)`` over every pass so far.
* ``w.new_phase()`` — forget passes already checked.
* ``w.layer_extras(spark)`` — per-pass numbers read from outputs.
* ``w.direct_calls()`` — per-stage extract timings in this process.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import corpus
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_spark import oracle
from ocr_spark.extract import boilerplate, dom, normalize, pdfbranch
from ocr_spark.operators import lineage
from ocr_spark.plans import ORACLE, QUERIES, load_all
from ocr_spark.schema import PAGES_SCHEMA


_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _write_pages(pdf, path: str, n_files: int = 4) -> None:
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf[corpus.PAGE_COLS], schema=_PAGES_ARROW, preserve_index=False)
    step = -(-len(pdf) // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))


def _dir_files(path: str) -> tuple[int, int]:
    """Data files and their bytes under ``path`` (checksums excluded)."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


class ExtractRun:
    """A fresh ``run_extraction`` per pass over the fixture page corpus, with
    a byte-for-byte golden check of every committed row."""

    name = "extract_run"
    # seed s -> fixture doc ids [6000 k, 6000 k + 6000) with k = s mod
    # corpus.SEED_SLOTS. At 4,000 docs the
    # commit layer's fixed per-call jobs outweighed the extract stage.
    n_docs = 6000

    def make_inputs(self, root: str, seed: int) -> None:
        self.root = root
        self.pages_pdf = corpus.pages(corpus.seed_slot(seed) * self.n_docs, self.n_docs)
        self.golden = dict(zip(self.pages_pdf["url"], self.pages_pdf["golden_text"]))
        self.input_path = os.path.join(root, "pages")
        _write_pages(self.pages_pdf, self.input_path)
        self.run_ids = itertools.count()
        self.new_phase()

    def new_phase(self) -> None:
        """Forget checked passes; checks and extras cover later ones only."""
        self.passes: list[str] = []

    def setup(self, spark, tracer) -> None:
        """Input read and two full-size warm-up passes: after only one, the
        first timed pass ran 10-20 % slower than later ones."""
        self.pages = spark.read.schema(PAGES_SCHEMA).parquet(self.input_path)
        self.run_pass(spark, tracer)
        self.run_pass(spark, tracer)
        self.warm, self.passes = self.passes, []

    def run_pass(self, spark, tracer) -> None:
        out = os.path.join(self.root, f"run{next(self.run_ids)}")
        with tracer.span("lineage.run_extraction"):
            lineage.run_extraction(spark, self.pages, out, run_id="bench")
        self.passes.append(out)

    def check(self, spark) -> tuple[int, int]:
        attempted = failed = 0
        for out in self.warm + self.passes:
            # lineage keeps committed rows under <run dir>/extracted
            rows = (
                spark.read.parquet(os.path.join(out, "extracted"))
                .select("url", "extracted_text", "branch")
                .toPandas()
            )
            attempted += self.n_docs
            seen = set()
            for url, text, branch in zip(rows["url"], rows["extracted_text"], rows["branch"]):
                ok = (
                    url in self.golden
                    and url not in seen
                    and branch != "error"
                    and bytes(text) == self.golden[url]
                )
                seen.add(url)
                failed += not ok
            failed += self.n_docs - len(seen & self.golden.keys())
        return attempted, failed

    def layer_extras(self, spark) -> dict:
        """Per-pass means of numbers read back from each pass's output."""
        rows = []
        for out in self.passes:
            ms = [r[0] for r in lineage.read_metrics(spark, out).select("wall_time_ms").collect()]
            proc_us = spark.read.parquet(os.path.join(out, "extracted")).agg(
                {"proc_us": "sum"}
            ).collect()[0][0]
            files, size = _dir_files(out)
            rows.append(
                {
                    "extract.row_proc_s": proc_us / 1e6,
                    "lineage.files_written": files,
                    "lineage.bytes_written": size,
                    "lineage.bucket_ms_p50": statistics.median(ms),
                    "lineage.bucket_ms_max": max(ms),
                }
            )
        return {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}

    def direct_calls(self) -> dict:
        """us/doc of each extract stage, called directly over this corpus."""
        t = {"dom": 0, "boilerplate": 0, "normalize": 0, "pdfbranch": 0}
        n = dict.fromkeys(t, 0)
        clock = time.perf_counter_ns
        for html, text in zip(self.pages_pdf["html"], self.pages_pdf["text"]):
            if html is None:
                t0 = clock()
                normalize.assemble([b for b in text.split("\n\n") if b.strip()])
                t["normalize"] += clock() - t0
                n["normalize"] += 1
                continue
            raw = bytes(html)
            if raw.startswith(pdfbranch.MAGIC):
                t0 = clock()
                lines = pdfbranch.decode_spdf(raw)
                t1 = clock()
                normalize.assemble(lines)
                t["pdfbranch"] += t1 - t0
                t["normalize"] += clock() - t1
                n["pdfbranch"] += 1
                n["normalize"] += 1
                continue
            t0 = clock()
            blocks = dom.parse_blocks_fast(raw)
            t1 = clock()
            kept = boilerplate.kept_texts(blocks)
            t2 = clock()
            normalize.assemble(kept)
            t["dom"] += t1 - t0
            t["boilerplate"] += t2 - t1
            t["normalize"] += clock() - t2
            for k in ("dom", "boilerplate", "normalize"):
                n[k] += 1
        return {f"extract.{k}.us_per_doc": t[k] / 1000 / n[k] for k in t}


class CurateDocs:
    """Registered catalog entries over a seeded ``documents`` table."""

    name = "curate_docs"
    n_docs = 6000  # 1.2x sf0.1's 5,000 docs; larger does not fit the run budget
    # one entry per curation-layer module, in pass order
    ENTRIES = (
        ("dedup", "d01_exact_dedup"),
        ("textstats", "t01_token_stats"),
        ("curation", "p05_curation_funnel"),
        ("bpe", "t13_bpe_tokenize"),
    )

    def make_inputs(self, root: str, seed: int) -> None:
        import duckdb

        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.data_dir)
        path = os.path.join(self.data_dir, "documents.parquet")
        corpus.documents(self.n_docs, seed).to_parquet(path, index=False)
        load_all()
        con = duckdb.connect()
        oracle.register_duckdb_views(con, self.data_dir, ["documents"])
        self.expected = {}
        for _, name in self.ENTRIES:
            rel = con.sql(ORACLE[name])
            self.expected[name] = (sorted(rel.columns), oracle.canon(rel.fetchall(), rel.columns))
        con.close()

    def new_phase(self) -> None:
        pass

    def setup(self, spark, tracer) -> None:
        """Two full-size warm-up passes. The first collects every entry for
        the check; the second warms the ``noop`` sink path the timed passes
        take: without it the timed passes kept getting faster, pass after
        pass."""
        self.got = {}
        for _, name in self.ENTRIES:
            sdf = QUERIES[name](spark, self.data_dir)
            rows = [tuple(r) for r in sdf.collect()]
            self.got[name] = (sorted(sdf.columns), oracle.canon(rows, sdf.columns))
        self.run_pass(spark, tracer)

    def run_pass(self, spark, tracer) -> None:
        for module, name in self.ENTRIES:
            with tracer.span(f"{module}.{name}"):
                sdf = QUERIES[name](spark, self.data_dir)
                sdf.write.format("noop").mode("overwrite").save()

    def check(self, spark) -> tuple[int, int]:
        failed = sum(self.got[n] != self.expected[n] for _, n in self.ENTRIES)
        return len(self.ENTRIES), failed

    def layer_extras(self, spark) -> dict:
        return {}

    def direct_calls(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (ExtractRun, CurateDocs)}
