"""Resume across core counts (FIXTURES.md §3 restart, adversarial): a
committed run of the spark-submit entry point finished at local[2] and
re-run at local[4] with the same run dir and run id must be a no-op,
and the output must hold exactly one row per input url.

Bucket ids decide which urls a marker covers. When the salt count
followed the core count, the local[4] re-run bucketed every url anew,
found "uncommitted" buckets and appended duplicate rows (and a 4 -> 2
resume dropped urls), while both runs reported success."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

from ocr_spark.fixtures import pages_df

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = 300


def _run_job(
    cores: int, input_dir: str, run_dir: str, out_json: str
) -> subprocess.CompletedProcess:
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return subprocess.run(
        [
            os.path.join(_find_spark_home(), "bin", "spark-submit"),
            "--master", f"local[{cores}]",
            "--conf", "spark.ui.enabled=false",
            os.path.join(REPO, "tools", "extract_job.py"),
            "--input", input_dir,
            "--run-dir", run_dir,
            "--run-id", "r",
            "--out", out_json,
        ],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )


def _submit(cores: int, input_dir: str, run_dir: str, out_json: str) -> dict:
    proc = _run_job(cores, input_dir, run_dir, out_json)
    assert proc.returncode == 0, proc.stderr[-3000:]
    with open(out_json) as f:
        return json.load(f)


def test_resume_at_another_core_count_is_noop(spark, tmp_path):
    input_dir = str(tmp_path / "pages")
    pages = pages_df(spark, N_DOCS)
    pages.write.parquet(input_dir)
    run_dir = str(tmp_path / "run")

    first = _submit(2, input_dir, run_dir, str(tmp_path / "first.json"))
    assert first["cores"] == 2
    assert first["rows"] == N_DOCS and first["buckets_processed"] > 0

    second = _submit(4, input_dir, run_dir, str(tmp_path / "second.json"))
    assert second["cores"] == 4
    assert second["buckets_processed"] == 0 and second["rows"] == 0

    out = spark.read.parquet(os.path.join(run_dir, "extracted"))
    assert out.count() == N_DOCS
    assert out.select("url").distinct().count() == N_DOCS
    assert out.join(pages.select("url"), "url", "left_anti").count() == 0
    # the result line times the committed run
    assert first["wall_s"] > 0 and first["docs_per_sec"] > 0


def test_duplicate_urls_fail_before_any_write(spark, tmp_path):
    """FIXTURES.md §4 under spark-submit: an input with a duplicate url
    row makes the job exit non-zero naming the url, and nothing is
    extracted into the run dir. spark-submit's Python runner merges the
    job's stderr into its stdout, so the url is looked for in both."""
    input_dir = str(tmp_path / "pages")
    pages = pages_df(spark, 20)
    dup = pages.limit(1)
    (url,) = dup.select("url").first()
    pages.unionByName(dup).write.parquet(input_dir)
    run_dir = str(tmp_path / "run")

    proc = _run_job(2, input_dir, run_dir, str(tmp_path / "out.json"))
    assert proc.returncode != 0
    output = proc.stdout + proc.stderr
    assert f"duplicate url in input: {url!r}" in output, output[-3000:]
    assert not os.path.exists(os.path.join(run_dir, "extracted"))
