"""Settings kept in one place: the session conf both entry points apply,
and the driver-gate order derived from the CORRECTNESS_r*.json rows."""

from __future__ import annotations

import importlib.util
import json
import os

import __spark_entry__ as entrymod
from ocr_spark.plans import QUERIES
from ocr_spark.session import CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE_CAP = 50


def test_spark_submit_session_applies_session_conf(spark):
    spec = importlib.util.spec_from_file_location(
        "extract_job", os.path.join(REPO, "tools", "extract_job.py")
    )
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    for key in CONF:
        spark.conf.unset(key)
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch") != CONF[
        "spark.sql.execution.arrow.maxBytesPerBatch"
    ]
    try:
        session = job.job_session()
        assert {k: session.conf.get(k) for k in CONF} == CONF
    finally:
        for key, value in CONF.items():
            spark.conf.set(key, value)


def test_gate_order_is_derived_from_correctness_rows():
    order = list(entrymod.queries())
    assert sorted(order) == sorted(QUERIES)
    latest = entrymod.latest_green()
    rounds = [latest.get(n, 0) for n in order]
    assert rounds == sorted(rounds)

    with open(os.path.join(REPO, "CORRECTNESS_r05.json")) as fh:
        r05 = json.load(fh)
    not_green_r05 = {n for n in QUERIES if n not in r05 or not entrymod._green(r05[n])}
    assert set(order[:GATE_CAP]) == not_green_r05
    assert {n[:3] for n in order[:5]} == {"x04", "x05", "x06", "x07", "x08"}

    assert entrymod.gate_order([*order, "z99_never_gated"])[0] == "z99_never_gated"
    oracle_order = list(entrymod.oracle_sql())
    assert oracle_order == [n for n in order if n in oracle_order]
