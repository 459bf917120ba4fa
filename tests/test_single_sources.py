"""Settings kept in one place: the session conf both entry points apply,
and the driver-gate rotation list within the gate's 50-entry cap."""

from __future__ import annotations

import importlib.util
import os

from ocr_spark.plans import DRIVER_PRIORITY, QUERIES, load_all
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


def test_driver_priority_fits_the_gate():
    load_all()
    assert len(DRIVER_PRIORITY) <= GATE_CAP
    assert len(set(DRIVER_PRIORITY)) == len(DRIVER_PRIORITY)
    assert set(DRIVER_PRIORITY) <= set(QUERIES)
    assert list(QUERIES)[: len(DRIVER_PRIORITY)] == DRIVER_PRIORITY
