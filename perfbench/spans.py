"""Spans around public calls, and per-layer numbers from Spark's event log.

A span is recorded around each public library call of a timed pass. In a
traced run its id becomes the Spark job description, so every job, stage
and task in the event log links back to the call that caused it.
``layer_table`` then turns the log into per-pass layer numbers.

Self-time model (wall seconds, per pass). A pass is partitioned into its
spans plus ``unattributed_s`` (benchmark time between calls). A
``lineage.*`` span is split further by the stages of its data-write
execution (the SQL execution that runs ``MapInPandas``):

* ``extract``      = extract-stage wall x Python share of its task time
                     (start + initialize + run Python workers)
* ``sources``      = scan-stage wall x non-shuffle-write share of its task time
* ``partitioning`` = scan-stage wall x shuffle-write share
                     + extract-stage wall x shuffle-fetch-wait share
* ``lineage``      = the rest of the span: planning, output write,
                     read-back and markers.

A curation-entry span counts wholly to its module (``dedup.wall_s`` ...).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

# SQL metric names of MapInPandas in the event log (Spark 4.1).
PY_RUN = "time to run Python workers"
PY_INIT = "time to initialize Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SCAN_TIME = "scan time"

CURATE_MODULES = ("dedup", "textstats", "curation", "bpe")
LINEAGE_PARTS = ("plan", "write", "readback", "extract", "sources", "partitioning")


class Tracer:
    """Records spans in memory; with ``sc`` set, labels Spark jobs too."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.pass_idx: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = f"{name}#{len(self.spans)}"
        if self.sc is not None:
            self.sc.setJobDescription(sid)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(
                {"id": sid, "name": name, "pass": self.pass_idx, "t0": t0, "t1": t1}
            )


def spark_conf(log_dir: str) -> dict:
    """Session conf that writes one uncompressed, non-rolling event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class EventLog:
    """Jobs, stages and tasks of one application, indexed for the spans."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_wall: dict[int, tuple[float, float]] = {}
        self.stage_job: dict[int, int] = {}
        tasks: list[dict] = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "exec": props.get("spark.sql.execution.id"),
                    "submit": e["Submission Time"] / 1000,
                    "complete": None,
                }
                for s in e["Stage IDs"]:
                    self.stage_job.setdefault(s, e["Job ID"])
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["complete"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    self.stage_wall[info["Stage ID"]] = (
                        info["Submission Time"] / 1000,
                        info["Completion Time"] / 1000,
                    )
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e["Task Info"]
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                accum: dict[str, float] = {}
                for a in info.get("Accumulables", []):
                    try:  # SQL metric updates are logged as strings
                        v = float(a["Update"])
                    except (KeyError, TypeError, ValueError):
                        continue
                    accum[a["Name"]] = accum.get(a["Name"], 0) + v
                tasks.append(
                    {
                        "stage": e["Stage ID"],
                        "launch": info["Launch Time"] / 1000,
                        "finish": info["Finish Time"] / 1000,
                        "run_ms": m.get("Executor Run Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_write_ns": sw.get("Shuffle Write Time", 0),
                        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
                        "accum": accum,
                    }
                )
        self.stage_tasks: dict[int, list[dict]] = {}
        for t in tasks:
            self.stage_tasks.setdefault(t["stage"], []).append(t)
        self.job_tasks: dict[int, list[dict]] = {}
        for s, ts in self.stage_tasks.items():
            if s in self.stage_job:
                self.job_tasks.setdefault(self.stage_job[s], []).extend(ts)

    def jobs_of(self, span_id: str) -> list[int]:
        return sorted(j for j, v in self.jobs.items() if v["desc"] == span_id)


def _acc(tasks: list[dict], name: str) -> float:
    return sum(t["accum"].get(name, 0) for t in tasks)


def _split_lineage_span(log: EventLog, span: dict, jobs: list[int]) -> dict:
    """Phase walls and layer self-times of one ``lineage.*`` call."""
    wall = span["t1"] - span["t0"]
    py_jobs = [j for j in jobs if _acc(log.job_tasks.get(j, []), PY_RUN) > 0]
    out = dict.fromkeys(LINEAGE_PARTS, 0.0)
    if not py_jobs:  # nothing to extract: the whole call is planning
        out["plan"] = wall
        return out
    exec_id = log.jobs[py_jobs[0]]["exec"]
    wjobs = [j for j in jobs if log.jobs[j]["exec"] == exec_id]
    w0 = min(log.jobs[j]["submit"] for j in wjobs)
    w1 = max(log.jobs[j]["complete"] for j in wjobs)
    out["plan"] = w0 - span["t0"]
    out["write"] = w1 - w0
    out["readback"] = span["t1"] - w1
    for s, j in log.stage_job.items():
        if j not in wjobs or s not in log.stage_wall:
            continue
        ts = log.stage_tasks.get(s, [])
        run_ms = sum(t["run_ms"] for t in ts)
        if not run_ms:
            continue
        a, b = log.stage_wall[s]
        py_ms = _acc(ts, PY_RUN) + _acc(ts, PY_INIT) + _acc(ts, PY_START)
        if py_ms > 0:
            out["extract"] += (b - a) * min(1.0, py_ms / run_ms)
            fetch = sum(t["fetch_wait_ms"] for t in ts)
            out["partitioning"] += (b - a) * min(1.0, fetch / run_ms)
        elif _acc(ts, SCAN_TIME) > 0:
            sw_ms = sum(t["shuffle_write_ns"] for t in ts) / 1e6
            share = min(1.0, sw_ms / run_ms)
            out["sources"] += (b - a) * (1 - share)
            out["partitioning"] += (b - a) * share
    return out


def layer_table(
    log: EventLog, spans: list[dict], passes: list[tuple[float, float]], cores: int
) -> list[dict]:
    """One dict of per-layer numbers per timed pass."""
    rows = []
    for p, (a, b) in enumerate(passes):
        wall = b - a
        pspans = [s for s in spans if s["pass"] == p]
        r: dict[str, float] = {"wall_s": wall}
        jobs_all: list[int] = []
        lin_jobs: list[int] = []
        lin = dict.fromkeys(LINEAGE_PARTS, 0.0)
        lineage_wall = 0.0
        for m in CURATE_MODULES:
            r[f"{m}.wall_s"] = r[f"{m}.jobs"] = r[f"{m}.shuffle_bytes"] = 0
        for s in pspans:
            jobs = log.jobs_of(s["id"])
            jobs_all += jobs
            layer = s["name"].split(".")[0]
            if layer == "lineage":
                lineage_wall += s["t1"] - s["t0"]
                lin_jobs += jobs
                for k, v in _split_lineage_span(log, s, jobs).items():
                    lin[k] += v
            elif layer in CURATE_MODULES:
                tasks = [t for j in jobs for t in log.job_tasks.get(j, [])]
                r[f"{layer}.wall_s"] += s["t1"] - s["t0"]
                r[f"{layer}.jobs"] += len(jobs)
                r[f"{layer}.shuffle_bytes"] += sum(t["shuffle_bytes"] for t in tasks)
        tasks = [t for j in jobs_all for t in log.job_tasks.get(j, [])]
        # the salted exchange and the extract stage live in run_extraction;
        # t13's Arrow stage in curate_docs counts to bpe, not extract
        lt = [t for j in lin_jobs for t in log.job_tasks.get(j, [])]
        py_run = [t["run_ms"] for t in lt if t["accum"].get(PY_RUN, 0) > 0]
        r.update(
            {
                "sources.scan_s": _acc(tasks, SCAN_TIME) / 1000,
                "partitioning.shuffle_bytes": sum(t["shuffle_bytes"] for t in lt),
                "partitioning.shuffle_write_s": sum(t["shuffle_write_ns"] for t in lt) / 1e9,
                "partitioning.task_skew": (
                    max(py_run) / statistics.median(py_run)
                    if py_run and statistics.median(py_run) > 0 else 0.0
                ),
                "extract.python_run_s": _acc(lt, PY_RUN) / 1000,
                "extract.python_init_s": _acc(lt, PY_INIT) / 1000,
                "extract.python_start_s": _acc(lt, PY_START) / 1000,
                "extract.bytes_to_python": _acc(lt, PY_SENT),
                "extract.bytes_from_python": _acc(lt, PY_RECV),
                "lineage.plan_s": lin["plan"],
                "lineage.write_s": lin["write"],
                "lineage.readback_s": lin["readback"],
                "lineage.jobs": len(lin_jobs),
                "extract.self_s": lin["extract"],
                "sources.self_s": lin["sources"],
                "partitioning.self_s": lin["partitioning"],
                "lineage.self_s": lineage_wall
                - lin["extract"] - lin["sources"] - lin["partitioning"],
                "spark.jobs": len(jobs_all),
                "spark.tasks": len(tasks),
                "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
                "spark.spill_bytes": sum(t["spill"] for t in tasks),
                "spark.core_busy_ratio": sum(t["run_ms"] for t in tasks)
                / 1000 / (wall * cores),
                "spark.driver_idle_s": wall
                - _union_len([(t["launch"], t["finish"]) for t in tasks], a, b),
                "unattributed_s": wall - sum(s["t1"] - s["t0"] for s in pspans),
            }
        )
        rows.append(r)
    return rows


def mean_rows(rows: list[dict]) -> dict:
    return {k: statistics.fmean(r[k] for r in rows) for k in rows[0]}
