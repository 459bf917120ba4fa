"""Benchmark runner for ocr_spark: page extraction and document curation.

    python3 perfbench/run.py --workload extract_run --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The library runs
in-process on ``local[4]``. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. A traced run first repeats the untraced procedure
(for ``trace_overhead_s``), then builds a second session in the same JVM
that writes Spark's event log, and times the same passes with a span
around each public call. Spans and the per-pass layer table go to ``.perfbench_runs/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
MIN_PASSES = 2
# Peak RSS is sampled over the first timed passes only: the JVM heap keeps
# growing pass after pass, so a pass count that depends on speed would
# make the peak depend on speed too.
RSS_PASSES = 2


# --- host noise (diagnostic only; never used to rescale a metric) ------------

def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _md5_calibration_s() -> float:
    """Wall of a fixed pure-CPU md5 loop (the tools/host_probe.py shape)."""
    t0 = time.perf_counter()
    h = hashlib.md5()
    buf = b"x" * 4096
    for _ in range(10_000):
        h.update(buf)
    return time.perf_counter() - t0


def host_noise() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"md5_calibration_s": _md5_calibration_s(), "loadavg": load,
            "steal_ticks": _steal_ticks()}


# --- process tree: peak RSS and shutdown -------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of the driver JVM and its Python workers, over the
    ``with`` blocks it is entered in."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid, self.interval = jvm_pid, interval
        self.peak = 0

    def _run(self, stop: threading.Event) -> None:
        while not stop.is_set():
            self.peak = max(self.peak, sum(map(_rss_bytes, descendants(self.jvm_pid))))
            stop.wait(self.interval)

    def __enter__(self):
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(self._stop,), daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it and its workers exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = descendants(proc.pid)
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in pids[1:]:
        while _state(pid) != "Z":
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _state(pid: int) -> str:
    """Process state letter; "Z" also for a process that is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


# --- one measured phase -------------------------------------------------------

def session_conf(scratch: str) -> dict:
    """Keep the JVM's temp files and warehouse inside the scratch root."""
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }


def measure(w, seconds: float, conf: dict, tracer_factory) -> dict:
    """Session build, set-up, then timed passes for ``seconds`` (at least
    MIN_PASSES). Returns timings; the session is left running for checks."""
    from ocr_spark.session import build_session

    t0 = time.perf_counter()
    spark = build_session("perfbench", cores=CORES, extra_conf=conf)
    build_s = time.perf_counter() - t0
    tracer = tracer_factory(spark)
    w.setup(spark, tracer)
    setup_s = time.perf_counter() - t0
    walls, bounds = [], []
    rss = RssSampler(spark.sparkContext._gateway.proc.pid)
    steal0 = _steal_ticks()
    start = time.perf_counter()
    # at least MIN_PASSES; then no pass that would end past the window
    while len(walls) < MIN_PASSES or time.perf_counter() - start + walls[-1] <= seconds:
        tracer.pass_idx = len(walls)
        a, p0 = time.time(), time.perf_counter()
        if len(walls) < RSS_PASSES:
            with rss:
                w.run_pass(spark, tracer)
        else:
            w.run_pass(spark, tracer)
        walls.append(time.perf_counter() - p0)
        bounds.append((a, time.time()))
    tracer.pass_idx = None
    return {"spark": spark, "tracer": tracer, "build_s": build_s, "setup_s": setup_s,
            "walls": walls, "pass_bounds": bounds, "peak_rss": rss.peak,
            "steal_ticks": _steal_ticks() - steal0}


def main() -> int:
    # SIGTERM unwinds like an exception, so the JVM and scratch root still go
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "ocr_spark", "__init__.py")):
        print(f"perfbench: no ocr_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    # one scratch root per run: run dirs, Spark local dirs, event logs and
    # every temp dir the library makes (p06-style /tmp staging included)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=_mkdir(ROOT, ".perfbench_scratch"))
    tmp = _mkdir(scratch, "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=_mkdir(scratch, "spark-local"),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    try:
        lines = run(args, spec, scratch)
    finally:
        shutdown_jvm()
        shutil.rmtree(scratch, ignore_errors=True)
    if lines is None:
        return 1
    print("\n".join(lines), flush=True)
    return 0


def _mkdir(*parts: str) -> str:
    path = os.path.join(*parts)
    os.makedirs(path, exist_ok=True)
    return path


def run(args, spec: dict, scratch: str) -> list[str] | None:
    """Measure, check and report; returns the lines to print last."""
    import corpus
    import spans
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return None
    noise_before = host_noise()
    if not corpus.check_pages_match_fixture():
        print("perfbench: page replay differs from ocr_spark.fixtures", file=sys.stderr)
        return None
    w = WORKLOADS[args.workload]()
    w.make_inputs(_mkdir(scratch, "inputs"), args.seed)

    conf = session_conf(scratch)
    a = measure(w, args.seconds, conf, lambda spark: spans.Tracer())
    attempted, failed = w.check(a["spark"])
    wall_s = statistics.median(a["walls"])
    metrics = {
        "setup_s": a["setup_s"],
        "wall_s": wall_s,
        "docs_per_s": w.n_docs / wall_s,
    }
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "n_docs": w.n_docs, "pass_walls_s": a["walls"], "end_to_end": metrics,
              "peak_rss_mb": a["peak_rss"] / 2**20}

    if args.trace:
        # same JVM: a second cold start would push a traced run near the
        # 180 s limit on a slow host; trace_overhead_s leans low for it
        a["spark"].stop()
        w.new_phase()
        log_dir = _mkdir(scratch, "eventlog")
        b = measure(w, args.seconds, {**conf, **spans.spark_conf(log_dir)},
                    lambda spark: spans.Tracer(spark.sparkContext))
        at, fl = w.check(b["spark"])
        attempted, failed = attempted + at, failed + fl
        layers = w.layer_extras(b["spark"])
        b["spark"].stop()
        log = spans.EventLog(spans.read_event_log(log_dir))
        per_pass = spans.layer_table(log, b["tracer"].spans, b["pass_bounds"], CORES)
        layers.update(spans.mean_rows(per_pass))
        layers.update(w.direct_calls())
        layers["session.build_s"] = a["build_s"]
        layers["peak_rss_mb"] = report["peak_rss_mb"]
        layers["extract.crossing_s"] = layers["extract.python_run_s"] - layers.get(
            "extract.row_proc_s", 0.0)
        layers["trace_overhead_s"] = statistics.median(b["walls"]) - wall_s
        metrics = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        report.update(traced_pass_walls_s=b["walls"], spans=b["tracer"].spans,
                      layers_per_pass=per_pass, per_layer=metrics)
        spec_metrics = spec["per_layer"]
    else:
        spec_metrics = spec["end_to_end"]

    units = {m["name"]: m["unit"] for m in spec_metrics}
    report["host_noise"] = {"before": noise_before, "after": host_noise(),
                            "steal_ticks_timed": a["steal_ticks"]}
    out_dir = _mkdir(ROOT, ".perfbench_runs")
    out_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return [
        "host: " + json.dumps(report["host_noise"]),
        "summary: " + " ".join(f"{k}={metrics[k]:.6g}{units[k]}" for k in units),
        json.dumps(result),
    ]


if __name__ == "__main__":
    sys.exit(main())
