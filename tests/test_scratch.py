"""Per-application scratch dirs (ocr_spark.scratch): fresh on every call,
removed at interpreter exit, and swept by the next process only once
their owner is gone — a live concurrent session's root is never touched."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from types import SimpleNamespace

from ocr_spark import scratch

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# claims a root for app id argv[1], prints its dir, then either waits for
# stdin to close and exits normally, or dies without its exit hooks
_OWNER = """
import os, sys
from types import SimpleNamespace
from ocr_spark.scratch import scratch_dir
spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=sys.argv[1]))
print(os.path.dirname(scratch_dir(spark, "work")), flush=True)
if sys.argv[2] == "die":
    os._exit(0)
sys.stdin.read()
"""


def _fake_spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def _owner(tmp: str, app_id: str, mode: str) -> tuple[subprocess.Popen, str]:
    proc = subprocess.Popen(
        [sys.executable, "-c", _OWNER, app_id, mode],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        env={**os.environ, "TMPDIR": tmp, "PYTHONPATH": REPO},
    )
    return proc, proc.stdout.readline().strip()


def test_sweep_removes_dead_roots_and_keeps_live_ones(tmp_path, monkeypatch):
    tmp = str(tmp_path)
    live, live_root = _owner(tmp, "local-live", "wait")
    dead, dead_root = _owner(tmp, "local-dead", "die")
    dead.wait()
    try:
        assert os.path.isdir(live_root) and os.path.isdir(dead_root)
        monkeypatch.setattr(tempfile, "tempdir", tmp)
        monkeypatch.setattr(scratch, "_roots", {})
        mine = scratch.scratch_dir(_fake_spark("local-mine"), "work")
        assert os.path.isdir(mine)
        assert os.path.isdir(live_root)  # lock held: owner alive
        assert not os.path.exists(dead_root)  # lock free: owner gone
    finally:
        live.communicate("")
    assert live.returncode == 0
    assert not os.path.exists(live_root)  # removed by its own exit hook


def test_scratch_dir_is_fresh(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(scratch, "_roots", {})
    spark = _fake_spark("local-fresh")
    path = scratch.scratch_dir(spark, "run")
    assert path == os.path.join(str(tmp_path), "ocr_spark-local-fresh", "run")
    with open(os.path.join(path, "stale"), "w"):
        pass
    assert scratch.scratch_dir(spark, "run") == path
    assert os.listdir(path) == []
