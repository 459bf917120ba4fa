"""Per-application scratch dirs that clean up after themselves.

Catalog entries that stage inputs or drive a resumable run need a
private directory that outlives the entry call (the returned DataFrame
reads it lazily) but not the process. Every such dir lives under one
root per Spark application, ``<tmp>/ocr_spark-<appId>/``:

  - the root is removed when the interpreter exits (``atexit``);
  - the root holds an ``fcntl.flock`` on its ``.lock`` file for the
    process's lifetime, so the first use in any process can sweep the
    sibling roots of processes that died without their exit hook,
    while the roots of live concurrent sessions (lock held) stay.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

PREFIX = "ocr_spark-"

_roots: dict[str, str] = {}  # applicationId -> root of this process


def scratch_dir(spark: SparkSession, name: str) -> str:
    """A fresh, empty ``<tmp>/ocr_spark-<appId>/<name>`` dir."""
    app_id = spark.sparkContext.applicationId
    if app_id not in _roots:
        if not _roots:
            _sweep()
        _roots[app_id] = _claim_root(app_id)
    path = os.path.join(_roots[app_id], name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _claim_root(app_id: str) -> str:
    base = tempfile.gettempdir()
    root = os.path.join(base, PREFIX + app_id.replace(":", "_"))
    # the lock (held until exit: fd stays open) is taken before the root
    # gets a name the sweep matches, so no sweep sees a live root unlocked
    staging = tempfile.mkdtemp(prefix="." + PREFIX, dir=base)
    fd = os.open(os.path.join(staging, ".lock"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX)
    os.rename(staging, root)
    atexit.register(_remove, root, os.getpid())
    return root


def _remove(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:  # not in a forked child
        shutil.rmtree(root, ignore_errors=True)


def _sweep() -> None:
    """Remove the sibling roots whose owning process is gone."""
    for root in glob.glob(os.path.join(tempfile.gettempdir(), PREFIX + "*")):
        try:
            fd = os.open(os.path.join(root, ".lock"), os.O_RDWR)
        except OSError:  # not a root this helper made
            continue
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:  # owner alive
            continue
        else:
            shutil.rmtree(root, ignore_errors=True)
        finally:
            os.close(fd)
