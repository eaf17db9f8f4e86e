"""Python worker daemon for the engine's Spark sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts it (``python -m topicalcrawler_spark.pyworker``) in place of
``pyspark.daemon``.  It installs :func:`setup_spark_files` in
``pyspark.worker`` and then runs PySpark's own daemon loop, so every
worker the daemon forks has the fix before its first task.

Stock ``setup_spark_files`` (``pyspark/worker_util.py``) ends every task,
even in a reused worker, with ``importlib.invalidate_caches()``.  On
CPython 3.11 that makes each zipimporter on the worker's path re-parse
its archive's central directory — pyspark.zip alone has 1,328 entries —
which costs ~0.2 CPU-s per task whatever the task does.  The wrapper
keeps that invalidation only when what is importable can have changed:
when ``sys.path`` or the set of files in the SparkFiles directory
(``addPyFile``/``addFile``/``addArchive`` land there) differs from what
it was at the last invalidation.
"""

from __future__ import annotations

import importlib
import os
import sys
from typing import IO

from pyspark import worker_util
from pyspark.core.files import SparkFiles

# what sys.path and the SparkFiles directory held at this worker's last
# real invalidation; None until its first task
_importable: tuple | None = None


class _NoInvalidate:
    """Stands in for ``importlib`` inside ``pyspark.worker_util`` while the
    stock ``setup_spark_files`` runs: its closing invalidation is the only
    use of ``importlib`` there."""

    @staticmethod
    def invalidate_caches() -> None:
        pass


def _importable_state() -> tuple:
    return tuple(sys.path), frozenset(os.listdir(SparkFiles.getRootDirectory()))


def setup_spark_files(infile: IO) -> None:
    """PySpark's per-task ``setup_spark_files``, invalidating the import
    caches only if this task changed what is importable."""
    global _importable
    worker_util.importlib = _NoInvalidate
    try:
        worker_util.setup_spark_files(infile)
    finally:
        worker_util.importlib = importlib
    state = _importable_state()
    if state != _importable:
        importlib.invalidate_caches()
        _importable = state


if __name__ == "__main__":
    # Run as a script, this file is ``__main__``; install the copy that
    # is importable by name, so a task that imports this module finds
    # the function its worker actually runs.
    from pyspark import daemon, worker

    from topicalcrawler_spark import pyworker

    worker.setup_spark_files = pyworker.setup_spark_files
    daemon.manager()
