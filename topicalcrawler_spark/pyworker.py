"""Python worker daemon for the engine's Spark sessions.

``get_spark`` sets ``spark.python.daemon.module`` to this module, so the
JVM starts it (``python -m topicalcrawler_spark.pyworker``) in place of
``pyspark.daemon``.  It installs :func:`setup_spark_files` in
``pyspark.worker``, imports :data:`PRELOAD`, and then runs PySpark's own
daemon loop, so every worker the daemon forks has the fix and the
modules before its first task.

Stock ``setup_spark_files`` (``pyspark/worker_util.py``) ends every task,
even in a reused worker, with ``importlib.invalidate_caches()``.  On
CPython 3.11 that makes each zipimporter on the worker's path re-parse
its archive's central directory — pyspark.zip alone has 1,328 entries —
which costs ~0.2 CPU-s per task whatever the task does.  The wrapper
keeps that invalidation only when what is importable can have changed:
when ``sys.path`` or the set of files in the SparkFiles directory
(``addPyFile``/``addFile``/``addArchive`` land there) differs from what
it was at the last invalidation.

Warm forks.  The stock daemon imports numpy but not pandas or pyarrow,
so a worker it forks imports them, and the engine's UDF modules, on its
first Arrow task: 0.33-0.44 s of :data:`PRELOAD` imports in a fresh
interpreter on a 4-core Xeon VM, paid again by every worker a round
forks as its task waves widen.  The daemon imports them once instead,
and each fork inherits them.  The daemon then freezes its objects
(``gc.freeze``, the pre-fork pattern the ``gc`` docs describe): without
that, each worker's per-task ``gc.collect()`` walks the inherited
objects and copies their pages, and round 2 of a 4-round benchmark
crawl took 10.3-10.8 s against 8.9-9.2 s frozen.  Fork safety:
``import pyarrow`` starts jemalloc's background thread in the daemon
(4 -> 5 threads; numpy's OpenBLAS threads were already there).  fork()
copies only the calling thread, and jemalloc's ``pthread_atfork``
handlers keep its allocator state consistent in the child.  The check
is end to end: with the preload, the tier-1 suite and both benchmark
workloads run with no failed task, and ``tests/test_session.py`` pins
a freshly forked worker's preloaded, frozen state.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
from typing import IO

from pyspark import worker_util
from pyspark.core.files import SparkFiles

# what sys.path and the SparkFiles directory held at this worker's last
# real invalidation; None until its first task
_importable: tuple | None = None

# imported by the daemon before it forks any worker: the Arrow stack and
# the modules that define the crawl round's UDFs
PRELOAD = (
    "pandas",
    "pyarrow",
    "pyarrow.compute",
    "pyarrow.parquet",
    "pyspark.sql.pandas.serializers",
    "topicalcrawler_spark.functions",
    "topicalcrawler_spark.operators.dedup",
    "topicalcrawler_spark.operators.fetch",
    "topicalcrawler_spark.operators.images",
)


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
    for name in PRELOAD:
        importlib.import_module(name)
    # what the daemon holds now lives as long as it does: freeze it out
    # of the cyclic collector, so the gc.collect() that PySpark's worker
    # loop runs after every task neither walks the inherited objects
    # nor writes their headers (which would copy their pages on write)
    gc.freeze()
    daemon.manager()
