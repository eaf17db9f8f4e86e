"""The engine's Python worker daemon (topicalcrawler_spark/pyworker.py):
its workers run the engine's ``setup_spark_files``, skip the import-cache
invalidation when a task changes nothing importable, and still import
files shipped after they are warm."""

from __future__ import annotations

import importlib
import io
import os
import sys
import uuid
import zipfile

import pandas as pd
from pyspark.serializers import write_int, write_with_length

from topicalcrawler_spark import pyworker


def _warm(spark) -> None:
    spark.range(0, 64, numPartitions=8).mapInPandas(
        lambda it: it, "id long"
    ).collect()


def test_workers_run_the_engine_setup_spark_files(spark):
    """A PySpark upgrade that moves the hook point fails here instead of
    silently putting the per-task zip re-read back on every task."""

    def probe(it):
        import pyspark.worker

        from topicalcrawler_spark import pyworker as pw

        for _ in it:
            pass
        yield pd.DataFrame(
            {"ok": [pyspark.worker.setup_spark_files is pw.setup_spark_files]}
        )

    rows = (
        spark.range(0, 64, numPartitions=8).mapInPandas(probe, "ok boolean").collect()
    )
    assert len(rows) == 8
    assert all(r.ok for r in rows)


def test_py_files_added_to_warm_workers_import(spark, tmp_path):
    _warm(spark)
    tag = uuid.uuid4().hex[:12]
    py_mod, zip_pkg = f"tc_late_py_{tag}", f"tc_late_zip_{tag}"
    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 'py'\n")
    zip_path = tmp_path / f"{zip_pkg}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(f"{zip_pkg}/__init__.py", "VALUE = 'zip'\n")
    spark.sparkContext.addPyFile(str(py_path))
    spark.sparkContext.addPyFile(str(zip_path))

    def probe(it):
        import importlib as il

        for _ in it:
            pass
        yield pd.DataFrame(
            {
                "py": [il.import_module(py_mod).VALUE],
                "zip": [il.import_module(zip_pkg).VALUE],
            }
        )

    rows = (
        spark.range(0, 64, numPartitions=8)
        .mapInPandas(probe, "py string, zip string")
        .collect()
    )
    assert len(rows) == 8
    assert {(r.py, r.zip) for r in rows} == {("py", "zip")}


def test_setup_invalidates_only_when_importable_set_changes(tmp_path, monkeypatch):
    """Drive the wrapper in-process with PySpark's task-setup wire format:
    (SparkFiles dir, include count, include names)."""
    from pyspark.core.files import SparkFiles

    def task(*includes: str) -> io.BytesIO:
        buf = io.BytesIO()
        write_with_length(str(tmp_path).encode(), buf)
        write_int(len(includes), buf)
        for name in includes:
            write_with_length(name.encode(), buf)
        buf.seek(0)
        return buf

    calls = []
    monkeypatch.setattr(importlib, "invalidate_caches", lambda: calls.append(1))
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(SparkFiles, "_root_directory", None)
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    monkeypatch.setattr(pyworker, "_importable", None)

    pyworker.setup_spark_files(task())  # first task of a worker
    assert len(calls) == 1
    for _ in range(3):  # reused worker, nothing new
        pyworker.setup_spark_files(task())
    assert len(calls) == 1
    (tmp_path / "late.py").write_text("")  # addPyFile of a .py
    pyworker.setup_spark_files(task())
    assert len(calls) == 2
    pyworker.setup_spark_files(task("late.zip"))  # a new include path
    assert len(calls) == 3
    assert os.path.join(str(tmp_path), "late.zip") in sys.path
    pyworker.setup_spark_files(task("late.zip"))
    assert len(calls) == 3
    # the stock module is left exactly as it was
    from pyspark import worker_util

    assert worker_util.importlib is importlib


_FIRST_TASK = """
import sys
from topicalcrawler_spark.session import get_spark

spark = get_spark(app_name="warm-fork-probe", cpus=1, shuffle_partitions=1)
def probe(_):
    import gc

    mods = sorted(m for m in ("pandas", "pyarrow") if m in sys.modules)
    return [(mods, gc.get_freeze_count() > 0)]

mods, frozen = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]
print("PRELOADED", ",".join(mods), "frozen" if frozen else "unfrozen")
spark.stop()
"""


def test_forked_worker_starts_with_the_arrow_stack(tmp_path):
    """The first Python task of a new session runs on a worker the daemon
    has just forked; pandas and pyarrow must already be imported there
    (pyworker.PRELOAD), not imported by the worker's first Arrow task,
    and frozen out of the worker's per-task gc.collect().  The task is a
    plain RDD task, whose body imports nothing before the check."""
    import subprocess

    from topicalcrawler_spark.session import CHECKOUT

    env = {
        **os.environ,
        "PYTHONPATH": CHECKOUT,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
    }
    out = subprocess.run(
        [sys.executable, "-c", _FIRST_TASK],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "PRELOADED pandas,pyarrow frozen" in out.stdout.splitlines(), out.stdout
