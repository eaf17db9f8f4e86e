"""SparkSession factory with the engine's standard configuration.

Design notes for scale (SURVEY.md §4): AQE on (skew-join split + shuffle
coalesce), Arrow everywhere, UTC timezone pinned for DuckDB-oracle
comparison, shuffle partitions sized to cores for local mode (a real
cluster deployment would size this to ~2-3x total cores).

Python workers run under the engine's own daemon
(``spark.python.daemon.module`` = ``topicalcrawler_spark.pyworker``).
Stock PySpark 4.1 calls ``importlib.invalidate_caches()`` at the start
of every task, even in a reused worker; on CPython 3.11 that re-parses
the central directory of every zip on the worker path (pyspark.zip has
1,328 entries).  A warm worker under cProfile spent 14.4 of 15.5 s in
``zipimport._read_directory``, and 64 trivial ``mapInPandas`` tasks took
3.2 s wall and ~13 worker CPU-s against 0.07 s for the same job without
Python.  A crawl round runs ~55 Python tasks, so that was ~11 CPU-s per
round.  The daemon keeps the invalidation only for tasks that change
what is importable (see pyworker.py).  Before it forks any worker, the
daemon also imports pandas, pyarrow (with ``.compute`` and ``.parquet``),
PySpark's Arrow serializers and the engine's UDF modules
(``pyworker.PRELOAD``), so a worker forked mid-round starts warm instead
of importing them on its first Arrow task.  The one thread the preload
adds to the daemon is pyarrow's jemalloc background thread; the
fork-safety argument and its check are in pyworker.py.  The daemon
must be importable before any task ships files, so
``spark.executorEnv.PYTHONPATH`` carries the checkout that holds this
package, ahead of any PYTHONPATH the caller passes.
Sessions built without ``get_spark`` keep stock workers and get the
package through ``_ship_package``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PYWORKER_MODULE = "topicalcrawler_spark.pyworker"
# the directory that holds this package: the Python daemon's import root
CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Arrow batches carry a fat `bytes` column on the image path (U4) — cap
# records/batch so a batch of encoded images stays well under worker memory.
ARROW_MAX_RECORDS_PER_BATCH = 2048


def get_spark(
    app_name: str = "topicalcrawler_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. Shuffle
    partitions default to the core count — the right size for local
    mode where the default 200 just adds scheduling overhead.
    """
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        # default = core count (right for local mode at the driver's
        # SFs; a cluster deployment sizes this to ~2-3x total cores and
        # lets AQE coalesce back down)
        shuffle_partitions = max(int(cpus), 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", PYWORKER_MODULE)
    )
    conf = dict(extra_conf or {})
    paths = conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        dict.fromkeys(p for p in [CHECKOUT, *paths] if p)
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # redundant with the daemon's PYTHONPATH for a session built here,
    # but getOrCreate may hand back one built elsewhere, and shipping
    # now sets the marker that keeps registry entries (queries._ship)
    # from adding a py-file to warm workers mid-run
    _ship_package(spark)
    return spark


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else every core of this machine."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (addPyFile zip).

    Equivalent to ``spark-submit --py-files pkg.zip`` — required
    whenever the driver script is not launched from the repo root, and
    exactly what a multi-executor cluster deployment needs.
    """
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    marker = "_tc_spark_pyfile_shipped"
    if spark.conf.get(f"spark.{marker}", None) == "1":
        return

    # Collect sources and key the archive by their CONTENT hash — a
    # name keyed by pid alone could reuse a stale or truncated zip
    # left by an earlier process with a recycled pid, silently shipping
    # outdated package code to the executors (results would drift from
    # the oracle with no error).  Same content → same name → safe reuse.
    sources: list[tuple[str, str]] = []
    h = hashlib.blake2b(digest_size=8)
    for root, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                sources.append((full, rel))
                h.update(rel.encode())
                with open(full, "rb") as f:
                    h.update(f.read())
    # the archive name carries the uid as well as the content hash:
    # mkstemp files are 0600, so on a shared-tempdir machine another
    # user running the same checkout must get their OWN archive rather
    # than finding ours unreadable (and being unable to replace it in a
    # sticky-bit /tmp)
    uid = os.getuid() if hasattr(os, "getuid") else 0
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"topicalcrawler_spark_{uid}_{h.hexdigest()}.zip",
    )
    if not os.path.exists(zpath):
        # write-then-rename so a crash mid-write can never leave a
        # truncated archive at the final name
        fd, tmp = tempfile.mkstemp(
            suffix=".zip", dir=tempfile.gettempdir()
        )
        os.close(fd)
        try:
            with zipfile.ZipFile(tmp, "w") as zf:
                for full, rel in sources:
                    zf.write(full, rel)
            os.replace(tmp, zpath)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set(f"spark.{marker}", "1")
