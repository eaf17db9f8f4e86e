"""Sources: parquet scans over the driver test tables + seed lists."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def scan(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """S1 — parquet scan of one driver test table (TESTDATA.md)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int
) -> None:
    """Persist ``df`` hash-bucketed (and sorted) by ``key`` — the
    co-located-join primitive for the 100 TB design point: two tables
    bucketed by the same key with the same bucket count join with NO
    shuffle exchange on either side (each bucket pair joins in place),
    which is how repeated frontier⋈seen-style joins amortize their
    partitioning across rounds on a real cluster.  The plan test
    (tests/test_plans.py) pins the exchange-free join shape."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("parquet.enable.dictionary", "false")
        .format("parquet")
        .saveAsTable(table)
    )


def load_seeds(spark: SparkSession, path: str) -> DataFrame:
    """S4 — seed-list source: text file, one URL per line, line number
    becomes the deterministic discovery sequence (1-based).

    Line numbers come from RDD ``zipWithIndex``: deterministic because
    text-file split order and in-split line order are fixed by the file
    bytes — never ``monotonically_increasing_id`` (partition-dependent,
    banned by SURVEY.md §7 hard part 1) and never a one-partition
    global window (a round-1 WindowExec warning source).  Scale-safe:
    zipWithIndex adds one tiny per-partition count job and no
    all-to-one point."""
    rdd = (
        spark.sparkContext.textFile(path)
        .filter(lambda line: line.strip() != "")  # blank lines are not URLs
        .zipWithIndex()
        .map(lambda t: (t[0], t[1] + 1))
    )
    return spark.createDataFrame(rdd, "url string, discovery_seq long")
