"""Per-host politeness scheduling — W1, P6, J3 (the core scheduler op).

Reproduces the reference's priority-queue pop order per round
(``BASELINE.json:6``): within each host, candidates ranked by
(relevance desc, depth asc, discovery_time asc, discovery_seq asc);
the top ``budget_per_round`` are fetched this round, the rest wait.

Skew design (``BASELINE.json:6`` "salted-by-host repartitioning to kill
hot-host skew"): a straight Window.partitionBy(host) puts one mega-host
on one task.  We run a **two-stage top-k**: stage A ranks within
(host, salt = pmod(url_hash, SALT)) — SALT-way parallel, and any row in
a host's true top-k is necessarily in its salt-bucket's top-k, so no
candidate is lost; stage B re-ranks the ≤ SALT·k survivors per host,
which is tiny.  Global correctness is exactly stage B's window — the
salt never changes the result, only the shuffle shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import order_cols

SALT = 8


def with_budget(
    frontier: DataFrame, budgets: DataFrame, default_budget: int
) -> DataFrame:
    """J3 — attach per-host budget (broadcast: one row per host)."""
    return frontier.join(F.broadcast(budgets), "host", "left").withColumn(
        "budget_per_round",
        F.coalesce(F.col("budget_per_round"), F.lit(default_budget)),
    )


def with_crawl_delay_cap(
    frontier_with_budget: DataFrame,
    robots_current: DataFrame,
    round_window_s: float,
) -> DataFrame:
    """P5/J3 — cap each host's budget by its robots ``crawl_delay``:
    a host whose robots asks for d seconds between fetches can sustain
    at most floor(round_window_s / d) fetches inside one round window
    (floored at 1 so a long delay defers, never starves, a host).
    Hosts with no robots row or delay <= 0 keep their plain budget.

    JVM-side broadcast join + codegen'd arithmetic; IEEE-double
    division then floor, bit-identical to the oracle's
    ``math.floor(round_window_s / d)`` — trace parity holds exactly.
    """
    delays = robots_current.select("host", "crawl_delay")
    capped = F.greatest(
        F.lit(1).cast("long"),
        F.floor(F.lit(float(round_window_s)) / F.col("crawl_delay")),
    )
    return (
        frontier_with_budget.join(F.broadcast(delays), "host", "left")
        .withColumn(
            "budget_per_round",
            F.when(
                F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
                F.least(F.col("budget_per_round").cast("long"), capped),
            )
            .otherwise(F.col("budget_per_round").cast("long"))
            .cast("int"),
        )
        .drop("crawl_delay")
    )


def select_per_host_topk(frontier_with_budget: DataFrame, salt: int = SALT) -> DataFrame:
    """W1/P6 — keep each host's top budget_per_round rows by the shared
    frontier order key.  Two-stage (see module docstring)."""
    df = frontier_with_budget.withColumn(
        "_salt", F.pmod(F.col("url_hash"), F.lit(salt)).cast("int")
    )
    w_a = Window.partitionBy("host", "_salt").orderBy(*order_cols())
    pruned = (
        df.withColumn("_rn_a", F.row_number().over(w_a))
        .filter(F.col("_rn_a") <= F.col("budget_per_round"))
        .drop("_rn_a", "_salt")
    )
    w_b = Window.partitionBy("host").orderBy(*order_cols())
    return (
        pruned.withColumn("_rn", F.row_number().over(w_b))
        .filter(F.col("_rn") <= F.col("budget_per_round"))
        .drop("_rn", "budget_per_round")
    )


def global_rank(
    df: DataFrame,
    order: list,
    out_col: str,
    cache_registry: list,
    base: int = 0,
) -> DataFrame:
    """Scale-safe global dense rank (``base`` + 1-based position in the
    total order ``order``) with no Window, self-join or broadcast, and
    one range exchange over ``defaultParallelism`` partitions.  Its
    callers number stored state: ``init_crawl``'s seed admission and
    each round's admission rank of new links (``discovery_seq``).
    Fetch order is not stored; ``read_trace`` ranks it.  Steps:

      1. ``repartitionByRange`` on the order key (partition i holds
         smaller keys than partition i+1), ``sortWithinPartitions`` on
         the same key, and per row its partition id and position in the
         partition (the low 33 bits of ``monotonically_increasing_id``
         are documented as the record number within the partition);
      2. one job (eager, at call time) collects the ≤ #partitions row
         counts to the driver, which turns them into offsets;
      3. rank = base + offset[partition] + position + 1.

    A ``Window.partitionBy`` over the partition id would add a hash
    exchange of rows already range placed.  Deterministic whenever
    ``order`` is a total order on the rows; O(rows/partitions) per task.

    ``repartitionByRange`` samples ``df`` for its bounds in a job of its
    own, so ``df`` is evaluated once more: a Python pass in it (the
    crawl's seen file-probe) runs twice per partition, and an
    Observation in it counts every row twice.  Persisting ``df`` costs
    a job per call and measured no wall change on a benchmark round.

    ``cache_registry`` (required): the ranged layout is persisted, so the
    counts and the ranks read the SAME range boundaries, and appended
    here so the CALLER can unpersist it once the result is materialized.
    Required, not optional — persist() registers a CacheManager entry at
    call time, so a call site that "didn't care" would leak one entry
    per call (the per-round leak of round-3 ADVICE).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_pos", F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
        )
        .persist()
    )
    cache_registry.append(ranged)
    counts = dict(ranged.groupBy("_pid").count().collect())
    offsets, total = [], 0
    for pid in range(max(counts, default=0) + 1):
        offsets.append(total)
        total += counts.get(pid, 0)
    off = F.array(*[F.lit(o).cast("long") for o in offsets])[F.col("_pid")]
    return ranged.withColumn(
        out_col, (F.lit(base).cast("long") + off + F.col("_pos") + 1).cast("long")
    ).drop("_pid", "_pos")
