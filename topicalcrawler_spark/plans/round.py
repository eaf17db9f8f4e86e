"""The crawl loop — §3.1 lifecycle: one round = one DataFrame job chain.

Per round, over icelite snapshot tables (frontier / seen / corpus /
trace / lineage):

  1. read frontier snapshot (pending URLs)
  2. J2/P5 robots gate (broadcast join + codegen'd longest-prefix)
  3. J3/W1/P6 per-host budget top-k (salted two-stage window)
  4. U3 fetch (Arrow-batch synthetic web)
  5. trace append: the fetched rows, unranked (O1, the global fetch
     order, is ranked where the trace is read: read_trace)
  6. U4 decode/verify -> corpus append
  7. links: explode + canon (U1) + score (U2) + scheme/depth filter
     + T1 deterministic batch dedup + J1 seen probe: one Arrow pass
     per shard task that checks the bloom shard (when on) and then
     anti-joins only the maybe-seen rows, exactly, against the seen
     table's own shard files (no shuffle of the seen side, at any size)
  8. commit: seen += new links, frontier += new links, fetched +=
     the keys this round consumed (tombstones), lineage +=
     per-partition metrics; every ``compact_seen_every`` rounds the
     seen table is rewritten one file per shard, and every
     ``compact_frontier_every`` rounds the pending set (frontier minus
     tombstones) is rewritten and the tombstones reset

Determinism contract (SURVEY.md §7 hard part 1): ordering key =
(relevance_q desc, depth, discovery_time, discovery_seq) — all
integral; discovery_seq is a dense ADMISSION counter: admitted seeds
are numbered 1..n in seed-file order, and each round's admitted new
links get n_seen_before_round + rank over (parent_seq, link_index) —
the Mercator-style "URL id = discovery order" design.  Unique by
construction (base = the seen row count, ranks dense), and BOUNDED by
the total URLs ever discovered at any scale.  The previous tree-path
encoding (parent_seq*(MAX_LINKS*2) + idx + 1) grew log2(stride) bits
per depth level and overflowed int64 at depth ~6 in the round-5
60M-key design-point run (the pure-Python oracle's bignums masked it
at small SF); within one round the two encodings order candidates
identically — both are monotone in (parent_seq, idx) — and across
rounds discovery_time breaks first, so the schedule semantics are
unchanged.  discovery_time = T0 + round seconds (deterministic, not
wall-clock).
"""

from __future__ import annotations

import os
import secrets
import shutil
import time
from dataclasses import dataclass, field
from datetime import timedelta

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import icelite
from ..core.relevance import REL_Q_PER_UNIT, SEED_RELEVANCE_Q
from ..functions import (
    canon_udf,
    host_expr,
    order_cols,
    relevance_expr,
    url_hash_expr,
    with_canon_and_relevance,
)
from ..operators.dedup import (
    BLOOM_HEADROOM,
    anti_join_seen_files,
    dedup_batch,
    place_by_shard,
    shard_col,
    update_bloom_shard_files,
    write_bloom_shard_files,
)
from ..operators.fetch import fetch_selected
from ..operators.gates import scheme_depth_gate
from ..operators.images import decode_verify
from ..operators.politeness import (
    global_rank,
    select_per_host_topk,
    with_budget,
    with_crawl_delay_cap,
)
from ..operators.robots import latest_robots, with_robots_decision
from ..schemas import FETCHED, FRONTIER, HOST_BUDGET, ROBOTS
from ..sources import fixtures as fx


@dataclass
class CrawlConfig:
    root: str
    max_depth: int = 3
    default_budget: int = fx.DEFAULT_BUDGET
    n_shards: int = 16
    # bloom step of the seen probe (operators.dedup): shard bitmaps at
    # fpp=0.01, written as partition-local parquet files keyed by the
    # top url_hash bits and read in place by the probe task of the same
    # shard — no bitmap ever transits the driver, at any seen-set size.
    # Crossover: below this seen-set size the bloom's build/update jobs
    # cost more than the seen-file reads it would save, so it is off
    # (the anti-join is always the authority, so this never changes
    # results; trace tests pin that by forcing bloom_min_keys=0).  Set
    # it above any reachable n_seen to turn the bloom off.  At the
    # 10^10 design point the filter always engages.  Bitmaps are sized
    # for operators.dedup.BLOOM_HEADROOM x the build-time n_seen, and a
    # full rebuild fires once n_seen outgrows that size.
    bloom_min_keys: int = 50_000
    # compact+expire the seen table every K rounds (0 = never), by
    # url_hash shard so file i stays shard i.  Physical maintenance
    # only — never changes results (trace-test-pinned).  It also bounds
    # the exact anti-join: its per-task memory is the compacted file
    # size, which an append-only table gaining O(n_shards) files a
    # round would erode.
    compact_seen_every: int = 8
    # LSM frontier: the frontier table is append-only (new links per
    # round) plus a fetched/blocked tombstone-keys table; the pending
    # set is resolved at read time by the same zero-shuffle file-probed
    # anti-join the seen set uses.  Every K rounds the materialized
    # pending set replace-commits both tables — so per-round write cost
    # is O(delta), amortized O(frontier / K) for maintenance (0 = never
    # compact).  Results identical for any K (trace test pins it,
    # including through a compaction).
    compact_frontier_every: int = 8
    # robots crawl-delay enforcement: when > 0, each host's effective
    # per-round budget is additionally capped at
    # floor(round_window_s / crawl_delay) (floored at 1) — a host whose
    # robots asks for d seconds between fetches cannot sustain more
    # fetches inside one round window.  0 (default) = budget-only
    # politeness, the reference-trace semantics.  Enforced identically
    # in the oracle (tests/oracle_crawler.py round_window_s) so trace
    # parity is exact either way.
    round_window_s: float = 0.0
    robots_rows: list = field(default_factory=fx.make_robots)
    budget_rows: list = field(default_factory=fx.make_budgets)
    # per-crawl memo of the static dim DataFrames (robots/budgets do
    # not change between rounds; rebuilding + re-broadcasting them
    # every round is pure serial driver overhead)
    _dims: dict = field(default_factory=dict, repr=False, compare=False)

    def __post_init__(self) -> None:
        # every layout places rows by the top log2(n_shards) bits of
        # url_hash (operators.dedup.shard_col); reject a bad value here,
        # not mid-round after some of the round's tables have committed
        n = self.n_shards
        if not (isinstance(n, int) and n > 0 and n & (n - 1) == 0):
            raise ValueError(
                f"CrawlConfig.n_shards must be a positive power of two, got {n!r}"
            )

    def table(self, name: str) -> str:
        return os.path.join(self.root, name)


def _robots_df(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    if "robots" not in cfg._dims:
        rows = [
            (r["host"], r["fetched_at"],
             [(x["prefix"], x["allow"]) for x in r["rules"]], r["crawl_delay"])
            for r in cfg.robots_rows
        ]
        cfg._dims["robots"] = latest_robots(
            spark.createDataFrame(rows, schema=ROBOTS)
        ).cache()
    return cfg._dims["robots"]


def _budgets_df(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    if "budgets" not in cfg._dims:
        rows = [(r["host"], r["budget_per_round"]) for r in cfg.budget_rows]
        cfg._dims["budgets"] = spark.createDataFrame(
            rows, schema=HOST_BUDGET
        ).cache()
    return cfg._dims["budgets"]


def _seed_frontier(spark: SparkSession, cfg: CrawlConfig, seeds_path: str) -> DataFrame:
    """The admitted seed rows (FRONTIER columns, discovery_seq = the
    seed-file line number): seeds → canon → scheme gate."""
    from ..sources import load_seeds

    seeds = (
        load_seeds(spark, seeds_path)
        .withColumn("url_canon", canon_udf("url"))
        .withColumn("url_hash", url_hash_expr("url_canon"))
        .withColumn("host", host_expr("url_canon"))
        .withColumn("depth", F.lit(0))
        .withColumn("discovery_time", F.lit(fx.T0))
        .withColumn("relevance_q", F.lit(SEED_RELEVANCE_Q).cast("long"))
        .withColumn("relevance", relevance_expr("relevance_q"))
        .withColumn("parent_url", F.lit(None).cast("string"))
        .withColumn("round", F.lit(0))
        .withColumn("status", F.lit("pending"))
        .select(*[f.name for f in FRONTIER.fields])
    )
    # P4 admits SEEDS too, not just out-links: a seeds file line that
    # is not http(s) — or does not parse as a URL at all, which
    # canon_url returns unchanged, urlcanon.py's contract being "the
    # engine's scheme filter (P4) drops them later" — must never reach
    # the frontier, the seen set, or a fetch.  The oracle crawler
    # applies the identical gate to its seed loop.  canon_udf is
    # nondeterministic to Catalyst, so this filter stays above the one
    # Arrow pass that computes url_canon (see with_canon_and_relevance).
    return scheme_depth_gate(seeds, cfg.max_depth)


def init_crawl(spark: SparkSession, cfg: CrawlConfig, seeds_path: str) -> None:
    """Round 0: seeds → canon → dedup (first line wins) → frontier+seen."""
    init_caches: list = []
    try:
        # idempotent, same discipline as crawl_round's commits: init is
        # TWO commits, and a crash between them must be repairable —
        # by re-running init_crawl OR by resume() (both funnel the
        # second commit through _ensure_seen_initialized)
        if not _round_committed(cfg.table("frontier"), 0):
            # dense ADMISSION renumber (the module-docstring seq
            # contract): gated/duplicate lines must not leave gaps, so
            # that n_seen always equals the max assigned seq — round 1's
            # new links start at n_seen + 1 and can never collide with a
            # seed's seq.  The rank is over the pre-gate line number
            # (load_seeds), preserving seed-file order among admitted
            # seeds exactly as the oracle's admission loop does.
            seeds = dedup_batch(_seed_frontier(spark, cfg, seeds_path))
            frontier0 = global_rank(
                seeds.withColumnRenamed("discovery_seq", "_line"),
                [F.col("_line").asc()],
                "discovery_seq",
                init_caches,
            ).select(*[f.name for f in FRONTIER.fields])
            icelite.commit(place_by_shard(frontier0, cfg.n_shards),
                           cfg.table("frontier"), 0, mode="replace")
        _ensure_seen_initialized(spark, cfg)
    finally:
        for c in init_caches:
            c.unpersist()


def _ensure_seen_initialized(spark: SparkSession, cfg: CrawlConfig) -> None:
    """Finish a half-done init.  The seen table's round-0 commit is
    DERIVED from the frontier's (seen0 = frontier0's url keys), so a
    crash between init_crawl's two commits is repaired by recomputing
    it from the committed frontier snapshot — without this, the first
    _snap_as_of read of a pointerless seen table made resume() raise
    instead of recover (round-4 review finding)."""
    if _round_committed(cfg.table("seen"), 0):
        return
    f0 = icelite.read_snapshot(
        spark, cfg.table("frontier"), _snap_as_of(cfg.table("frontier"), 0)
    )
    icelite.commit(
        place_by_shard(f0.select("url_canon", "url_hash"), cfg.n_shards),
        cfg.table("seen"), 0, mode="replace",
    )


def _latest_round(table_dir: str) -> tuple[int | None, int | None, dict]:
    """(snapshot_id, round, meta) of the head — O(1) via the LATEST
    pointer."""
    ptr = icelite.latest_pointer(table_dir)
    if ptr is None:
        return None, None, {}
    return ptr["snapshot_id"], ptr["round"], ptr["meta"]


def _compaction_done(table_dir: str, round_n: int) -> bool:
    """True when round_n's compaction replace-commit already landed —
    re-running it would add a redundant same-round snapshot, and with
    expire(keep_last=3) a second redundant snapshot would push the
    round r-1 manifest (which crash re-runs pin their reads to) out of
    the kept window."""
    _, rnd, meta = _latest_round(table_dir)
    return rnd is not None and rnd >= round_n and bool(meta.get("compacted"))


def _round_committed(table_dir: str, round_n: int) -> bool:
    """True when ``table_dir`` already holds round_n's commit — the
    idempotency guard that makes a crash-interrupted round safely
    re-runnable (a round is several table commits, not one atomic op;
    re-running must skip the commits that landed before the crash,
    or append tables double-append: duplicate trace rows, double
    tombstones corrupting the n_pending arithmetic, lost new links)."""
    _, rnd, _ = _latest_round(table_dir)
    return rnd is not None and rnd >= round_n


def _snap_as_of(table_dir: str, round_max: int) -> int | None:
    """Latest snapshot with round <= round_max — O(1) on a clean run
    (LATEST pointer fast path), walking the parent chain only on a
    crash re-run.  Pinning reads to the PREVIOUS round's snapshot makes
    a re-run see exactly what the crashed run saw (snapshot isolation),
    so its recomputation is bit-identical."""
    snap, rnd, _ = _latest_round(table_dir)
    if snap is None or (rnd is not None and rnd <= round_max):
        return snap
    while snap is not None:
        m = icelite.read_manifest(table_dir, snap)
        if m["round"] <= round_max:
            return snap
        snap = m["parent_id"]
    return None


def _anti_join_snapshot(
    df: DataFrame,
    table_dir: str,
    snap_id: int | None = None,
    bloom: tuple[str, int, int] | None = None,
) -> DataFrame:
    """``df`` minus the (url_hash, url_canon) keys of an icelite table
    snapshot (latest when ``snap_id`` is None) — exact and
    collision-safe.  The table's own shard-placed files are probed in
    place, pruned by the manifest's per-file url_hash stats
    (``anti_join_seen_files``: zero shuffle of the table side, at any
    table size); a ``df`` placed by ``place_by_shard`` makes probe task
    i read only shard i's files.  A file without stats (a foreign
    manifest) is indexed over the full url_hash range, so every task
    probes it: slower, still exact.  ``bloom`` (shard dir, n_shards, k)
    over the same snapshot's keys lets the probe skip the rows it
    clears."""
    return anti_join_seen_files(
        df, icelite.file_hash_index(table_dir, snap_id), bloom
    )


def _appended_rows(table_dir: str, round_n: int) -> int:
    """Rows added by the table's first round_n commit (its append): a
    later same-round compaction or reset does not hide them, nor does a
    crash re-run that skipped the append (expiry keeps its parent)."""
    m = icelite.read_manifest(table_dir, icelite.latest_snapshot_id(table_dir))
    while m["parent_id"]:
        parent = icelite.read_manifest(table_dir, m["parent_id"])
        if parent["round"] < round_n:
            return m["row_count"] - parent["row_count"]
        m = parent
    return m["row_count"]


def _reset_tombstones(spark: SparkSession, cfg: CrawlConfig, round_n: int) -> None:
    """Replace-commit an empty tombstone table at ``round_n``."""
    empty = spark.createDataFrame([], "url_canon string, url_hash long")
    icelite.commit(empty.repartition(1), cfg.table("fetched"), round_n, mode="replace")


def _candidate_links(fetched: DataFrame, max_depth: int, round_n: int) -> DataFrame:
    """The round's gated out-links (FRONTIER columns but discovery_seq,
    plus the (parent_seq, idx) rank key): explode → canon (U1) +
    relevance (U2) in one Arrow pass → scheme/depth gate (P4)."""
    discovery_time = fx.T0 + timedelta(seconds=round_n)
    links = (
        # the depth half of the P4 gate, applied before the Python node
        # so over-deep links never cross to a worker; scheme_depth_gate
        # below stays the authority (its url_canon half cannot move
        # here, and canon_udf's nondeterminism keeps Catalyst from
        # pushing it down as a second canon pass)
        fetched.filter(
            (F.col("http_status") == 200) & (F.col("depth") + 1 <= max_depth)
        )
        .select(
            F.col("url_canon").alias("parent_url"),
            F.col("depth").alias("parent_depth"),
            F.col("discovery_seq").alias("parent_seq"),
            F.posexplode(F.arrays_zip("out_links", "link_context")).alias(
                "idx", "z"
            ),
        )
        .select(
            F.col("z.out_links").alias("url"),
            F.col("z.link_context").alias("context"),
            "parent_url",
            "parent_depth",
            "parent_seq",
            "idx",
        )
    )
    # discovery_seq is NOT computed here: it is a post-dedup ADMISSION
    # rank (module docstring) — the (parent_seq, idx) pair rides along
    # as the within-batch tie-break and the rank key until assignment.
    links = (
        with_canon_and_relevance(links)
        .withColumn("url_hash", url_hash_expr("url_canon"))
        .withColumn("host", host_expr("url_canon"))
        .withColumn("depth", (F.col("parent_depth") + 1).cast("int"))
        .withColumn("discovery_time", F.lit(discovery_time))
        .withColumn("relevance", relevance_expr("relevance_q"))
        .withColumn("round", F.lit(round_n))
        .withColumn("status", F.lit("pending"))
        .select(
            *[f.name for f in FRONTIER.fields if f.name != "discovery_seq"],
            "parent_seq",
            "idx",
        )
    )
    # P4: scheme + depth gate (operators.gates — oracle-checked by the
    # frontier_scheme_depth_filter registry entry)
    return scheme_depth_gate(links, max_depth)


def crawl_round(spark: SparkSession, cfg: CrawlConfig, round_n: int) -> dict:
    """Execute one crawl round; returns the round's metric counters.

    Action discipline: every Spark job costs fixed scheduling latency,
    so no counter re-reads rows another job produced.  n_pending, n_new
    and n_robots_blocked are manifest row-count deltas; n_fetched and
    n_errors an Observation on the fetch write; n_verify_failed the
    verify pass's one aggregate (it decodes the bytes as stored);
    n_candidates a count of the candidate cache global_rank already
    materialized (an Observation there, or on the robots gate cache,
    is pruned by AQE when the plan below it is empty, and its ``get``
    fails).  Every source exists on every attempt, crash re-runs
    included.  Returned stats include per-phase wall times
    (``phases``) for scaling diagnosis.

    Every DataFrame the round persists is registered and released in
    a ``finally`` — a round that dies mid-flight (crash-injection
    re-runs, a CommitConflict from a racing driver) must not leak
    CacheManager entries into the next round of a long crawl.
    """
    caches: list[DataFrame] = []
    try:
        return _crawl_round_impl(spark, cfg, round_n, caches)
    finally:
        for c in caches:
            c.unpersist()


def _crawl_round_impl(
    spark: SparkSession,
    cfg: CrawlConfig,
    round_n: int,
    caches: list[DataFrame],
) -> dict:
    t_start = time.monotonic()
    phases: dict[str, float] = {}
    _t = [t_start]

    def mark(name: str) -> None:
        now = time.monotonic()
        phases[name] = round(now - _t[0], 2)
        _t[0] = now
    # reads are pinned to the snapshots AS OF round_n-1 (0 chain steps
    # on a clean run): a crash-interrupted round may have committed
    # SOME of its tables before dying, and a re-run must see exactly
    # what the crashed run saw so its recomputation is bit-identical
    # (snapshot isolation — the same property resume() builds on)
    frontier_snap_id = _snap_as_of(cfg.table("frontier"), round_n - 1)
    frontier_manifest = icelite.read_manifest(
        cfg.table("frontier"), frontier_snap_id
    )
    n_frontier_rows = frontier_manifest["row_count"]
    fetched_tbl = cfg.table("fetched")
    tomb_snap_id = _snap_as_of(fetched_tbl, round_n - 1)
    tomb_manifest = (
        icelite.read_manifest(fetched_tbl, tomb_snap_id) if tomb_snap_id else None
    )
    n_tomb = tomb_manifest["row_count"] if tomb_manifest else 0
    # Detect a crash BETWEEN a frontier compaction's replace-commit and
    # the tombstone reset that follows it — STRUCTURALLY, not by count
    # (round-3 shipped only `n_tomb > n_frontier_rows`, which misses the
    # common large-frontier case where the stale tombstones are fewer
    # than the compacted frontier: n_pending is then silently
    # understated, and can reach 0 while real pending URLs remain —
    # halting the crawl early with no further commits to ever trigger
    # the reset).  The signature: the pinned frontier head IS a
    # compaction commit (meta.compacted) at round rc, yet the pinned
    # tombstone head is a NON-EMPTY commit at round <= rc — a completed
    # maintenance always leaves the reset (an empty replace at rc) as
    # the tombstone head.  The pending SET is still correct either way
    # (stale tombstones match nothing in the compacted frontier); only
    # the arithmetic is skewed.  Finish the interrupted maintenance and
    # carry on.
    reset_missing = (
        n_tomb > 0
        and frontier_manifest.get("meta", {}).get("compacted")
        and tomb_manifest["round"] <= frontier_manifest["round"]
    )
    if reset_missing or n_tomb > n_frontier_rows:
        _reset_tombstones(spark, cfg, round_n - 1)
        tomb_snap_id, n_tomb = None, 0
    # exact: every tombstone key is a distinct frontier-append row
    # (frontier entries are globally unique — they were anti-joined
    # against the seen set before appending)
    n_pending = n_frontier_rows - n_tomb
    if n_pending <= 0:
        return {
            "phases": {},
            "round": round_n,
            "n_pending": 0,
            "n_robots_blocked": 0,
            "n_fetched": 0,
            "n_errors": 0,
            "n_verify_failed": 0,
            "n_candidates": 0,
            "n_new": 0,
            "wall_s": time.monotonic() - t_start,
        }
    frontier = icelite.read_snapshot(spark, cfg.table("frontier"), frontier_snap_id)
    if tomb_snap_id and n_tomb > 0:
        # LSM read path: pending = append-files MINUS tombstones, via
        # the zero-shuffle file-probed anti-join (both tables are
        # shard-placed; manifest stats prune file reads)
        frontier = _anti_join_snapshot(frontier, fetched_tbl, tomb_snap_id)

    # 2. robots gate (J2/J7/P5 — all JVM-side); the robots dim
    # (as-of-resolved) is memoized across rounds.  The gate launches no
    # job of its own: n_robots_blocked is the tombstone append's row
    # delta minus n_fetched (step 8).
    robots_cur = _robots_df(spark, cfg)
    gated = with_robots_decision(frontier, robots_cur).cache()
    caches.append(gated)
    allowed = gated.filter(F.col("robots_allowed")).drop("robots_allowed")
    mark("gate")

    # 3. per-host budget top-k (J3/W1/P6), optionally crawl-delay
    # capped (P5 — robots_cur carries the as-of crawl_delay column)
    budgeted = with_budget(allowed, _budgets_df(spark, cfg), cfg.default_budget)
    if cfg.round_window_s > 0:
        budgeted = with_crawl_delay_cap(
            budgeted, robots_cur, cfg.round_window_s
        )
    selected = select_per_host_topk(budgeted)
    # AQE coalesces the politeness window's shuffle down to ~1
    # partition (its INPUT bytes are tiny) — but the next stage runs
    # the CPU-heavy fetch UDF, which would then execute on one core.
    # Re-spread explicitly by url_hash so fetch parallelism follows
    # cores, not input bytes (the cheap-input/expensive-UDF AQE trap).
    # Task count adapts to the round size (n_pending is free from the
    # manifest): ~64 URLs/task, floored at 8 tasks, capped at 4x cores
    # — fine-grained at volume so the final scheduling wave stays
    # short, but never hundreds of near-empty python-worker tasks when
    # a round is small.  Each Python task costs something beyond its
    # rows: scheduling and an Arrow round trip to a reused worker, and
    # on stock PySpark workers an import-cache invalidation that
    # re-parses every zip on the worker path (~0.2 CPU-s per task),
    # which the engine's worker daemon (pyworker.py) skips.
    cores = spark.sparkContext.defaultParallelism
    par = int(min(4 * cores, max(8, -(-n_pending // 64))))
    selected = selected.repartition(par, "url_hash").cache()
    caches.append(selected)

    # 4. fetch ONCE, directly into the corpus table's next snapshot
    # directory — not a JVM cache (a round's images must never need to
    # fit in executor memory), and not a scratch that gets re-copied.
    # Every later consumer reads a PRUNED projection of these columnar
    # files: trace/links never deserialize the image bytes, and the
    # corpus "write" below is a zero-copy metadata commit.  On a crash
    # re-run whose corpus commit already landed, fetch to a scratch dir
    # instead — the re-run's corpus commit is skipped, so writing into
    # next_data_dir (unique per attempt) would only plant a debris data
    # dir for recover() to sweep; the scratch dir is deleted right here.
    corpus_done = _round_committed(cfg.table("corpus"), round_n)
    # per-attempt suffix, same isolation contract as next_data_dir: two
    # racing re-runs of the same round must not overwrite/rmtree a
    # scratch dir the other is still lazily reading `fetched` from
    # (resume()'s _refetch-* sweep still matches)
    fetch_dir = (
        os.path.join(
            cfg.root, f"_refetch-{round_n:06d}-{secrets.token_hex(4)}"
        )
        if corpus_done
        else icelite.next_data_dir(cfg.table("corpus"))
    )
    # observed directly under the write, the node survives AQE even
    # when every pending URL was blocked (it then observes n = 0)
    fetch_obs = Observation()
    fetch_selected(selected).observe(
        fetch_obs,
        F.count("*").alias("n"),
        F.count_if(F.col("http_status") != 200).alias("n_err"),
        F.count("image_id").alias("n_img"),
    ).write.mode("overwrite").option(
        "parquet.enable.dictionary", "false"  # fat binary col, see icelite
    ).parquet(fetch_dir)
    fo = fetch_obs.get
    n_fetched, n_errors, n_images = fo["n"], fo["n_err"], fo["n_img"]
    # the schema is known (fetch_selected emits FETCHED): no inference job
    fetched = spark.read.schema(FETCHED).parquet(fetch_dir)
    mark("fetch_write")

    # 5. U4 decode/phash verification (north_star: "images
    # decoded/phash-verified in Arrow-batch UDFs") of the bytes as
    # STORED: the round's one aggregate action.  It runs BEFORE the
    # trace append, not overlapped with the next phase from a second
    # driver thread: that measured flat on 4 cores (benchmark crawl
    # round, 12.98 vs 13.16 reference-s), the two competing for the
    # same cores.  Serial, every job runs inside one phase, so each
    # phase wall is the time of that phase's own jobs.
    n_verify_failed = decode_verify(
        fetched.filter(F.col("image_id").isNotNull()).select(
            F.col("image_bytes").alias("bytes"),
            F.col("img_w").alias("w"), F.col("img_h").alias("h"),
            F.col("img_fmt").alias("fmt"), "phash",
        )
    ).filter(
        "NOT decode_ok OR dec_phash != phash OR dec_w != w OR dec_h != h"
    ).count()
    mark("fetch_verify")

    # trace append: what was fetched, unranked; read_trace ranks it
    if not _round_committed(cfg.table("trace"), round_n):
        icelite.commit(
            fetched.select(
                F.lit(round_n).alias("round"),
                "url_canon",
                "host",
                "depth",
                "relevance_q",
                "discovery_time",
                "discovery_seq",
                F.col("http_status").alias("status"),
                "image_id",
            ),
            cfg.table("trace"),
            round_n,
            mode="append",
        )
    mark("trace")

    # 6. corpus append (authoritative schema, BASELINE.json:15) —
    # zero-copy: the fetch output files ARE the corpus data; the
    # manifest records the projection onto the corpus schema.
    if not corpus_done:
        icelite.commit_files(
            cfg.table("corpus"),
            fetch_dir,
            round_n,
            row_count=n_images,
            meta={
                "where": "image_id IS NOT NULL",
                "select": [
                    "image_id",
                    "image_bytes AS bytes",
                    "img_w AS w",
                    "img_h AS h",
                    "img_fmt AS fmt",
                    "caption",
                    "phash",
                ],
            },
            mode="append",
        )
    mark("corpus")

    # 7. new links
    links = _candidate_links(fetched, cfg.max_depth, round_n)
    # T1 tie-break: (relevance desc, depth, time, parent_seq, idx) —
    # identical relative order to the assigned seq (monotone in
    # (parent_seq, idx); time is constant within a batch)
    links = dedup_batch(
        links,
        order=[
            F.col("relevance_q").desc(),
            F.col("depth").asc(),
            F.col("discovery_time").asc(),
            F.col("parent_seq").asc(),
            F.col("idx").asc(),
        ],
    )

    seen_snap_id = _snap_as_of(cfg.table("seen"), round_n - 1)
    seen_manifest = icelite.read_manifest(cfg.table("seen"), seen_snap_id)
    n_seen = seen_manifest["row_count"]
    bloom_on = n_seen >= cfg.bloom_min_keys
    # the one candidate layout, partition i = url_hash shard i = bloom
    # shard i = seen file i, cached: global_rank's count and the
    # cache-local n_candidates below read it
    links = place_by_shard(links, cfg.n_shards).cache()
    caches.append(links)
    mark("links")
    # bloom crossover (see CrawlConfig.bloom_min_keys): the bloom pays
    # only when the seen table is big enough that the seen-file reads
    # it skips outweigh its build/update jobs
    bloom = None
    if bloom_on:
        # Incremental maintenance: bloom bitmaps are OR-monotone and
        # the seen table is append-only, so the manifest file-diff
        # since the last build is an EXACT delta — OR only the new
        # files' keys into the existing bitmaps instead of rescanning
        # all of seen (the last remaining O(seen) scan per round).
        # Full rebuild when the key count outgrows the count the
        # bitmaps were sized for (BLOOM_HEADROOM × the build's n_seen;
        # fpp would degrade past design — a perf matter only, the exact
        # join stays the authority) or when the file set is not a
        # superset of the build's (compaction).
        bst = cfg._dims.get("bloom")
        cur_files = frozenset(seen_manifest["files"])
        # unique per attempt (same contract as icelite.next_data_dir):
        # an in-process retry of a crashed round re-ORs its delta into
        # a FRESH dir — OR-idempotent, and never out_dir == prev_dir
        # (which update_bloom_shard_files rejects)
        new_dir = os.path.join(
            cfg.table("bloom"), f"round-{round_n:06d}-{secrets.token_hex(4)}"
        )
        if (
            bst is not None
            and n_seen <= bst["capacity"]
            and bst["files"] <= cur_files
        ):
            delta_files = sorted(cur_files - bst["files"])
            if delta_files:
                update_bloom_shard_files(
                    spark.read.schema("url_hash long").parquet(*delta_files),
                    bst["dir"], new_dir, cfg.n_shards, bst["n_bits"], bst["k"],
                )
                shutil.rmtree(bst["dir"], ignore_errors=True)
                bst["dir"] = new_dir
        else:
            k, n_bits = write_bloom_shard_files(
                icelite.read_snapshot(spark, cfg.table("seen"), seen_snap_id),
                new_dir, cfg.n_shards, total=n_seen,
            )
            # sweep EVERY other generation, not just the in-memory bst
            # pointer: crash debris and pre-restart dirs have no bst
            # record but are equally superseded by this full rebuild
            # (multi-GB each at the design point)
            import glob as _glob

            for d in _glob.glob(os.path.join(cfg.table("bloom"), "round-*")):
                if os.path.normpath(d) != os.path.normpath(new_dir):
                    shutil.rmtree(d, ignore_errors=True)
            bst = {
                "dir": new_dir, "k": k, "n_bits": n_bits,
                "capacity": int(n_seen * BLOOM_HEADROOM),
            }
        bst["files"] = cur_files
        cfg._dims["bloom"] = bst
        bloom = (bst["dir"], cfg.n_shards, bst["k"])
    # the one seen probe: bloom step (when on), then the exact join of
    # the maybe-seen rows (the authority)
    new_links = _anti_join_snapshot(links, cfg.table("seen"), seen_snap_id, bloom)
    # discovery_seq = ADMISSION rank (module docstring): base = n_seen
    # (the as-of manifest row count already read for the crossover —
    # O(1), and pinned to round_n-1 so a crash re-run reproduces the
    # identical seqs), rank over (parent_seq, idx) among the admitted
    # links.  O(Δ log Δ) — one range exchange of the new links, the
    # round's one rank; bounded forever: max seq == total URLs ever
    # discovered.
    new_links = global_rank(
        new_links,
        [F.col("parent_seq").asc(), F.col("idx").asc()],
        "discovery_seq",
        caches,
        base=n_seen,
    ).select(*[f.name for f in FRONTIER.fields])
    new_links = place_by_shard(new_links, cfg.n_shards).cache()
    caches.append(new_links)
    # cache-local: global_rank's eager count just materialized the
    # candidates, on every attempt (crash re-runs included)
    n_candidates = links.count()

    # 8. commits: seen += new, frontier += new, fetched += consumed
    # (n_new comes free from the append-commit's manifest delta; each
    # append is guarded by _round_committed so a crash re-run never
    # double-appends)
    if not _round_committed(cfg.table("seen"), round_n):
        icelite.commit(
            new_links.select("url_canon", "url_hash"),
            cfg.table("seen"),
            round_n,
            mode="append",
        )
    n_new = _appended_rows(cfg.table("seen"), round_n)
    # maintenance plane: the seen table is probed EVERY round by the
    # anti-join but grows by O(n_shards) files per append — periodic
    # compaction (by url_hash shard, keeping file i = shard i) + expiry
    # keeps its file count O(n_shards) forever.  Pure physical rewrite:
    # the trace test with compact_seen_every=2 pins result equality.
    if (
        cfg.compact_seen_every
        and round_n % cfg.compact_seen_every == 0
        and not _compaction_done(cfg.table("seen"), round_n)
    ):
        icelite.compact(
            spark,
            cfg.table("seen"),
            round_n,
            partition_id=shard_col("url_hash", cfg.n_shards),
            target_files=cfg.n_shards,
        )
        # keep_last=3 (not 2): round r's maintenance must leave the
        # r-1 snapshot readable — a crash re-run of round r pins its
        # reads there (_snap_as_of)
        icelite.expire_snapshots(cfg.table("seen"), keep_last=3)
    mark("seen")
    # LSM write path: O(delta) commits — tombstones for the rows
    # this round consumed (fetched + robots-blocked; what stays pending
    # is the allowed rows the budget did not select) and an append of
    # the new links.  No O(frontier) rewrite.
    tombs = place_by_shard(
        gated.filter(~F.col("robots_allowed"))
        .select("url_canon", "url_hash")
        .unionByName(selected.select("url_canon", "url_hash")),
        cfg.n_shards,
    )
    if not _round_committed(fetched_tbl, round_n):
        icelite.commit(tombs, fetched_tbl, round_n, mode="append")
    # one tombstone per consumed row: each fetched and each blocked one
    n_blocked = _appended_rows(fetched_tbl, round_n) - n_fetched
    if not _round_committed(cfg.table("frontier"), round_n):
        frontier_snap = icelite.commit(
            new_links.select(*[f.name for f in FRONTIER.fields]),
            cfg.table("frontier"),
            round_n,
            mode="append",
        )
    else:
        frontier_snap = icelite.latest_snapshot_id(cfg.table("frontier"))
    if (
        cfg.compact_frontier_every
        and round_n % cfg.compact_frontier_every == 0
        and not _compaction_done(cfg.table("frontier"), round_n)
    ):
        # materialize the pending view and restart both chains —
        # amortized O(frontier / K); result-invariant (trace test)
        pend = _anti_join_snapshot(
            icelite.read_snapshot(spark, cfg.table("frontier")), fetched_tbl
        )
        frontier_snap = icelite.commit(
            place_by_shard(pend, cfg.n_shards),
            cfg.table("frontier"),
            round_n,
            meta={"compacted": True},
            mode="replace",
        )
        _reset_tombstones(spark, cfg, round_n)
        # keep_last=3: see the seen-table expiry note (crash
        # re-runs pin reads to the r-1 snapshots)
        icelite.expire_snapshots(cfg.table("frontier"), keep_last=3)
        icelite.expire_snapshots(fetched_tbl, keep_last=3)
    mark("frontier")

    # lineage: per-fetch-task metrics + the round totals on every row
    # (S7).  Keyed by the fetch task, i.e. the part-NNNNN index of the
    # file it wrote — not spark_partition_id() of this re-read, whose
    # file-scan splits pack several small files into one partition.
    fetch_task = F.regexp_extract(
        F.col("_metadata.file_name"), r"^part-(\d+)", 1
    ).cast("int")
    per_part = (
        fetched.groupBy(fetch_task.alias("partition_id"))
        .agg(
            F.count("*").alias("n_fetched"),
            F.sum((F.col("http_status") != 200).cast("long")).alias("n_errors"),
        )
        .select(
            F.lit(round_n).alias("round"),
            "partition_id",
            F.lit(n_candidates).cast("long").alias("n_candidates"),
            F.lit(n_candidates - n_new).cast("long").alias("n_dedup"),
            F.lit(n_blocked).cast("long").alias("n_robots_blocked"),
            "n_fetched",
            "n_errors",
            F.lit(int((time.monotonic() - t_start) * 1000))
            .cast("long")
            .alias("wall_ms"),
            F.lit(frontier_snap).cast("long").alias("snapshot_id"),
        )
    )
    if not _round_committed(cfg.table("lineage"), round_n):
        icelite.commit(per_part, cfg.table("lineage"), round_n, mode="append")
    if corpus_done:
        # the re-fetch scratch dir is derived data, not a table
        shutil.rmtree(fetch_dir, ignore_errors=True)
    mark("lineage")

    return {
        "phases": phases,
        "round": round_n,
        "n_pending": n_pending,
        "n_robots_blocked": n_blocked,
        "n_fetched": n_fetched,
        "n_errors": n_errors,
        "n_verify_failed": n_verify_failed,
        "n_candidates": n_candidates,
        "n_new": n_new,
        "wall_s": time.monotonic() - t_start,
    }


def run_crawl(
    spark: SparkSession, cfg: CrawlConfig, seeds_path: str, rounds: int
) -> list[dict]:
    """init + N rounds (the spark-submit entry; resume() continues one)."""
    init_crawl(spark, cfg, seeds_path)
    return [crawl_round(spark, cfg, r) for r in range(1, rounds + 1)]


def resume(spark: SparkSession, cfg: CrawlConfig, rounds: int) -> list[dict]:
    """§3.3 — continue from the last committed snapshots.  All state
    lives in icelite tables, so resumption is just 'run more rounds';
    the equivalence crawl(k) ≡ crawl(j);resume(k−j) is property-tested.

    Completion marker = the frontier commit.  The STATE plane (trace /
    seen / corpus / frontier / tombstones) is exactly-once under any
    crash point (_round_committed + pinned reads); the lineage table —
    observability, not state — commits after the frontier, so a crash
    in that narrow window loses that round's lineage rows (best-effort
    by design: recomputing them would need the round's fetch output,
    which only the corpus keeps)."""
    # sweep orphaned re-fetch scratch dirs: a crash on a corpus-done
    # re-run after its frontier commit means the round is never
    # revisited, so its scratch would otherwise leak a full round of
    # image bytes
    import glob as _glob

    for d in _glob.glob(os.path.join(cfg.root, "_refetch-*")):
        shutil.rmtree(d, ignore_errors=True)
    # reclaim orphan manifests from commits that crashed between the
    # manifest claim and the pointer advance — they are invisible to
    # readers but would block the next commit's id claim
    # (icelite.CommitConflict); resume re-establishes single-writer
    # ownership, which is recover()'s precondition
    for t in ("frontier", "seen", "corpus", "trace", "lineage", "fetched"):
        if os.path.isdir(cfg.table(t)):
            icelite.recover(cfg.table(t))
    # bloom bitmaps are DERIVED state keyed to an in-memory build record
    # (cfg._dims): drop both, so the next bloom round full-rebuilds.
    # Stale round-* dirs (multi-GB at the design point) would otherwise
    # leak one generation per restart, and a record surviving an
    # in-process resume() would point the next incremental update at
    # the deleted directory.
    shutil.rmtree(cfg.table("bloom"), ignore_errors=True)
    cfg._dims.pop("bloom", None)
    head = icelite.latest_snapshot_id(cfg.table("frontier"))
    if head is None:
        raise RuntimeError(
            "resume: no committed frontier snapshot — the crawl crashed "
            "before init_crawl's first commit; re-run init_crawl"
        )
    # repair the one init crash window (frontier committed, seen not)
    _ensure_seen_initialized(spark, cfg)
    last = icelite.read_manifest(cfg.table("frontier"), head)["round"]
    return [crawl_round(spark, cfg, r) for r in range(last + 1, last + 1 + rounds)]


def read_trace(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    """Full fetch trace across all rounds, in fetch order: O1.

    The trace table stores what each round fetched, unranked.  Here
    ``trace_seq`` (first column) is each row's 1-based position in its
    round's fetch order, the one order spec ``order_cols()``, a total
    order.  Scale trade: the window sorts each round's fetched set in
    one task (a round is politeness-budget-bounded), and it runs only
    on verification reads, never in the crawl loop."""
    trace = icelite.read_snapshot(spark, cfg.table("trace"))
    fetch_order = Window.partitionBy("round").orderBy(*order_cols())
    return trace.select(
        F.row_number().over(fetch_order).cast("long").alias("trace_seq"),
        *trace.columns,
    ).orderBy("round", "trace_seq")


def read_seen(spark: SparkSession, cfg: CrawlConfig) -> DataFrame:
    return icelite.read_snapshot(spark, cfg.table("seen"))
