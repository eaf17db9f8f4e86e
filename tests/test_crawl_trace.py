"""THE correctness gate (``BASELINE.json:14``): the Spark engine must
reproduce the oracle crawler's exact fetch ordering and final URL-seen
set under the same seed list + politeness budgets."""

from __future__ import annotations

import glob
import os

import pytest

from tests import oracle_crawler
from topicalcrawler_spark.plans.round import CrawlConfig, read_seen, read_trace, run_crawl
from topicalcrawler_spark.sources import fixtures as fx

TRACE_COLS = [
    "trace_seq",
    "round",
    "url_canon",
    "host",
    "depth",
    "relevance_q",
    "discovery_seq",
    "status",
    "image_id",
]


def _spark_crawl(spark, tmp_path, rounds, **cfg_kw):
    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"), **cfg_kw)
    run_crawl(spark, cfg, seeds_path, rounds)
    trace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    seen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    return trace, seen, cfg


def _oracle_crawl(rounds, max_depth=3):
    seeds = fx.make_seeds()
    otrace, oseen = oracle_crawler.crawl(seeds, rounds, max_depth=max_depth)
    trace = [tuple(r[c] for c in TRACE_COLS) for r in otrace]
    return trace, oseen


@pytest.mark.parametrize("bloom", [True, False])
def test_config_rejects_non_power_of_two_shards(tmp_path, bloom):
    """n_shards places rows by the top log2(n) bits of url_hash, so a
    bad value must fail when the config is built, whether the bloom
    prefilter is forced on from round 1 or left at its default
    threshold — not mid-round after some tables have committed."""
    root = str(tmp_path / "crawl")
    extra = {"bloom_min_keys": 0} if bloom else {}
    for bad in (12, 0, -4, 2.0):
        with pytest.raises(ValueError, match="power of two"):
            CrawlConfig(root=root, n_shards=bad, **extra)
    for good in (1, 4, 16, 32):
        cfg = CrawlConfig(root=root, n_shards=good, **extra)
        assert cfg.n_shards == good


@pytest.mark.parametrize("rounds", [1, 3])
def test_trace_and_seen_match_oracle(spark, tmp_path, rounds):
    strace, sseen, _ = _spark_crawl(spark, tmp_path, rounds)
    otrace, oseen = _oracle_crawl(rounds)
    assert len(strace) == len(otrace)
    for i, (s, o) in enumerate(zip(strace, otrace)):
        assert s == o, f"trace diverges at fetch #{i}: spark={s} oracle={o}"
    assert sseen == oseen


@pytest.mark.parametrize("bloom", [True, False])
def test_file_probed_exact_join_is_trace_identical(spark, tmp_path, bloom):
    """The one seen probe reads the seen table's own files via manifest
    url_hash stats at every seen-set size — with the default config,
    once with the bloom forced on (its bloom step clears rows before
    the exact step) and once without (the default bloom_min_keys is
    above this crawl's seen-set size, so every row takes the exact
    step).  Results must equal the oracle exactly."""
    strace, sseen, cfg = _spark_crawl(
        spark, tmp_path, 3, **({"bloom_min_keys": 0} if bloom else {}),
    )
    assert ("bloom" in cfg._dims) == bloom
    otrace, oseen = _oracle_crawl(3)
    assert strace == otrace
    assert sseen == oseen


def test_stats_less_seen_manifest_is_probed_unpruned(spark, tmp_path):
    """A seen manifest without per-file url_hash stats (a foreign
    manifest) indexes every file over the full url_hash range, so every
    probe task reads every seen file — slower, never inexact.  Two
    default-config rounds, with the stats stripped from the seen head
    manifest before round 2; trace and seen equal the oracle."""
    import json

    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import crawl_round, init_crawl

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"))
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)
    seen_dir = cfg.table("seen")
    path = icelite._manifest_path(seen_dir, icelite.latest_snapshot_id(seen_dir))
    with open(path) as f:
        manifest = json.load(f)
    del manifest["file_stats"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    full = (-(1 << 63), (1 << 63) - 1)
    index = icelite.file_hash_index(seen_dir)
    assert len(index) > 1 and {(lo, hi) for _, lo, hi in index} == {full}
    crawl_round(spark, cfg, 2)
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    otrace, oseen = _oracle_crawl(2)
    assert strace == otrace
    assert sseen == oseen


def test_lsm_frontier_mode_is_trace_identical(spark, tmp_path):
    """The LSM frontier (O(delta) frontier commits + tombstone keys +
    read-time file-probed pending view) must equal the oracle exactly —
    including across a mid-crawl frontier compaction
    (compact_frontier_every=2 inside a 5-round crawl)."""
    strace, sseen, _ = _spark_crawl(
        spark, tmp_path, 5,
        compact_frontier_every=2, bloom_min_keys=0,
    )
    otrace, oseen = _oracle_crawl(5)
    assert strace == otrace
    assert sseen == oseen


def test_incremental_bloom_maintenance_is_trace_identical(spark, tmp_path):
    """Rounds 2+ maintain the bloom shard files incrementally (manifest
    file-diff delta OR-ed into the round-1 bitmaps) when capacity
    allows — forced here by bumping the state's capacity after round 1,
    the mature-crawl shape where delta << seen.  Results must equal the
    oracle exactly."""
    from topicalcrawler_spark.plans.round import (
        CrawlConfig, crawl_round, init_crawl, read_seen, read_trace,
    )

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"), bloom_min_keys=0
    )
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)
    assert "bloom" in cfg._dims
    cfg._dims["bloom"]["capacity"] = 10**12  # force the incremental leg
    for r in (2, 3):
        crawl_round(spark, cfg, r)
        # the state must have been maintained, not rebuilt: capacity
        # is only reset by a full rebuild
        assert cfg._dims["bloom"]["capacity"] == 10**12
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    otrace, oseen = _oracle_crawl(3)
    assert strace == otrace
    assert sseen == oseen


def test_inprocess_retry_after_bloom_update_crash(spark, tmp_path, monkeypatch):
    """An orchestrator that catches a mid-round failure and re-calls
    crawl_round IN-PROCESS (same CrawlConfig, so the in-memory bloom
    state survives) must converge, not trip the in-place guard: the
    retry re-ORs the same manifest delta into a FRESH per-attempt
    generation dir (OR-idempotent).  Crash point: inside the round-2
    incremental bloom file update, after the new generation dir is
    created but before the round commits anything."""
    import topicalcrawler_spark.plans.round as round_mod
    from topicalcrawler_spark.plans.round import (
        CrawlConfig, crawl_round, init_crawl, read_seen, read_trace,
    )

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"), bloom_min_keys=0
    )
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)
    cfg._dims["bloom"]["capacity"] = 10**12  # force the incremental leg

    real_update = round_mod.update_bloom_shard_files
    calls = {"n": 0}

    def fail_once(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            real_update(*a, **kw)  # the work lands, THEN the crash
            raise RuntimeError("injected crash after bloom update")
        return real_update(*a, **kw)

    monkeypatch.setattr(round_mod, "update_bloom_shard_files", fail_once)
    with pytest.raises(RuntimeError, match="injected"):
        crawl_round(spark, cfg, 2)
    crawl_round(spark, cfg, 2)  # in-process retry, same cfg
    assert calls["n"] == 2
    crawl_round(spark, cfg, 3)

    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    otrace, oseen = _oracle_crawl(3)
    assert strace == otrace
    assert sseen == oseen


def test_five_rounds_with_bloom_prefilter(spark, tmp_path):
    """M2/M4 gate: 5 rounds, bloom prefilter ON — results must be
    IDENTICAL to the oracle (bloom is an optimization, never authority)."""
    strace, sseen, _ = _spark_crawl(
        spark, tmp_path, 5, bloom_min_keys=0
    )
    otrace, oseen = _oracle_crawl(5)
    assert strace == otrace
    assert sseen == oseen


def test_bloom_file_distribution_path_is_trace_identical(spark, tmp_path):
    """The SURVEY §4.2 design-point path: shard bitmaps as
    partition-local parquet files probed in place (no driver
    collect+broadcast).  It is the only bloom mode — the trace and seen
    set must be byte-identical to the oracle, and the shard files must
    actually exist on disk."""
    import glob

    strace, sseen, cfg = _spark_crawl(
        spark, tmp_path, 4, bloom_min_keys=0
    )
    otrace, oseen = _oracle_crawl(4)
    assert strace == otrace
    assert sseen == oseen
    shard_files = glob.glob(
        os.path.join(cfg.table("bloom"), "round-*", "shard_id=*", "*.parquet")
    )
    assert shard_files, "file-based bloom path wrote no shard bitmaps"


def test_crawl_exhausts_frontier_and_stays_oracle_equal(spark, tmp_path):
    """Depth cap 1 + generous uniform budgets drain the frontier after
    a few rounds; further rounds must be clean no-ops (n_pending == 0)
    and the full trace + seen set still match the oracle exactly."""
    strace, sseen, cfg = _spark_crawl(
        spark, tmp_path, 6, max_depth=1, budget_rows=[], default_budget=200
    )
    otrace, oseen = oracle_crawler.crawl(
        fx.make_seeds(), 6, max_depth=1, default_budget=200, budget_rows=[]
    )
    otrace = [tuple(r[c] for c in TRACE_COLS) for r in otrace]
    assert strace == otrace
    assert sseen == oseen
    from topicalcrawler_spark import icelite

    def n_rows(table):
        d = cfg.table(table)
        return icelite.read_manifest(d, icelite.latest_snapshot_id(d))["row_count"]

    # drained: every frontier row appended since the last compaction has
    # its tombstone (the same arithmetic as crawl_round's n_pending)
    assert n_rows("frontier") - n_rows("fetched") == 0
    from topicalcrawler_spark.plans.round import crawl_round

    # a no-op round reports the same counters as a working one
    # (tools sum wall_s and read phases over every round)
    noop = crawl_round(spark, cfg, 7)
    assert set(noop) == {
        "phases", "round", "n_pending", "n_robots_blocked", "n_fetched",
        "n_errors", "n_verify_failed", "n_candidates", "n_new", "wall_s",
    }
    assert noop["n_pending"] == 0 and noop["phases"] == {}
    assert noop["wall_s"] > 0


def test_hot_host_skew_trace_parity_and_salt_spread(spark, tmp_path):
    """BASELINE.json north_star: 'salted-by-host repartitioning to kill
    hot-host skew'.  The salted two-stage top-k was oracle-proved equal
    to the plain window in round 1, but no test ever crawled the
    scenario the salt EXISTS for — one host holding ~100x the
    candidates of every other.  Fixture: 2,000 seeds on one hot host
    vs ~20 spread across the rest, small uniform budget.  Asserts
    (a) exact trace + seen parity with the oracle under the skew, and
    (b) the hot host's candidate set actually spans >1 salt bucket —
    i.e. stage A of select_per_host_topk ranks the mega-host in
    parallel tasks instead of one (the whole point of the salt)."""
    from pyspark.sql import functions as F

    from topicalcrawler_spark.core.synthweb import HOSTS
    from topicalcrawler_spark.functions import canon_udf, url_hash_expr
    from topicalcrawler_spark.operators.politeness import SALT
    from topicalcrawler_spark.plans.round import CrawlConfig, run_crawl

    hot = HOSTS[0]
    seeds = [f"http://{hot}/s/{i:05d}" for i in range(2000)]
    for hi in range(1, 11):
        seeds.append(f"http://{HOSTS[hi]}/s/{hi:05d}")
        seeds.append(f"http://{HOSTS[hi]}/s/{hi + 50:05d}")
    seeds_path = str(tmp_path / "seeds.txt")
    with open(seeds_path, "w") as f:
        f.write("\n".join(seeds) + "\n")

    # (b) precondition+mechanism: the hot host's urls span many salt
    # buckets, via the SAME salt expression the scheduler applies
    n_salts = (
        spark.createDataFrame([(u,) for u in seeds[:2000]], "url string")
        .withColumn("url_canon", canon_udf("url"))
        .withColumn("url_hash", url_hash_expr("url_canon"))
        .select(F.pmod(F.col("url_hash"), F.lit(SALT)).cast("int").alias("s"))
        .distinct()
        .count()
    )
    assert n_salts == SALT, f"hot host spans only {n_salts}/{SALT} salt buckets"

    kw = dict(max_depth=2, budget_rows=[], default_budget=5)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"), **kw)
    run_crawl(spark, cfg, seeds_path, rounds=2)
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    otrace, oseen = oracle_crawler.crawl(
        seeds, 2, max_depth=2, default_budget=5, budget_rows=[]
    )
    otrace = [tuple(r[c] for c in TRACE_COLS) for r in otrace]
    assert strace == otrace
    assert sseen == oseen
    # skew sanity: the hot host dominated the candidate pool but was
    # still budget-capped per round like everyone else
    hot_fetches = [t for t in strace if t[3] == hot]
    assert len(hot_fetches) == 2 * 5


def test_crawl_delay_cap_trace_parity(spark, tmp_path):
    """Robots crawl-delay politeness (CrawlConfig.round_window_s): a
    host whose robots asks for d seconds between fetches is capped at
    floor(round_window_s / d) fetches per round (floored at 1), on BOTH
    sides.  Asserts (a) the fixture actually exercises the cap — at
    least one host's effective budget drops, (b) exact trace + seen
    parity with the oracle under the cap, and (c) the capped trace
    differs from the uncapped one (the feature changes scheduling, the
    parity is not vacuous)."""
    import math

    window = 6.0
    budgets = {b["host"]: b["budget_per_round"] for b in fx.make_budgets()}
    delays = fx.current_crawl_delays()
    capped_hosts = [
        h
        for h, d in delays.items()
        if d > 0 and max(1, math.floor(window / d)) < budgets[h]
    ]
    assert capped_hosts, "fixture never engages the crawl-delay cap"

    strace, sseen, _ = _spark_crawl(
        spark, tmp_path, 3, round_window_s=window
    )
    otrace, oseen = oracle_crawler.crawl(
        fx.make_seeds(), 3, round_window_s=window
    )
    otrace = [tuple(r[c] for c in TRACE_COLS) for r in otrace]
    assert strace == otrace
    assert sseen == oseen

    otrace_uncapped, _ = oracle_crawler.crawl(fx.make_seeds(), 3)
    assert strace != [
        tuple(r[c] for c in TRACE_COLS) for r in otrace_uncapped
    ], "cap engaged but the trace is identical to the uncapped crawl"


@pytest.mark.parametrize(
    "restart", ["cold", "inprocess"], ids=["append", "append-inprocess"]
)
def test_resume_equivalence(spark, tmp_path, restart):
    """§3.3: crawl(k) ≡ crawl(j); resume(k−j) — byte-identical trace
    and seen-set, equal to the oracle.  The cold leg resumes with a
    FRESH CrawlConfig (as a new spark-submit would have): all durable
    state must live in icelite snapshots, none in the in-memory
    dim/bloom memos — the LSM frontier's tombstone table included.
    The in-process leg resumes with the SAME CrawlConfig, its bloom
    build record still live and forced onto the incremental path:
    resume() deletes the bloom files, so it must drop that record too,
    or the next round updates bitmaps in a directory that is gone."""
    from topicalcrawler_spark.plans.round import resume

    kw = {"bloom_min_keys": 0}
    (tmp_path / "full").mkdir()
    full_trace, full_seen, _ = _spark_crawl(
        spark, tmp_path / "full", rounds=3, **kw
    )

    seeds_path = str(tmp_path / "split" / "seeds.txt")
    (tmp_path / "split").mkdir()
    fx.write_seed_file(seeds_path)
    root = str(tmp_path / "split" / "crawl")
    cfg = CrawlConfig(root=root, **kw)
    run_crawl(spark, cfg, seeds_path, rounds=1)
    if restart == "cold":
        cfg = CrawlConfig(root=root, **kw)
    else:
        cfg._dims["bloom"]["capacity"] = 10**12  # force the incremental leg
    resume(spark, cfg, rounds=2)
    split_trace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    split_seen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    assert split_trace == full_trace
    assert split_seen == full_seen
    otrace, oseen = _oracle_crawl(3)
    assert split_trace == otrace
    assert split_seen == oseen


def test_seen_compaction_is_result_invariant(spark, tmp_path):
    """compact_seen_every rewrites the seen table mid-crawl (fewer,
    shard-placed files + expiry of superseded snapshots) — a purely
    physical maintenance op that must not change one trace row or seen
    URL, and must actually shrink the table's file count."""
    import os

    from topicalcrawler_spark import icelite

    strace, sseen, cfg = _spark_crawl(
        spark, tmp_path, 4, bloom_min_keys=0,
        compact_seen_every=2,
    )
    otrace, oseen = _oracle_crawl(4)
    assert strace == otrace
    assert sseen == oseen
    seen_dir = cfg.table("seen")
    files = icelite.read_manifest(
        seen_dir, icelite.latest_snapshot_id(seen_dir)
    )["files"]
    # last compaction at round 4 rewrote to n_shards files; the
    # (empty-or-small) post-compaction appends of the same round chain
    # on top of it
    assert len(files) <= cfg.n_shards * 3
    assert all(os.path.exists(f) for f in files)


def test_every_table_file_holds_one_shard(spark, tmp_path):
    """Every url_hash-keyed table is placed by the one shard function
    (``operators.dedup.place_by_shard``): each data file of seen,
    frontier and fetched holds one top-bits shard (its manifest
    url_hash min and max map to the same ``shard_ids`` value), and no
    two files of one commit share a shard.  Benchmark crawl settings:
    bloom forced on, both tables compacted every round, checked after
    two rounds over every live commit."""
    import numpy as np

    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.operators.dedup import shard_ids

    n_shards = 4
    _, _, cfg = _spark_crawl(
        spark, tmp_path, 2,
        n_shards=n_shards, max_depth=4, default_budget=60, budget_rows=[],
        bloom_min_keys=0,
        compact_seen_every=1, compact_frontier_every=1,
    )
    for table in ("seen", "frontier", "fetched"):
        n_files = 0
        for m in icelite.history(cfg.table(table)):
            own = [
                f for f in m["files"]
                if os.path.dirname(f) == os.path.normpath(m["data_dir"])
            ]
            sids = []
            for f in own:
                lo, hi = shard_ids(
                    np.array(m["file_stats"][f], dtype=np.int64), n_shards
                )
                assert lo == hi, (
                    f"{table} snap {m['snapshot_id']}: {f} spans shards {lo}..{hi}"
                )
                sids.append(int(lo))
            assert len(sids) == len(set(sids)), (
                f"{table} snap {m['snapshot_id']}: files share a shard {sorted(sids)}"
            )
            n_files += len(own)
        assert n_files > 0, f"{table}: no data files checked"


def test_lineage_rows_follow_fetch_tasks(spark, tmp_path):
    """Lineage holds one row per fetch task of a round — one per
    non-empty part file the fetch wrote, keyed by its part-NNNNN index
    and counting that file's rows — and the rows sum to the round's
    n_fetched.  Keying by spark_partition_id() of the re-read instead
    counts file-scan splits, which pack several small fetch files into
    one partition."""
    import re

    import pyarrow.parquet as pq

    from topicalcrawler_spark import icelite

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"))
    stats = run_crawl(spark, cfg, seeds_path, 2)
    lineage = icelite.read_snapshot(spark, cfg.table("lineage")).collect()
    for st in stats:
        (corpus,) = [
            m for m in icelite.history(cfg.table("corpus"))
            if m["round"] == st["round"]
        ]
        files = {}
        for f in glob.glob(os.path.join(corpus["data_dir"], "part-*.parquet")):
            n = pq.ParquetFile(f).metadata.num_rows
            if n:
                files[int(re.match(r"part-(\d+)", os.path.basename(f)).group(1))] = n
        rows = {
            r["partition_id"]: r["n_fetched"]
            for r in lineage if r["round"] == st["round"]
        }
        assert len(files) > 1
        assert rows == files
        assert sum(rows.values()) == st["n_fetched"]
        assert len([r for r in lineage if r["round"] == st["round"]]) == len(files)


def test_table_manifest_schemas_match_declared(spark, tmp_path):
    """Every manifest of every crawl table records the schema
    schemas.py declares for it, by column name and type — a column
    written from a bare Python literal (an int where the table declares
    a long) drifts from it silently."""
    from pyspark.sql.types import StructType

    from topicalcrawler_spark import icelite, schemas

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"), bloom_min_keys=0)
    run_crawl(spark, cfg, seeds_path, 1)
    declared = {
        "seen": schemas.SEEN,
        "frontier": schemas.FRONTIER,
        "fetched": schemas.SEEN,  # the tombstone keys of consumed rows
        "trace": schemas.TRACE,
        "lineage": schemas.LINEAGE,
    }
    for table, schema in declared.items():
        want = [(f.name, f.dataType) for f in schema.fields]
        manifests = icelite.history(cfg.table(table))
        assert manifests, table
        for m in manifests:
            got = StructType.fromJson(m["schema"])
            assert [(f.name, f.dataType) for f in got.fields] == want, (
                table, m["snapshot_id"],
            )


@pytest.mark.parametrize(
    "crash_table",
    ["trace", "seen", "fetched", "frontier"],
    ids=lambda t: f"append-{t}",
)
def test_crash_mid_round_then_resume_matches_oracle(
    spark, tmp_path, monkeypatch, crash_table
):
    """A round is several table commits, not one atomic operation.
    Crash immediately AFTER the named table's round-2 commit, then
    cold-restart resume: the re-run must pin its reads to the round-1
    snapshots and skip the commits that already landed, so the final
    trace + seen equal the oracle exactly (no double-appended
    tombstones/trace rows, no lost new links)."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import (
        CrawlConfig, crawl_round, init_crawl, read_seen, read_trace, resume,
    )

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    kw = dict(bloom_min_keys=0)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"), **kw)
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)

    class Boom(Exception):
        pass

    real_commit = icelite.commit

    def crashing(df, table_dir, round_n, *a, **kw2):
        snap = real_commit(df, table_dir, round_n, *a, **kw2)
        if table_dir.endswith(os.sep + crash_table) and round_n == 2:
            raise Boom(table_dir)
        return snap

    monkeypatch.setattr(icelite, "commit", crashing)
    with pytest.raises(Boom):
        crawl_round(spark, cfg, 2)
    monkeypatch.setattr(icelite, "commit", real_commit)

    # cold restart: fresh config (no in-memory dim/bloom state)
    cfg2 = CrawlConfig(root=str(tmp_path / "crawl"), **kw)
    last = icelite.read_manifest(
        cfg2.table("frontier"), icelite.latest_snapshot_id(cfg2.table("frontier"))
    )["round"]
    resume(spark, cfg2, rounds=3 - last)

    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg2).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg2).collect()}
    otrace, oseen = _oracle_crawl(3)
    assert strace == otrace
    assert sseen == oseen


def test_crash_mid_compaction_small_tombstones_then_resume(
    spark, tmp_path, monkeypatch
):
    """ADVICE r3 (medium): the round-3 self-heal only fired on the
    count signature n_tomb > n_frontier_rows — but on a LARGE frontier
    the stale tombstones left by a crash between the compaction
    replace-commit and the tombstone reset are FEWER than the compacted
    frontier, so the inconsistency went undetected (n_pending silently
    understated; a crawl can halt early).  The detection is now
    structural: frontier head compacted at round rc + non-empty
    tombstone head at round <= rc.  Crash at the round-4 compaction
    (by then the frontier dwarfs one round's tombstones — asserted as
    the test's precondition) and verify the resume self-heals and the
    final trace + seen still equal the oracle."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import (
        CrawlConfig, crawl_round, init_crawl, read_seen, read_trace, resume,
    )

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    kw = dict(compact_frontier_every=4)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"), **kw)
    init_crawl(spark, cfg, seeds_path)
    for r in (1, 2, 3):
        crawl_round(spark, cfg, r)

    class Boom(Exception):
        pass

    real_commit = icelite.commit

    def crashing(df, table_dir, round_n, meta=None, **kw2):
        snap = real_commit(df, table_dir, round_n, meta=meta, **kw2)
        if (
            table_dir.endswith(os.sep + "frontier")
            and (meta or {}).get("compacted")
            and round_n == 4
        ):
            raise Boom(table_dir)
        return snap

    monkeypatch.setattr(icelite, "commit", crashing)
    with pytest.raises(Boom):
        crawl_round(spark, cfg, 4)  # compaction round
    monkeypatch.setattr(icelite, "commit", real_commit)

    # precondition: this crash state is the one the old count check
    # MISSED — stale tombstones <= compacted frontier rows
    f_dir, t_dir = cfg.table("frontier"), cfg.table("fetched")
    fm = icelite.read_manifest(f_dir, icelite.latest_snapshot_id(f_dir))
    tm = icelite.read_manifest(t_dir, icelite.latest_snapshot_id(t_dir))
    assert fm["meta"].get("compacted") and fm["round"] == 4
    assert 0 < tm["row_count"] <= fm["row_count"], (
        "fixture no longer exercises the small-tombstone case; "
        f"n_tomb={tm['row_count']} n_frontier={fm['row_count']}"
    )

    cfg2 = CrawlConfig(root=str(tmp_path / "crawl"), **kw)
    stats = resume(spark, cfg2, rounds=1)
    assert stats[0]["n_pending"] == fm["row_count"], (
        "self-heal missed: stale tombstones still understate n_pending"
    )
    assert stats[0].get("n_fetched", 0) > 0
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg2).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg2).collect()}
    otrace, oseen = _oracle_crawl(5)
    assert strace == otrace
    assert sseen == oseen


def test_crash_mid_frontier_compaction_then_resume(spark, tmp_path, monkeypatch):
    """The LSM compaction is two replace-commits (frontier, then the
    tombstone reset).  Crash BETWEEN them: the next round sees the
    impossible n_tomb > n_frontier_rows state, must self-heal (finish
    the tombstone reset) instead of early-returning n_pending <= 0 and
    silently halting the crawl — and the final result must still equal
    the oracle."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import (
        CrawlConfig, crawl_round, init_crawl, read_seen, read_trace, resume,
    )

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    kw = dict(compact_frontier_every=2, bloom_min_keys=0)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"), **kw)
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)

    class Boom(Exception):
        pass

    real_commit = icelite.commit

    def crashing(df, table_dir, round_n, meta=None, **kw2):
        snap = real_commit(df, table_dir, round_n, meta=meta, **kw2)
        if (
            table_dir.endswith(os.sep + "frontier")
            and (meta or {}).get("compacted")
            and round_n == 2
        ):
            raise Boom(table_dir)
        return snap

    monkeypatch.setattr(icelite, "commit", crashing)
    with pytest.raises(Boom):
        crawl_round(spark, cfg, 2)  # compaction round
    monkeypatch.setattr(icelite, "commit", real_commit)

    cfg2 = CrawlConfig(root=str(tmp_path / "crawl"), **kw)
    last = icelite.read_manifest(
        cfg2.table("frontier"), icelite.latest_snapshot_id(cfg2.table("frontier"))
    )["round"]
    stats = resume(spark, cfg2, rounds=3 - last)
    assert all(s.get("n_fetched", 0) > 0 for s in stats), (
        "self-heal failed: crawl halted on the stale-tombstone state"
    )
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg2).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg2).collect()}
    otrace, oseen = _oracle_crawl(3)
    assert strace == otrace
    assert sseen == oseen


def test_round_failure_releases_all_round_caches(spark, tmp_path, monkeypatch):
    """Round-4 review finding: the per-round unpersists ran only on the
    success path, so a round that died mid-flight (a crash-injection
    re-run, or a CommitConflict from a racing driver) leaked its cached
    DataFrames — including the trace rank's persisted ranged layout the
    round-3 ADVICE fix was specifically meant to release — growing
    CacheManager storage every failed round of a long crawl.  All round
    caches are now registered and released in a ``finally``."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import crawl_round, init_crawl

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"), bloom_min_keys=0
    )
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)
    # baseline: only the per-crawl dim caches (robots/budgets) survive
    # a completed round
    base = spark.sparkContext._jsc.getPersistentRDDs().size()

    class Boom(Exception):
        pass

    real_commit = icelite.commit

    def crashing(df, table_dir, round_n, *a, **kw):
        if table_dir.endswith(os.sep + "trace") and round_n == 2:
            raise Boom(table_dir)
        return real_commit(df, table_dir, round_n, *a, **kw)

    monkeypatch.setattr(icelite, "commit", crashing)
    with pytest.raises(Boom):
        crawl_round(spark, cfg, 2)
    monkeypatch.undo()

    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= base

    # and a clean re-run of the failed round still nets zero new caches
    crawl_round(spark, cfg, 2)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= base


def test_crash_between_init_commits_then_resume(spark, tmp_path, monkeypatch):
    """Round-4 review finding: init_crawl is TWO commits (frontier,
    seen); a crash between them left a pointerless seen table that made
    every later _snap_as_of read raise TypeError — resume() could never
    recover, contradicting its any-crash-point contract.  Both repair
    paths are pinned: resume() recomputes the derived seen0 from the
    committed frontier, and re-running init_crawl is idempotent."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import init_crawl, resume

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(root=str(tmp_path / "crawl"))

    real_commit = icelite.commit

    def crashing(df, table_dir, round_n, *a, **kw):
        if table_dir.endswith(os.sep + "seen"):
            raise RuntimeError("crash between init's two commits")
        return real_commit(df, table_dir, round_n, *a, **kw)

    monkeypatch.setattr(icelite, "commit", crashing)
    with pytest.raises(RuntimeError):
        init_crawl(spark, cfg, seeds_path)
    monkeypatch.undo()
    assert icelite.latest_snapshot_id(cfg.table("frontier")) == 1
    assert icelite.latest_snapshot_id(cfg.table("seen")) is None

    # repair path 1: resume() finishes the init, then crawls
    resume(spark, cfg, 2)
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    otrace, oseen = _oracle_crawl(2)
    assert strace == otrace
    assert sseen == oseen

    # repair path 2: re-running init_crawl on a fresh half-init is
    # idempotent (fresh root, same crash, then a clean re-init)
    cfg2 = CrawlConfig(root=str(tmp_path / "crawl2"))
    monkeypatch.setattr(icelite, "commit", crashing)
    with pytest.raises(RuntimeError):
        init_crawl(spark, cfg2, seeds_path)
    monkeypatch.undo()
    init_crawl(spark, cfg2, seeds_path)
    assert icelite.latest_snapshot_id(cfg2.table("frontier")) == 1  # no dup
    f0 = icelite.read_snapshot(spark, cfg2.table("frontier")).count()
    assert icelite.read_snapshot(spark, cfg2.table("seen")).count() == f0


def test_bloom_generations_swept_and_frontier_rerun_guarded(
    spark, tmp_path, monkeypatch
):
    """Two round-4 review findings:
    (a) stale bloom shard-file generations (crash debris, pre-restart
        dirs with no in-memory build record) leak — a full rebuild now
        sweeps every other round-* dir, and resume() clears the table;
    (b) the frontier's per-round append commit is guarded by
        _round_committed — a crash re-run must not append the round's
        new links again as a redundant same-round snapshot."""
    import glob as _glob

    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import (
        crawl_round, init_crawl,
    )

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"), bloom_min_keys=0
    )
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)
    bloom_dirs = _glob.glob(os.path.join(cfg.table("bloom"), "round-*"))
    assert len(bloom_dirs) == 1

    # simulated restart: the in-memory build record is gone and a
    # crashed write left a debris generation on disk
    os.makedirs(os.path.join(cfg.table("bloom"), "round-000099"))
    cfg._dims.pop("bloom", None)
    crawl_round(spark, cfg, 2)
    bloom_dirs = _glob.glob(os.path.join(cfg.table("bloom"), "round-*"))
    assert len(bloom_dirs) == 1  # full rebuild swept ALL other gens

    # (b) crash right after the frontier append commit (lineage not
    # yet committed), then re-run: the frontier snapshot id must not
    # advance — the guard skips the duplicate append
    real_commit = icelite.commit

    def crash_lineage(df, table_dir, round_n, *a, **kw):
        if table_dir.endswith(os.sep + "lineage") and round_n == 3:
            raise RuntimeError("crash after frontier commit")
        return real_commit(df, table_dir, round_n, *a, **kw)

    monkeypatch.setattr(icelite, "commit", crash_lineage)
    with pytest.raises(RuntimeError):
        crawl_round(spark, cfg, 3)
    monkeypatch.undo()
    snap_after_crash = icelite.latest_snapshot_id(cfg.table("frontier"))
    stats = crawl_round(spark, cfg, 3)  # clean re-run
    assert (
        icelite.latest_snapshot_id(cfg.table("frontier")) == snap_after_crash
    )
    assert stats["round"] == 3


def test_dirty_seed_lines_are_gated_not_fetched(spark, tmp_path):
    """P4 applies to SEEDS, not just out-links (round-4 review
    finding): a seeds file with non-http(s) and unparseable lines must
    produce a trace/seen identical to the oracle's, with none of the
    dirty lines admitted — previously init_crawl committed them to the
    frontier and round 1 fetched them, violating gates.py's 'the crawl
    only ever fetches http(s) URLs'."""
    dirty = [
        "ftp://files.test/pub/x",
        "notaurl",
        "mailto:someone@example.test",
        "  ",  # blank-ish: load_seeds drops pure blanks pre-seq
    ]
    clean = fx.make_seeds()[:40]
    # interleave mid-file: dirty lines must not shift the dense
    # admission numbering of the clean lines after them (they consume
    # no discovery_seq slot — the engine's init renumber and the
    # oracle's admission counter must agree on that)
    lines = clean[:10] + dirty[:2] + clean[10:25] + dirty[2:] + clean[25:]
    seeds_path = str(tmp_path / "seeds.txt")
    with open(seeds_path, "w") as f:
        f.write("\n".join(lines) + "\n")

    cfg = CrawlConfig(root=str(tmp_path / "crawl"))
    run_crawl(spark, cfg, seeds_path, 2)
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}

    # oracle sees the same non-blank lines in the same order (both
    # sides assign dense admission seqs over the lines they admit)
    oracle_lines = [ln for ln in lines if ln.strip()]
    otrace_rows, oseen = oracle_crawler.crawl(oracle_lines, 2)
    otrace = [tuple(r[c] for c in TRACE_COLS) for r in otrace_rows]

    assert strace == otrace
    assert sseen == oseen
    for urls in (sseen, {t[2] for t in strace}):
        assert all(
            u.startswith(("http://", "https://")) for u in urls
        ), "a dirty seed leaked through the gate"


def test_discovery_seq_is_bounded_dense_admission_counter(spark, tmp_path):
    """Round-5 design-point overflow regression (round.py module
    docstring): discovery_seq must be a dense ADMISSION counter.  The
    old tree-path encoding (parent_seq*stride + idx + 1) grew
    log2(stride) bits per depth level and overflowed int64 at round 6
    of the 60M-key design-point run — the pure-Python oracle's bignums
    masked it at small SF, so this pins the engine-side invariants
    directly: every seq ever assigned lies in [1, n_seen], and the
    seqs visible across trace + pending frontier are pairwise distinct
    (each admitted URL is fetched at most once and pending at most
    once)."""
    from topicalcrawler_spark import icelite

    strace, sseen, cfg = _spark_crawl(spark, tmp_path, 3, max_depth=8)
    trace_seqs = [t[6] for t in strace]  # TRACE_COLS[6] = discovery_seq
    frontier_seqs = [
        r["discovery_seq"]
        for r in icelite.read_snapshot(spark, cfg.table("frontier"))
        .select("discovery_seq")
        .collect()
    ]
    seqs = trace_seqs + frontier_seqs
    n_seen = len(sseen)
    assert seqs and min(seqs) >= 1 and max(seqs) <= n_seen
    assert len(set(trace_seqs)) == len(trace_seqs)
    assert len(set(frontier_seqs)) == len(frontier_seqs)


def test_random_seed_list_all_hosts_trace_parity(spark, tmp_path):
    """Round-5 randomized end-to-end fuzz, pinned: the fixture seed
    list (fx.make_seeds, 20 hosts, seed 42) is NOT the only input the
    parity gate holds on.  This trial draws a fresh dirty seed list
    over ALL synthweb hosts — https and userinfo variants the fixture
    never emits, ftp:// rows the gate must drop, canonical-collision
    aliases — and a config engaging bloom + LSM frontier + both
    compactions at once.  Ten such trials (rng seeds 7000-7009, varied
    configs) ran byte-identical to the oracle in the round-5 session;
    this keeps one representative alive in the suite."""
    import numpy as np

    from topicalcrawler_spark.core.synthweb import HOST_WEIGHTS, HOSTS

    rng = np.random.default_rng(7008)
    w = HOST_WEIGHTS / HOST_WEIGHTS.sum()
    seeds, i = [], 0
    while len(seeds) < 150:
        host = HOSTS[int(rng.choice(len(HOSTS), p=w))]
        clean = f"http://{host}/s/{i:04d}"
        r = rng.random(8)
        u = clean
        if r[0] < 0.3:
            scheme, rest = u.split("://", 1)
            h, _, tail = rest.partition("/")
            u = f"HTTP://{h.upper()}/{tail}"
        if r[1] < 0.15:
            u = u.replace(".test/", ".test:80/", 1)
        if r[2] < 0.15:
            u = "https://" + u.split("://", 1)[1]
        if r[3] < 0.1:
            u = "ftp://" + u.split("://", 1)[1]
        if r[4] < 0.3:
            u += "?b=2&a=1" if r[5] < 0.5 else "?a=1&b=2"
        if r[6] < 0.2:
            u += "#sec"
        if r[7] < 0.1:
            u = u.split("://", 1)[0] + "://user@" + u.split("://", 1)[1]
        seeds.append(u)
        if rng.random() < 0.15 and len(seeds) < 150:
            seeds.append(clean + ("?a=1&b=2" if r[5] < 0.5 else "?b=2&a=1"))
        i += 1

    seeds_path = str(tmp_path / "seeds.txt")
    with open(seeds_path, "w") as f:
        f.write("\n".join(seeds) + "\n")
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"),
        max_depth=2,
        default_budget=5,
        n_shards=4,
        bloom_min_keys=0,
        compact_frontier_every=2,
        compact_seen_every=2,
    )
    run_crawl(spark, cfg, seeds_path, 3)
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    otrace_rows, oseen = oracle_crawler.crawl(seeds, 3, max_depth=2, default_budget=5)
    otrace = [tuple(r[c] for c in TRACE_COLS) for r in otrace_rows]
    assert strace == otrace
    assert sseen == oseen


def test_randomized_robots_table_trace_parity(spark, tmp_path, monkeypatch):
    """Round-5 robots-content fuzz, pinned: the fixture robots table
    (fx.make_robots, seed 43) is NOT the only rule set the parity gate
    holds on.  This trial draws a fresh randomized robots table over
    all hosts — duplicate prefixes with opposite flags, nested and
    empty-string prefixes, NULL-allow "no decision" rules and NULL
    prefixes (which neither twin may let decide or shadow), fetched_at
    TIES resolved only by the content key, multi-snapshot as-of
    resolution, crawl_delay None/0/5e-4/huge — plus a randomized budget
    table with missing hosts, under round_window_s=1.0 so the
    crawl-delay cap engages on most hosts.  Twelve such trials (rng
    seeds 9100-9111) ran byte-identical to the oracle in the round-5
    session; this keeps one representative (rng 9110) alive."""
    import numpy as np

    from topicalcrawler_spark.core.synthweb import HOST_WEIGHTS, HOSTS

    HEXD = "0123456789abcdef"
    rng = np.random.default_rng(9110)

    from datetime import timedelta

    robots_rows = []
    for hi, host in enumerate(HOSTS):
        n_snapshots = int(rng.choice([1, 1, 2, 3]))
        tie = rng.random() < 0.2
        base = fx.ROBOTS_EPOCH + timedelta(hours=hi)
        for s in range(n_snapshots):
            fetched_at = base if tie else base + timedelta(days=s)
            r = rng.random()
            if r < 0.08:
                rules = [{"prefix": "/", "allow": False}]
            elif r < 0.16:
                rules = []
            else:
                nrules = int(rng.integers(0, 7))
                rules = []
                for _ in range(nrules):
                    kind = rng.random()
                    if kind < 0.15:
                        prefix = ""
                    elif kind < 0.30:
                        prefix = "/p"
                    elif kind < 0.45 and rules:
                        prefix = rules[int(rng.integers(len(rules)))]["prefix"]
                    else:
                        prefix = "/p/" + HEXD[int(rng.integers(16))]
                        if rng.random() < 0.3:
                            prefix += "/" + HEXD[int(rng.integers(16))]
                    ar = rng.random()
                    allow = None if ar < 0.08 else bool(ar < 0.48)
                    if rng.random() < 0.05:
                        prefix = None
                    rules.append({"prefix": prefix, "allow": allow})
            dr = rng.random()
            if dr < 0.15:
                delay = None
            elif dr < 0.30:
                delay = 0.0
            elif dr < 0.45:
                delay = 0.0005
            elif dr < 0.55:
                delay = float(rng.integers(20, 200))
            else:
                delay = round(float(rng.random() * 2.0), 3)
            robots_rows.append({"host": host, "fetched_at": fetched_at,
                                "rules": rules, "crawl_delay": delay})
    order = rng.permutation(len(robots_rows))
    robots_rows = [robots_rows[i] for i in order]

    budget_rows = []
    for host in HOSTS:
        if rng.random() < 0.3:
            continue
        budget_rows.append({"host": host,
                            "budget_per_round": int(rng.integers(1, 11))})

    n_seeds = int(rng.integers(80, 220))
    w = HOST_WEIGHTS / HOST_WEIGHTS.sum()
    seeds = []
    for i in range(n_seeds):
        host = HOSTS[int(rng.choice(len(HOSTS), p=w))]
        seeds.append(f"http://{host}/s/{i:04d}")

    # oracle reads robots via fx.current_robots()/current_crawl_delays()
    monkeypatch.setattr(fx, "make_robots", lambda: robots_rows)

    seeds_path = str(tmp_path / "seeds.txt")
    with open(seeds_path, "w") as f:
        f.write("\n".join(seeds) + "\n")
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"),
        max_depth=2,
        default_budget=4,
        budget_rows=budget_rows,
        robots_rows=robots_rows,
        round_window_s=1.0,
    )
    run_crawl(spark, cfg, seeds_path, 3)
    strace = [
        tuple(r[c] for c in TRACE_COLS)
        for r in read_trace(spark, cfg).select(*TRACE_COLS).collect()
    ]
    sseen = {r["url_canon"] for r in read_seen(spark, cfg).collect()}
    otrace_rows, oseen = oracle_crawler.crawl(
        seeds, 3, max_depth=2, default_budget=4,
        budget_rows=budget_rows, round_window_s=1.0)
    otrace = [tuple(r[c] for c in TRACE_COLS) for r in otrace_rows]
    assert len(strace) == 179 and len(sseen) == 590  # the recorded trial
    assert strace == otrace
    assert sseen == oseen


# (n_pending, n_robots_blocked, n_fetched, n_errors, n_verify_failed,
#  n_candidates, n_new) of rounds 1-4 on the seed fixture, with or
# without the bloom prefilter; each counter's source must reproduce them
FIXTURE_ROUND_COUNTERS = [
    (193, 7, 68, 3, 0, 270, 270),
    (388, 30, 95, 6, 0, 333, 333),
    (596, 34, 120, 3, 0, 481, 481),
    (923, 57, 158, 3, 0, 94, 94),
]
COUNTER_KEYS = (
    "n_pending", "n_robots_blocked", "n_fetched", "n_errors",
    "n_verify_failed", "n_candidates", "n_new",
)


@pytest.mark.parametrize("bloom", [True, False], ids=["bloom", "default"])
def test_round_counters_pinned_and_match_tables(spark, tmp_path, bloom):
    """Every counter crawl_round returns, and the lineage rows, equal
    the pinned values, and agree with the tables they count: n_fetched
    is the round's trace rows, n_errors those with status != 200, n_new
    the seen delta, the corpus row count the round's traced images.
    Benchmarks sum n_fetched + n_candidates as work done, so a counter
    observed twice (a re-evaluated plan) would show here."""
    from pyspark.sql import functions as F

    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import crawl_round, init_crawl

    def rows(table):
        d = cfg.table(table)
        snap = icelite.latest_snapshot_id(d)
        return icelite.read_manifest(d, snap)["row_count"] if snap else 0

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"), **({"bloom_min_keys": 0} if bloom else {})
    )
    init_crawl(spark, cfg, seeds_path)
    for r, want in enumerate(FIXTURE_ROUND_COUNTERS, start=1):
        seen0, corpus0 = rows("seen"), rows("corpus")
        st = crawl_round(spark, cfg, r)
        assert tuple(st[k] for k in COUNTER_KEYS) == want, r
        assert all(type(st[k]) is int for k in COUNTER_KEYS)
        trace = read_trace(spark, cfg).filter(F.col("round") == r).collect()
        assert st["n_fetched"] == len(trace)
        assert st["n_errors"] == sum(t["status"] != 200 for t in trace)
        assert st["n_new"] == rows("seen") - seen0
        assert rows("corpus") - corpus0 == sum(
            t["image_id"] is not None for t in trace
        )
        lineage = icelite.read_snapshot(spark, cfg.table("lineage")).filter(
            F.col("round") == r
        ).collect()
        assert {
            (x["n_candidates"], x["n_dedup"], x["n_robots_blocked"])
            for x in lineage
        } == {
            (st["n_candidates"], st["n_candidates"] - st["n_new"],
             st["n_robots_blocked"])
        }
        assert sum(x["n_fetched"] for x in lineage) == st["n_fetched"]
        assert sum(x["n_errors"] for x in lineage) == st["n_errors"]


# round 2's Spark jobs below, in the test session (local[8], 8 shuffle
# partitions)
WARM_ROUND_JOBS = 42


def test_warm_round_spark_job_count(spark, tmp_path):
    """A warm round in the benchmark's crawl settings (4 shards, bloom
    forced on, both compactions every round) starts a pinned number of
    Spark jobs: its counters ride jobs it runs anyway (Observations on
    the fetch write and the robots gate cache, one verify aggregate),
    not a separate metrics action.  A change that adds a job per round
    fails here and has to update the count on purpose."""
    import uuid

    from topicalcrawler_spark.plans.round import crawl_round, init_crawl

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"), n_shards=4, max_depth=4,
        default_budget=60, budget_rows=[], bloom_min_keys=0,
        compact_seen_every=1, compact_frontier_every=1,
    )
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)
    sc = spark.sparkContext
    group = f"round-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "crawl_round")
    try:
        st = crawl_round(spark, cfg, 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert st["n_fetched"] > 0 and st["n_new"] > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == WARM_ROUND_JOBS


def test_round_counters_survive_a_crash_rerun(spark, tmp_path, monkeypatch):
    """A crash after every table commit of round 2 but lineage (both
    compactions and expiries included) leaves a re-run nothing to
    append: it must still return the clean run's counters, the skipped
    appends' deltas read from their manifests and the fetch counters
    observed on the re-fetch into a scratch dir."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.plans.round import crawl_round, init_crawl

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    cfg = CrawlConfig(
        root=str(tmp_path / "crawl"), compact_seen_every=1,
        compact_frontier_every=1,
    )
    init_crawl(spark, cfg, seeds_path)
    crawl_round(spark, cfg, 1)

    class Boom(Exception):
        pass

    real_expire = icelite.expire_snapshots

    def crashing(table_dir, *a, **kw):
        out = real_expire(table_dir, *a, **kw)
        if table_dir == cfg.table("fetched"):
            raise Boom(table_dir)
        return out

    monkeypatch.setattr(icelite, "expire_snapshots", crashing)
    with pytest.raises(Boom):
        crawl_round(spark, cfg, 2)
    monkeypatch.setattr(icelite, "expire_snapshots", real_expire)
    st = crawl_round(spark, cfg, 2)
    assert tuple(st[k] for k in COUNTER_KEYS) == FIXTURE_ROUND_COUNTERS[1]
    lineage = icelite.read_snapshot(spark, cfg.table("lineage")).collect()
    assert {x["n_robots_blocked"] for x in lineage if x["round"] == 2} == {
        st["n_robots_blocked"]
    }
    assert not glob.glob(os.path.join(cfg.root, "_refetch-*"))


def test_all_blocked_round_counts_every_url_as_blocked(spark, tmp_path):
    """Robots rules that disallow every host leave the fetch, the links
    and the candidate set empty: the round still reports its counters
    (an Observation pruned by AQE along with an empty plan would fail
    here instead), and the next round finds nothing pending.  The
    round's corpus snapshot lists no file: it reads its data dir, whose
    0-row part file carries the schema, through the corpus view."""
    from topicalcrawler_spark import icelite, schemas
    from topicalcrawler_spark.plans.round import crawl_round, init_crawl

    seeds_path = str(tmp_path / "seeds.txt")
    fx.write_seed_file(seeds_path)
    robots = [
        dict(r, rules=[{"prefix": "/", "allow": False}]) for r in fx.make_robots()
    ]
    cfg = CrawlConfig(root=str(tmp_path / "crawl"), robots_rows=robots)
    init_crawl(spark, cfg, seeds_path)
    st = crawl_round(spark, cfg, 1)
    assert tuple(st[k] for k in COUNTER_KEYS) == (193, 193, 0, 0, 0, 0, 0)
    (corpus,) = [
        m for m in icelite.history(cfg.table("corpus")) if m["round"] == 1
    ]
    assert corpus["files"] == []
    df = icelite.read_snapshot(spark, cfg.table("corpus"), corpus["snapshot_id"])
    assert df.columns == schemas.CORPUS.names
    assert df.count() == 0
    assert crawl_round(spark, cfg, 2)["n_pending"] == 0
