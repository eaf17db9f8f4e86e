"""icelite snapshot layer — commit/read/append/time-travel round-trip."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pyarrow.parquet as pq

from topicalcrawler_spark import icelite


def _read_jobs(spark, table_dir: str) -> tuple[set, int]:
    """(rows, Spark jobs started while read_snapshot built the frame):
    the call runs in its own job group, and the listener bus is drained
    before the group's job ids are read."""
    sc = spark.sparkContext
    group = f"read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_snapshot")
    try:
        df = icelite.read_snapshot(spark, table_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return {tuple(r) for r in df.collect()}, jobs


def _check_schema_read(spark, table_dir: str, expect_cols: list[str]) -> None:
    """The head manifest records the Spark schema and read_snapshot
    starts no job; with the schema key removed (a manifest from before
    the key existed) the same rows still read, through the one-job
    schema-inference path."""
    path = icelite._manifest_path(table_dir, icelite.latest_snapshot_id(table_dir))
    with open(path) as f:
        manifest = json.load(f)
    assert [fl["name"] for fl in manifest["schema"]["fields"]] == expect_cols
    rows, jobs = _read_jobs(spark, table_dir)
    assert jobs == 0
    del manifest["schema"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    legacy_rows, legacy_jobs = _read_jobs(spark, table_dir)
    assert legacy_rows == rows
    assert legacy_jobs >= 1  # the probe does see the inference job


def test_commit_read_append_timetravel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    df1 = spark.range(5).withColumnRenamed("id", "v")
    s1 = icelite.commit(df1, t, round_n=0)
    assert s1 == 1
    assert icelite.read_snapshot(spark, t).count() == 5

    df2 = spark.range(5, 8).withColumnRenamed("id", "v")
    s2 = icelite.commit(df2, t, round_n=1, mode="append")
    assert s2 == 2
    assert icelite.read_snapshot(spark, t).count() == 8
    # time travel to snapshot 1
    assert icelite.read_snapshot(spark, t, snapshot_id=1).count() == 5
    # replace mode discards history content for the new snapshot
    s3 = icelite.commit(df2, t, round_n=2, mode="replace")
    assert icelite.read_snapshot(spark, t, snapshot_id=s3).count() == 3
    # manifest chain intact
    h = icelite.history(t)
    assert [m["snapshot_id"] for m in h] == [1, 2, 3]
    assert h[1]["parent_id"] == 1
    assert h[1]["row_count"] == 8


def test_expire_snapshots_replace_and_append(spark, tmp_path):
    """Expiry must reclaim superseded replace-mode files, keep every
    file the surviving append-chain references, and leave the table
    readable at every kept snapshot."""
    from topicalcrawler_spark import icelite

    t_rep = str(tmp_path / "rep")
    for r in range(1, 5):
        icelite.commit(
            spark.range(r * 10).selectExpr("id AS v"), t_rep, r, mode="replace"
        )
    out = icelite.expire_snapshots(t_rep, keep_last=2)
    assert out["deleted_snapshots"] == [1, 2]
    assert out["deleted_files"] > 0
    assert sorted(m["snapshot_id"] for m in icelite.history(t_rep)) == [3, 4]
    assert icelite.read_snapshot(spark, t_rep).count() == 40
    assert icelite.read_snapshot(spark, t_rep, 3).count() == 30

    t_app = str(tmp_path / "app")
    for r in range(1, 5):
        icelite.commit(
            spark.range(10).selectExpr(f"id + {r * 100} AS v"),
            t_app,
            r,
            mode="append",
        )
    before = icelite.read_manifest(t_app, 4)["files"]
    out = icelite.expire_snapshots(t_app, keep_last=1)
    assert out["deleted_snapshots"] == [1, 2, 3]
    # append chain: snapshot 4 references every file ever written —
    # zero data loss, zero files reclaimed
    assert out["deleted_files"] == 0
    assert all(os.path.exists(f) for f in before)
    assert icelite.read_snapshot(spark, t_app).count() == 40


def test_concurrent_commit_conflict_keeps_chain_unbroken(spark, tmp_path):
    """Optimistic concurrency (the Iceberg commit-conflict analogue):
    two writers racing to the same parent — the slower one must RAISE,
    not silently last-wins the LATEST pointer (round-3 verdict: that
    dropped a snapshot the moment a real cluster retries a driver).
    The winner's snapshot, data files, and pointer must be untouched
    by the losing attempt."""
    import pytest

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(5).selectExpr("id AS v"), t, round_n=0)

    # writer A reads the table state (parent = 1) ...
    parent_seen_by_a = icelite.latest_snapshot_id(t)
    assert parent_seen_by_a == 1
    # ... then writer B lands snapshot 2 first
    icelite.commit(
        spark.range(100, 103).selectExpr("id AS v"), t, round_n=1,
        mode="append",
    )
    winner = icelite.read_manifest(t, 2)

    # writer A's attempt (same parent -> same claimed id) must conflict.
    # Simulate by monkey-free re-entry: commit() re-reads LATEST, so
    # pin the race by pre-claiming the id A would take after B... i.e.
    # A's commit now targets snapshot 3; emulate the true same-id race
    # through the claim primitive itself:
    with pytest.raises(icelite.CommitConflict):
        icelite._claim_manifest(
            {"snapshot_id": 2, "parent_id": 1, "files": [], "row_count": 0,
             "round": 1, "meta": {}, "data_dir": str(tmp_path / "na")},
            icelite._manifest_path(t, 2),
        )
    # chain unbroken: winner manifest intact, data readable, pointer at 2
    assert icelite.read_manifest(t, 2) == winner
    assert icelite.latest_snapshot_id(t) == 2
    assert icelite.read_snapshot(spark, t).count() == 8
    assert all(os.path.exists(f) for f in winner["files"])


def test_commit_conflict_via_racing_dataframes(spark, tmp_path):
    """End-to-end race: two commit() calls whose parent reads interleave
    (B commits while A is mid-write).  A unique per-attempt data dir
    means A can never clobber B's files; the manifest claim means A
    raises instead of overwriting B's manifest."""
    import pytest

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(4).selectExpr("id AS v"), t, round_n=0)

    real_latest = icelite.latest_snapshot_id
    state = {"fired": False}

    def racing_latest(table_dir):
        parent = real_latest(table_dir)
        if not state["fired"]:
            state["fired"] = True
            # B sneaks in a full commit after A read its parent
            icelite.commit(
                spark.range(50, 55).selectExpr("id AS v"), t, round_n=1,
                mode="append",
            )
        return parent

    icelite.latest_snapshot_id = racing_latest
    try:
        with pytest.raises(icelite.CommitConflict):
            icelite.commit(
                spark.range(9).selectExpr("id AS v"), t, round_n=1,
                mode="append",
            )
    finally:
        icelite.latest_snapshot_id = real_latest
    # B's snapshot survives in full
    assert icelite.latest_snapshot_id(t) == 2
    assert icelite.read_snapshot(spark, t).count() == 9
    m = icelite.read_manifest(t, 2)
    assert all(os.path.exists(f) for f in m["files"])


def test_recover_reclaims_orphan_manifest(spark, tmp_path):
    """A commit that crashes between the manifest claim and the pointer
    advance leaves an orphan manifest that blocks the id forever;
    recover() (resume-time, single-writer) must delete it + its data
    dir, after which the next commit succeeds."""
    import pytest

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(3).selectExpr("id AS v"), t, round_n=0)

    # simulate the crash: manifest for snapshot 2 claimed, pointer never
    # advanced
    real_advance = icelite._advance_pointer

    class Boom(Exception):
        pass

    def crashing(*a, **kw):
        raise Boom()

    icelite._advance_pointer = crashing
    try:
        with pytest.raises(Boom):
            icelite.commit(
                spark.range(7).selectExpr("id AS v"), t, round_n=1,
                mode="append",
            )
    finally:
        icelite._advance_pointer = real_advance

    orphan_dir = icelite.read_manifest(t, 2)["data_dir"]
    assert os.path.isdir(orphan_dir)
    # readers are unaffected (pointer still at 1) but a new commit
    # would hit the claimed id
    assert icelite.latest_snapshot_id(t) == 1
    with pytest.raises(icelite.CommitConflict):
        icelite.commit(
            spark.range(1).selectExpr("id AS v"), t, round_n=1, mode="append"
        )
    assert icelite.recover(t) == [2]
    assert not os.path.isdir(orphan_dir)
    s = icelite.commit(
        spark.range(2).selectExpr("id AS v"), t, round_n=1, mode="append"
    )
    assert s == 2
    assert icelite.read_snapshot(spark, t).count() == 5


def test_manifest_file_stats_and_hash_index(spark, tmp_path):
    """Commit records per-file url_hash [min,max] (the Iceberg
    manifest-stats analogue); file_hash_index surfaces a complete
    pruning index, survives appends and compaction, and is None for
    tables without the column."""
    from pyspark.sql import functions as F

    from topicalcrawler_spark.operators.dedup import shard_col

    t = str(tmp_path / "seen")
    df = (
        spark.range(1000)
        .select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.concat(F.lit("http://h.test/p/"), F.col("id")).alias("url_canon"),
        )
        .repartitionByRange(4, "url_hash")
    )
    icelite.commit(df, t, round_n=0)
    idx = icelite.file_hash_index(t)
    assert idx is not None and len(idx) >= 2
    rows = {(r["url_hash"], r["url_canon"]) for r in icelite.read_snapshot(spark, t).collect()}
    # every row's hash falls inside its file's recorded range, and the
    # index covers the full hash span
    lo = min(f[1] for f in idx)
    hi = max(f[2] for f in idx)
    assert all(lo <= h <= hi for h, _ in rows)

    df2 = df.withColumn("url_canon", F.concat(F.col("url_canon"), F.lit("x")))
    icelite.commit(df2, t, round_n=1, mode="append")
    idx2 = icelite.file_hash_index(t)
    assert idx2 is not None and len(idx2) > len(idx)
    _check_schema_read(spark, t, ["url_hash", "url_canon"])

    icelite.compact(
        spark, t, round_n=2, partition_id=shard_col("url_hash", 2), target_files=2
    )
    idx3 = icelite.file_hash_index(t)
    assert idx3 is not None and len(idx3) <= 4

    # a table without url_hash has no index
    t2 = str(tmp_path / "plain")
    icelite.commit(spark.range(5), t2, round_n=0)
    assert icelite.file_hash_index(t2) is None


def test_next_data_dir_per_attempt_isolation(spark, tmp_path, monkeypatch):
    """Racing commit_files writers (a retried driver running the same
    crawl round): each attempt's next_data_dir must be UNIQUE, so the
    loser's ``mode("overwrite")`` fetch write lands in its own
    directory and can never delete the part files the winner's
    committed manifest references (round-4 review finding — the shared
    ``data/snap-N`` dir let the loser destroy the winner's corpus)."""
    import pytest

    t = str(tmp_path / "corpus")
    # both attempts read the same table state before either commits
    da = icelite.next_data_dir(t)
    db = icelite.next_data_dir(t)
    assert da != db

    # winner A: write + zero-copy commit
    spark.range(4).selectExpr("id AS v").write.parquet(da)
    icelite.commit_files(t, da, round_n=0, row_count=4)
    winner = icelite.read_manifest(t, 1)
    assert winner["files"] and all(os.path.exists(f) for f in winner["files"])

    # loser B: its overwrite targets ITS OWN dir — winner untouched
    spark.range(9).selectExpr("id AS v").write.mode("overwrite").parquet(db)
    assert all(os.path.exists(f) for f in winner["files"])

    # loser B's commit sees the stale parent id and must CONFLICT, not
    # last-wins (pin the race: B captured parent=None before A's commit)
    monkeypatch.setattr(icelite, "latest_snapshot_id", lambda _t: None)
    with pytest.raises(icelite.CommitConflict):
        icelite.commit_files(t, db, round_n=0, row_count=9)
    monkeypatch.undo()

    assert icelite.latest_snapshot_id(t) == 1
    assert icelite.read_snapshot(spark, t).count() == 4
    # B's debris dir is unreferenced — recover() (single-writer
    # re-established) sweeps it; the winner's dir survives
    icelite.recover(t)
    assert not os.path.isdir(db)
    assert icelite.read_snapshot(spark, t).count() == 4


def test_recover_sweeps_unreferenced_data_dirs(spark, tmp_path):
    """An attempt that crashes AFTER writing its per-attempt data dir
    but BEFORE claiming a manifest leaves a dir referenced by nothing —
    recover() must sweep it, while keeping (a) dirs holding live-chain
    files and (b) the 0-row schema-bearing dir of an all-empty commit
    (files=[] but data_dir recorded)."""
    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(3).selectExpr("id AS v"), t, round_n=0)
    live_dir = icelite.read_manifest(t, 1)["data_dir"]

    # all-empty append: manifest keeps data_dir for the schema read
    icelite.commit(
        spark.range(3).selectExpr("id AS v").where("v < 0"),
        t, round_n=1, mode="append",
    )
    empty_dir = icelite.read_manifest(t, 2)["data_dir"]

    # crash-before-claim debris
    debris = icelite.next_data_dir(t)
    spark.range(7).selectExpr("id AS v").write.parquet(debris)
    assert os.path.isdir(debris)

    assert icelite.recover(t) == []  # no orphan manifests
    assert not os.path.isdir(debris)
    assert os.path.isdir(live_dir)
    assert os.path.isdir(empty_dir)
    assert icelite.read_snapshot(spark, t).count() == 3


def test_commit_expected_parent_is_cas(spark, tmp_path):
    """expected_parent makes commit() a compare-and-swap on the
    snapshot the caller last read: a pointer advance since that read
    must conflict, never silently claim the next free id."""
    import pytest

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(3).selectExpr("id AS v"), t, round_n=0)
    # parent captured before snapshot 1 existed -> conflict
    with pytest.raises(icelite.CommitConflict):
        icelite.commit(
            spark.range(2).selectExpr("id AS v"), t, round_n=0,
            expected_parent=None,
        )
    assert icelite.latest_snapshot_id(t) == 1
    # current parent commits normally
    icelite.commit(
        spark.range(2).selectExpr("id AS v"), t, round_n=1,
        mode="append", expected_parent=1,
    )
    assert icelite.read_snapshot(spark, t).count() == 5


def test_recover_keeps_legacy_empty_snapshot_dir(spark, tmp_path):
    """Pre-data_dir manifests fall back to the un-suffixed
    data/snap-NNNNNN dir for the empty-snapshot schema read
    (read_snapshot and expire_snapshots both honor it); the recover()
    debris sweep must apply the same fallback instead of deleting the
    dir out from under a live legacy snapshot."""
    import json
    import shutil

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(3).selectExpr("id AS v"), t, round_n=0)
    # snapshot 2: all-empty replace — files=[], 0-row schema parquet
    icelite.commit(
        spark.range(3).selectExpr("id AS v").where("v < 0"),
        t, round_n=1, mode="replace",
    )
    # rewrite snapshot 2 into the legacy on-disk form
    m = icelite.read_manifest(t, 2)
    legacy = os.path.join(t, "data", "snap-000002")
    shutil.move(m["data_dir"], legacy)
    del m["data_dir"]
    with open(icelite._manifest_path(t, 2), "w") as f:
        json.dump(m, f)

    assert icelite.recover(t) == []
    assert os.path.isdir(legacy)
    assert icelite.read_snapshot(spark, t).count() == 0


def test_expire_on_pointerless_claim_crash_is_noop(tmp_path):
    """Crash window: a manifest was claimed but no pointer was ever
    published (empty table, first commit died mid-flight).  Maintenance
    running before recover() must treat the claim as not-yet-committed
    — neither crash (the old keep-set held None and read_manifest(None)
    raised) nor count it as replay evidence — and recover() then
    reclaims it."""
    t = str(tmp_path / "tbl")
    icelite._claim_manifest(
        {"snapshot_id": 1, "parent_id": None, "files": [], "row_count": 0,
         "round": 0, "meta": {"epoch": 7}, "data_dir": os.path.join(t, "na")},
        icelite._manifest_path(t, 1),
    )
    out = icelite.expire_snapshots(t, keep_last=1)
    assert out["deleted_snapshots"] == []

    from topicalcrawler_spark.streaming import _last_committed_epoch
    assert _last_committed_epoch(t) is None  # unpublished != committed

    assert icelite.recover(t) == [1]
    assert icelite.latest_snapshot_id(t) is None


def test_compact_conflicts_when_commit_lands_mid_flight(
    spark, tmp_path, monkeypatch
):
    """Round-4 review finding: compact() read the table, then committed
    replace-mode with no expected parent — a writer landing in between
    was silently DROPPED from LATEST (replace contains only the rows
    compact read; no conflict raised).  compact now CASes on the one
    pointer read that pinned its input, so the race surfaces as
    CommitConflict and nothing is lost."""
    import pytest

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(10).selectExpr("id AS v"), t, round_n=0)
    stale_ptr = icelite.latest_pointer(t)
    # a writer lands between compact's pointer read and its commit
    icelite.commit(
        spark.range(5).selectExpr("id + 100 AS v"), t, round_n=1,
        mode="append",
    )

    real = icelite.latest_pointer
    calls = {"n": 0}

    def racy(td):
        calls["n"] += 1
        return stale_ptr if calls["n"] == 1 else real(td)

    monkeypatch.setattr(icelite, "latest_pointer", racy)
    with pytest.raises(icelite.CommitConflict):
        icelite.compact(spark, t, round_n=2, target_files=1)
    monkeypatch.undo()

    # nothing lost: the mid-flight writer's rows are still in LATEST
    assert icelite.read_snapshot(spark, t).count() == 15
    # and a clean retry compacts everything
    icelite.compact(spark, t, round_n=2, target_files=1)
    assert icelite.read_snapshot(spark, t).count() == 15


def test_advance_pointer_refuses_reclaimed_claim(spark, tmp_path):
    """A zombie writer whose claimed manifest was swept by a concurrent
    recover() must fail its publish (CommitConflict) rather than point
    LATEST at a deleted manifest and brick every reader."""
    import pytest

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(3).selectExpr("id AS v"), t, round_n=0)
    # the zombie's claim, reclaimed before its publish
    mp = icelite._manifest_path(t, 2)
    icelite._claim_manifest(
        {"snapshot_id": 2, "parent_id": 1, "files": [], "row_count": 0,
         "round": 1, "meta": {}, "data_dir": os.path.join(t, "na")},
        mp,
    )
    os.remove(mp)  # what recover() does to an orphan
    with pytest.raises(icelite.CommitConflict):
        icelite._advance_pointer(t, 2, 1, None)
    assert icelite.latest_snapshot_id(t) == 1
    assert icelite.read_snapshot(spark, t).count() == 3


def test_recover_grace_spares_fresh_claims_and_debris(spark, tmp_path):
    """recover(min_age_s=N) must leave claims/debris younger than N
    untouched (they may be a live zombie mid-commit) while still
    reclaiming backdated ones — the streaming sink's restart contract."""
    import time as _time

    t = str(tmp_path / "tbl")
    icelite.commit(spark.range(3).selectExpr("id AS v"), t, round_n=0)
    mp = icelite._manifest_path(t, 2)
    icelite._claim_manifest(
        {"snapshot_id": 2, "parent_id": 1, "files": [], "row_count": 0,
         "round": 1, "meta": {}, "data_dir": os.path.join(t, "na")},
        mp,
    )
    fresh_dir = icelite.next_data_dir(t)
    spark.range(2).selectExpr("id AS v").write.parquet(fresh_dir)

    assert icelite.recover(t, min_age_s=60.0) == []  # both too fresh
    assert os.path.exists(mp)
    assert os.path.isdir(fresh_dir)

    old = _time.time() - 120
    os.utime(mp, (old, old))
    os.utime(fresh_dir, (old, old))
    assert icelite.recover(t, min_age_s=60.0) == [2]
    assert not os.path.exists(mp)
    assert not os.path.isdir(fresh_dir)


def test_commit_files_carries_stats(spark, tmp_path):
    """The zero-copy path must harvest footer url_hash stats exactly
    like commit(): file_hash_index requires EVERY file in the snapshot
    to carry stats, so one stats-less commit_files on a stats-bearing
    chain would silently demote the file-probed anti-join to its
    shuffle fallback for the rest of the table's life."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "seen")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.concat(F.lit("http://h.test/p/"), F.col("id")).alias(
                "url_canon"
            ),
        )

    icelite.commit(batch(0, 500), t, round_n=0)
    assert icelite.file_hash_index(t) is not None

    # zero-copy append: files written directly, registered by metadata
    d = icelite.next_data_dir(t)
    batch(500, 800).repartition(2).write.parquet(d)
    n = spark.read.parquet(d).count()
    icelite.commit_files(t, d, round_n=1, row_count=n)

    idx = icelite.file_hash_index(t)
    assert idx is not None, "commit_files dropped footer stats"
    # index covers BOTH the commit()'d and the commit_files'd files
    head = icelite.read_manifest(t, icelite.latest_snapshot_id(t))
    assert len(idx) == len(head["files"])
    rows = icelite.read_snapshot(spark, t).select("url_hash").collect()
    lo = min(f[1] for f in idx)
    hi = max(f[2] for f in idx)
    assert all(lo <= r["url_hash"] <= hi for r in rows)
    _check_schema_read(spark, t, ["url_hash", "url_canon"])


def test_commit_files_empty_partition_keeps_index(spark, tmp_path):
    """A 0-row part file (empty partition of a skewed write) has no
    footer stats; commit_files must still keep the snapshot fully
    stats-covered — via an empty-range sentinel, NOT by deleting the
    file (the zero-copy caller may still be lazily reading the dir) —
    or one skewed fetch round would permanently demote the file-probed
    anti-join to its shuffle fallback."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "seen")
    icelite.commit(
        spark.range(0, 100).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.concat(F.lit("http://h.test/p/"), F.col("id")).alias(
                "url_canon"
            ),
        ),
        t,
        round_n=0,
    )

    d = icelite.next_data_dir(t)
    # force an empty partition: 2 partitions over rows that all hash to
    # one of them is fiddly, so write one empty and one real DataFrame
    # into the same dir the way a skewed partitioned write lands
    spark.range(100, 160).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("http://h.test/p/"), F.col("id")).alias("url_canon"),
    ).coalesce(1).write.parquet(d)
    empty = spark.createDataFrame([], "url_hash long, url_canon string")
    empty.coalesce(1).write.mode("append").parquet(d)
    files = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
    assert any(
        pq.ParquetFile(f).metadata.num_rows == 0 for f in files
    ), "fixture did not produce an empty part file"

    icelite.commit_files(t, d, round_n=1, row_count=60)
    idx = icelite.file_hash_index(t)
    assert idx is not None, "empty part file disabled the stats index"
    head = icelite.read_manifest(t, icelite.latest_snapshot_id(t))
    assert len(idx) == len(head["files"])
    # the sentinel range overlaps nothing
    from topicalcrawler_spark.operators.dedup import overlapping_files

    sentinels = [(p, lo, hi) for p, lo, hi in idx if lo > hi]
    assert sentinels, "empty file did not get the empty-range sentinel"
    # the sentinel must be excluded from ANY non-full-range probe
    # window — including one straddling zero, which a [1, 0]-style
    # sentinel with a finite gap would wrongly match (the predicate is
    # fmin <= hi AND lo <= fmax), making the zero-straddling probe task
    # re-read every accumulated empty file each round
    assert sentinels[0][0] not in overlapping_files(idx, 2, 1 << 60)
    assert sentinels[0][0] not in overlapping_files(idx, -5, 5)
    assert sentinels[0][0] not in overlapping_files(
        idx, -(1 << 62), (1 << 62)
    )
    # and reading the snapshot still returns exactly the real rows
    assert icelite.read_snapshot(spark, t).count() == 160
