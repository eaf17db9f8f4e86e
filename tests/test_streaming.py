"""Streaming operators (§2.I): batch/stream parity via shared window
expressions, stateful politeness across micro-batches, icelite sinks."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from topicalcrawler_spark import icelite, streaming as st

SF = "/root/testdata/sf0.001"


def _batch_events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_tumbling_counts_matches_batch(spark):
    out = st.tumbling_counts(st.events_stream(spark, SF))
    st.drain_to_memory(out, "t_tumbling", output_mode="update")
    got = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value_c"])
        for r in spark.table("t_tumbling").collect()
    }
    expect = {
        (r["win_start"], r["event_type"]): (r["n"], r["sum_value_c"])
        for r in (
            _batch_events(spark)
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).alias("sum_value_c"),
            )
            .select(F.col("win.start").alias("win_start"), "event_type", "n",
                    "sum_value_c")
            .collect()
        )
    }
    assert got == expect


def test_session_window_stream_matches_batch(spark):
    out = st.session_counts(st.events_stream(spark, SF))
    # session-window aggregation only supports complete/append output
    st.drain_to_memory(out, "t_sessions", output_mode="complete")
    n_stream = spark.table("t_sessions").count()
    n_batch = (
        _batch_events(spark)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .count()
    )
    assert n_stream == n_batch > 0


def test_dedup_stream(spark):
    out = st.dedup_stream(st.events_stream(spark, SF))
    st.drain_to_memory(out, "t_dedup", output_mode="append")
    n_stream = spark.table("t_dedup").count()
    n_keys = _batch_events(spark).select("user_id", "event_type").distinct().count()
    assert n_stream == n_keys


def test_stateful_politeness_across_batches(spark):
    # 3 parquet files -> 3 micro-batches; token bucket must carry
    # state between them and admit at most the per-host budget total.
    tmp = tempfile.mkdtemp()
    ev = _batch_events(spark).limit(300).repartition(3)
    ev.write.mode("overwrite").parquet(os.path.join(tmp, "in"))
    stream = (
        spark.readStream.schema(st.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(tmp, "in"))
    )
    out = st.stateful_politeness(stream, tokens_per_host=40)
    st.drain_to_memory(out, "t_budget", output_mode="update")
    rows = spark.table("t_budget").collect()
    assert len(rows) > 0
    per_host: dict[str, dict] = {}
    for r in rows:
        h = per_host.setdefault(
            r["host"], {"requested": 0, "admitted": 0, "last_left": None}
        )
        h["requested"] += r["n_requested"]
        h["admitted"] += r["n_admitted"]
        h["last_left"] = r["tokens_left"]
    for h, v in per_host.items():
        assert v["admitted"] == min(v["requested"], 40), (h, v)
        assert v["last_left"] == 40 - v["admitted"], (h, v)


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream inner join (watermarked, range-bounded) must
    produce exactly the rows of the same predicate evaluated in batch
    (one file = one micro-batch on each side)."""
    views = st.events_stream(spark, SF).filter(F.col("event_type") == "view")
    purchases = st.events_stream(spark, SF).filter(
        F.col("event_type") == "purchase"
    )
    out = st.stream_stream_interval_join(views, purchases, interval="6 hours", watermark="2 days")
    st.drain_to_memory(out, "t_ssjoin", output_mode="append")
    got = {
        (r["user_id"], r["l_id"], r["r_id"])
        for r in spark.table("t_ssjoin").collect()
    }
    e = _batch_events(spark)
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("l_id"), F.col("ts").alias("l_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
    )
    expect = {
        (r["user_id"], r["l_id"], r["r_id"])
        for r in v.join(
            p,
            (F.col("user_id") == F.col("r_user"))
            & (F.col("r_ts") > F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 6 HOURS")),
        ).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_run_to_icelite_commits_snapshots(spark):
    tmp = tempfile.mkdtemp()
    table = os.path.join(tmp, "stream_counts")
    out = st.tumbling_counts(st.events_stream(spark, SF))
    st.run_to_icelite(out, table, os.path.join(tmp, "ckpt"))
    hist = icelite.history(table)
    assert len(hist) >= 1
    df = icelite.read_snapshot(spark, table)
    assert df.count() > 0
    assert "epoch" in hist[-1]["meta"]


def test_icelite_sink_idempotent_under_epoch_replay(spark, tmp_path):
    """foreachBatch redelivers a micro-batch with the same epoch_id
    after a failure/restart — the sink must commit it exactly once
    (round-3 verdict: the unguarded append doubled replayed rows)."""
    table = str(tmp_path / "tbl")
    b0 = _batch_events(spark).limit(10)
    b1 = _batch_events(spark).limit(25)

    st.commit_batch(b0, table, 0)
    st.commit_batch(b0, table, 0)  # replay of epoch 0
    assert len(icelite.history(table)) == 1
    assert icelite.read_snapshot(spark, table).count() == 10

    st.commit_batch(b1, table, 1)
    st.commit_batch(b1, table, 1)  # replay of epoch 1
    st.commit_batch(b0, table, 0)  # stale re-replay after progress
    hist = icelite.history(table)
    assert [m["meta"]["epoch"] for m in hist] == [0, 1]
    assert icelite.read_snapshot(spark, table).count() == 35


def test_sliding_counts_stream(spark):
    out = st.sliding_counts(st.events_stream(spark, SF))
    st.drain_to_memory(out, "t_sliding", output_mode="update")
    # each event lands in exactly 4 windows of the (1h, 15m) spec
    total_stream = (
        spark.table("t_sliding").agg(F.sum("n").alias("s")).first()["s"]
    )
    n_events = _batch_events(spark).count()
    assert total_stream == 4 * n_events


def test_replay_guard_survives_non_epoch_commits(spark, tmp_path):
    """Round-4 review finding: the replay guard read ONLY the LATEST
    pointer's meta, so any maintenance commit without an 'epoch' key
    (icelite.compact, or a third-party replace) disabled it and a
    replayed micro-batch double-appended.  compact() now carries the
    epoch high-water mark forward, and commit_batch falls back to a
    manifest-chain walk when the pointer lacks one."""
    table = str(tmp_path / "tbl")
    b0 = _batch_events(spark).limit(10)
    b1 = _batch_events(spark).limit(25)
    st.commit_batch(b0, table, 0)
    st.commit_batch(b1, table, 1)
    assert icelite.read_snapshot(spark, table).count() == 35

    # maintenance compaction between the batch and its replay
    icelite.compact(spark, table, round_n=99, target_files=2)
    assert icelite.latest_pointer(table)["meta"]["epoch"] == 1
    st.commit_batch(b1, table, 1)  # replay after compact
    assert icelite.read_snapshot(spark, table).count() == 35

    # a replace commit that strips ALL meta (third-party maintenance):
    # the chain walk must still find the last epoch commit
    icelite.commit(
        icelite.read_snapshot(spark, table), table, round_n=100,
        mode="replace",
    )
    assert "epoch" not in icelite.latest_pointer(table)["meta"]
    st.commit_batch(b1, table, 1)  # replay again
    assert icelite.read_snapshot(spark, table).count() == 35
    st.commit_batch(b0, table, 2)  # genuinely new epoch still lands
    assert icelite.read_snapshot(spark, table).count() == 45


def test_streaming_sink_restarts_after_claim_crash(spark, tmp_path):
    """Round-4 review finding: a driver that died between the manifest
    claim and the pointer advance left an orphan manifest; every
    restart's replayed commit then failed with CommitConflict forever.
    run_to_icelite now runs icelite.recover() at start (the checkpoint
    dir gives the query single-writer ownership of the sink table).

    Also pins two failure modes this test flushed out: (a) the replay
    guard is keyed to the owning checkpoint — epoch ids are only
    monotonic per checkpoint, so a NEW query (fresh checkpoint) whose
    epoch 0 sits below the old query's high-water mark must still
    commit, not be silently dropped; (b) a skipped replay must still
    no-op-process the batch or Spark 4's state-store commit validation
    fails the whole query (STATE_STORE_COMMIT_VALIDATION_FAILED)."""
    tmp = str(tmp_path)
    table = os.path.join(tmp, "stream_counts")
    out = st.tumbling_counts(st.events_stream(spark, SF))
    st.run_to_icelite(out, table, os.path.join(tmp, "ckpt1"))
    n = icelite.read_snapshot(spark, table).count()
    assert n > 0

    # simulate the crash window: a claimed-but-unpublished manifest.
    # Backdate it past run_to_icelite's zombie-writer grace window —
    # by the time an orchestrator restarts a crashed query the claim
    # is old; a FRESH claim is deliberately left alone (it may be a
    # live zombie mid-commit).
    orphan_id = icelite.latest_snapshot_id(table) + 1
    orphan_path = icelite._manifest_path(table, orphan_id)
    icelite._claim_manifest(
        {"snapshot_id": orphan_id, "parent_id": orphan_id - 1, "files": [],
         "row_count": 0, "round": 0, "meta": {},
         "data_dir": os.path.join(table, "data", "na")},
        orphan_path,
    )
    import time as _time

    old = _time.time() - 120
    os.utime(orphan_path, (old, old))
    # a bare commit_batch of a NEW epoch hits the orphan and raises
    with pytest.raises(icelite.CommitConflict):
        st.commit_batch(_batch_events(spark).limit(5), table, 10_000)

    # ... but a sink restart recovers and drains normally.  This is a
    # FRESH checkpoint: its epochs restart at 0 below the table's old
    # high-water mark, and the checkpoint-keyed guard must let them
    # commit (strict growth proves no batch was silently dropped).
    out2 = st.tumbling_counts(st.events_stream(spark, SF))
    st.run_to_icelite(out2, table, os.path.join(tmp, "ckpt2"))
    assert icelite.read_snapshot(spark, table).count() > n


def test_zombie_writer_race_does_not_double_append(
    spark, tmp_path, monkeypatch
):
    """The check-then-act window between the epoch guard and the
    snapshot claim: a racing restart of the SAME checkpoint (zombie
    driver) that lands the same epoch in between must surface as
    CommitConflict via the conditional claim (commit_batch conditions
    its commit on the one pointer read the guard used, so any pointer
    advance since conflicts), get re-checked, and be swallowed — NOT
    silently claim the next free snapshot id and double-append."""
    table = str(tmp_path / "tbl")
    key = "ckptA"
    st.commit_batch(_batch_events(spark).limit(10), table, 0, query_key=key)
    stale_ptr = icelite.latest_pointer(table)

    # W1 (the other restart) lands epoch 1 first
    st.commit_batch(_batch_events(spark).limit(25), table, 1, query_key=key)
    n_after_w1 = icelite.read_snapshot(spark, table).count()
    assert n_after_w1 == 35

    # W2 delivers the SAME epoch 1, but its guard reads the pre-W1
    # pointer — pin the race by serving the stale pointer to W2's
    # first (and only pre-claim) pointer read
    real = icelite.latest_pointer
    calls = {"n": 0}

    def racy(td):
        calls["n"] += 1
        return stale_ptr if calls["n"] == 1 else real(td)

    monkeypatch.setattr(icelite, "latest_pointer", racy)
    st.commit_batch(_batch_events(spark).limit(25), table, 1, query_key=key)
    monkeypatch.undo()

    assert icelite.read_snapshot(spark, table).count() == n_after_w1
    assert icelite.latest_snapshot_id(table) == 2


def test_replay_guard_survives_expiry(spark, tmp_path):
    """An epoch-less maintenance replace at LATEST plus
    expire_snapshots of the older epoch-bearing manifests must not
    erase the replay evidence: expiry keeps the newest epoch-bearing
    manifest per writer, and the guard's fallback is a gap-tolerant
    manifest SCAN (a parent-chain walk would die on the expired gap
    and silently re-append the replayed epoch's rows)."""
    table = str(tmp_path / "tbl")
    for e in range(3):
        st.commit_batch(_batch_events(spark).limit(10 * (e + 1)), table, e)
    n = icelite.read_snapshot(spark, table).count()
    assert n == 60

    icelite.commit(
        icelite.read_snapshot(spark, table), table, round_n=50,
        mode="replace",
    )
    gone = icelite.expire_snapshots(table, keep_last=1)
    assert 3 in gone["kept"]  # the newest epoch-bearing manifest
    assert st._last_committed_epoch(table) == 2

    st.commit_batch(_batch_events(spark).limit(30), table, 2)  # replay
    assert icelite.read_snapshot(spark, table).count() == n
    st.commit_batch(_batch_events(spark).limit(5), table, 3)  # new epoch
    assert icelite.read_snapshot(spark, table).count() == n + 5


def test_stateful_politeness_null_ts_chunk_does_not_poison_batch_ts(
    spark, tmp_path
):
    """Round-4 review finding: pandas max(NaT, ts) is order-dependent
    (NaT wins when it is the first argument), so a first micro-batch
    whose ts column is all NULL used to force batch_ts to NULL for
    every later batch of that host.  A NULL-ts chunk must simply not
    contribute to batch_ts."""
    import datetime as dt

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    t1 = dt.datetime(2025, 5, 1, 12, 0, 0)

    def write_file(name, rows, mtime):
        path = os.path.join(in_dir, name)
        spark.createDataFrame(rows, st.EVENTS_SCHEMA).coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        for root, _dirs, files in os.walk(path):
            for fn in files:
                os.utime(os.path.join(root, fn), (mtime, mtime))
        os.utime(path, (mtime, mtime))

    # batch 1: all-NULL ts for host 'view'; batch 2: real timestamps
    write_file(
        "b1",
        [(1, None, 10, "view", 1.0, "{}"), (2, None, 11, "view", 2.0, "{}")],
        1_000_000_000,
    )
    write_file(
        "b2",
        [(3, t1, 12, "view", 3.0, "{}")],
        1_000_000_100,
    )

    stream = (
        spark.readStream.schema(st.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(os.path.join(in_dir, "*"))
    )
    out = st.stateful_politeness(stream, tokens_per_host=100)
    st.drain_to_memory(out, "t_nat_budget", output_mode="update")
    rows = sorted(
        spark.table("t_nat_budget").collect(), key=lambda r: r["n_requested"]
    )
    # whichever batch carried the real timestamp must emit it; the
    # all-NULL batch emits NULL (nothing to report), and crucially the
    # real ts is never displaced by a NaT that arrived earlier
    assert any(r["batch_ts"] == t1 for r in rows), rows
    assert all(
        r["batch_ts"] in (None, t1) for r in rows
    ), rows


def test_drain_bucket_chunks_nat_order_independent():
    """Direct pin of the cross-chunk fold: a null-ts chunk FIRST must
    not displace a later real timestamp (pandas max(NaT, ts) returns
    NaT in that argument order), and chunk order must not matter."""
    import datetime as dt

    import pandas as pd

    t1 = pd.Timestamp(dt.datetime(2025, 5, 1, 12, 0, 0))
    t2 = pd.Timestamp(dt.datetime(2025, 5, 1, 13, 0, 0))
    null_chunk = pd.DataFrame({"ts": pd.to_datetime([None, None])})
    real_chunk = pd.DataFrame({"ts": [t1, t2]})
    empty_chunk = pd.DataFrame({"ts": pd.to_datetime([])})

    for order in (
        [null_chunk, real_chunk],
        [real_chunk, null_chunk],
        [empty_chunk, null_chunk, real_chunk],
    ):
        n, mx = st._drain_bucket_chunks(order)
        assert mx == t2, order
        assert n == sum(len(c) for c in order)

    # no timestamps at all -> None (NULL batch_ts), not NaT
    n, mx = st._drain_bucket_chunks([null_chunk, empty_chunk])
    assert mx is None and n == 2


def test_stream_interval_join_entry_leaves_no_memory_sink_views(spark):
    """Round-4 verdict finding: each stream_interval_join_events
    invocation minted a q_ssjoin_N memory-sink temp view that was never
    dropped, so bench reps / registry runs accumulated one cached sink
    table per call in the shared session.  The entry must drain, hand
    back a materialized result, and leave the catalog clean — and stay
    deterministic across invocations."""
    from topicalcrawler_spark.queries import REGISTRY

    fn = REGISTRY["stream_interval_join_events"].fn

    def ssjoin_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("q_ssjoin_")
        }

    assert ssjoin_views() == set()
    r1 = sorted(map(tuple, fn(spark, SF).collect()))
    assert ssjoin_views() == set()
    r2 = sorted(map(tuple, fn(spark, SF).collect()))
    assert ssjoin_views() == set()
    assert r1 == r2 and len(r1) > 0
