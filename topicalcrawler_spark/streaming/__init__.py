"""Structured Streaming operators — SURVEY.md §2.I (ST1-ST8).

The reference crawler is a synchronous loop with no streaming engine;
in the Spark design "one crawl round" = one micro-batch. This module
provides the streaming forms of the engine's operators over a
fetch-event-shaped stream (the sandbox `events` table stands in,
TESTDATA.md): watermarked windowed aggregation, streaming dedup
(URL-seen in streaming mode), per-host stateful politeness
(token bucket via applyInPandasWithState), and icelite-snapshot
micro-batch sinks via foreachBatch.

ST2/ST3/ST4 use the SAME F.window / F.session_window expressions as
the batch queries the DuckDB oracle checks (queries.py) — batch/stream
parity comes from sharing the expression, the core Structured
Streaming design point.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import icelite

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """S8 — the events table as a file stream (one parquet = one
    micro-batch by default)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")  # source needs a dir
        .parquet(sf_dir)
    )


def tumbling_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST1+ST2 — watermarked tumbling-window counts per event type."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "sum_value_c"
            ),
        )
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n", "sum_value_c"
        )
    )


def sliding_counts(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST3 — 1h windows sliding every 15 minutes."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )


def session_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """ST4 — per-user session windows (gap-based)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """ST5 — streaming URL-seen: first occurrence per key wins; state
    is bounded by the watermark (dropDuplicatesWithinWatermark), the
    streaming analogue of the batch seen-set anti-join (J1)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


# ---------------------------------------------------------- ST6 politeness

_BUDGET_OUT = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("batch_ts", T.TimestampType()),
        T.StructField("n_requested", T.LongType()),
        T.StructField("n_admitted", T.LongType()),
        T.StructField("tokens_left", T.LongType()),
    ]
)
_BUDGET_STATE = T.StructType([T.StructField("tokens", T.LongType())])


def _drain_bucket_chunks(pdfs) -> tuple[int, object]:
    """Fold a group's Arrow chunks into (n_requested, max non-null ts)
    — the per-batch reduction of the ST6 token bucket.

    NaT-safe: a chunk whose ts column is all NULL (or empty) simply
    does not contribute — pandas ``max(NaT, ts)`` is order-dependent
    (NaT wins as the FIRST argument), so folding NaT in would poison
    batch_ts for the whole group whenever a null-ts chunk arrives
    first.  Returns max_ts=None when no chunk carried a timestamp."""
    n_req = 0
    max_ts = None
    for pdf in pdfs:
        n_req += len(pdf)
        m = pdf["ts"].max()
        if pd.notna(m):
            max_ts = m if max_ts is None else max(max_ts, m)
    return n_req, max_ts


def stateful_politeness(
    stream: DataFrame,
    tokens_per_host: int = 100,
    host_col: str = "event_type",
) -> DataFrame:
    """ST6 — per-host token bucket across micro-batches, on
    ``applyInPandasWithState``.  Each group's state is its remaining
    token count; a batch admits at most the tokens left.  State is
    keyed by HOST (bounded cardinality — SURVEY.md §7 hard part 6:
    URL-grain state lives only in the seen table, never here)."""

    def bucket(key, pdfs, state: GroupState):
        (host,) = key
        if state.exists:
            (tokens,) = state.get
        else:
            tokens = tokens_per_host
        n_req, max_ts = _drain_bucket_chunks(pdfs)
        admitted = min(n_req, tokens)
        tokens -= admitted
        state.update((tokens,))
        yield pd.DataFrame(
            {
                "host": [host],
                "batch_ts": [max_ts],
                "n_requested": [n_req],
                "n_admitted": [admitted],
                "tokens_left": [tokens],
            }
        )

    return stream.withColumn("host", F.col(host_col)).groupBy(
        "host"
    ).applyInPandasWithState(
        bucket,
        outputStructType=_BUDGET_OUT,
        stateStructType=_BUDGET_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    interval: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join (beyond the §2.I checklist): correlate
    two event streams per user within a time interval — e.g. a fetch
    event with the robots decision that preceded it.  Both sides are
    watermarked and the join predicate is range-bounded on event time,
    so Spark can expire buffered state (unbounded state is the classic
    stream-join failure mode).  Output: (user_id, l_id, r_id, l_ts,
    r_ts).  Batch parity: the same predicate over the static table is
    the J6 band join the DuckDB oracle checks."""
    l = left.withWatermark("ts", watermark).select(
        F.col("user_id"),
        F.col("event_id").alias("l_id"),
        F.col("ts").alias("l_ts"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
    )
    return l.join(
        r,
        (F.col("user_id") == F.col("r_user"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {interval}")),
        "inner",
    ).select("user_id", "l_id", "r_id", "l_ts", "r_ts")


# ------------------------------------------------------- ST7/ST8 sinks


_PTR_UNREAD = object()


def _last_committed_epoch(
    table_dir: str, query_key: str | None = None, ptr=_PTR_UNREAD
) -> int | None:
    """Highest foreachBatch epoch already committed to ``table_dir``
    by the query identified by ``query_key`` (epoch ids are only
    monotonic PER CHECKPOINT — a new checkpoint restarts at 0, and a
    guard that ignored the key would silently drop a new query's first
    batches below the old query's high-water mark).  ``query_key=None``
    matches any epoch commit (single-query tables).

    O(1) fast path: the LATEST pointer's meta (every commit_batch and
    icelite.compact writes it).  When LATEST lacks a matching epoch (a
    maintenance replace commit by some other caller published since),
    fall back to scanning the SURVIVING manifests newest-first —
    without this, a post-compaction replay would re-append rows the
    compacted snapshot already contains.  A scan, not a parent-chain
    walk: expire_snapshots leaves gaps in the chain, and it always
    keeps the newest epoch-bearing manifest per writer precisely so
    this scan finds it.  Manifests above the pointer (unpublished
    claims of a racing writer) are ignored — a stale answer only makes
    the caller attempt a commit, which the conditional claim in
    commit_batch then turns into a CommitConflict + re-check.

    ``ptr`` lets the caller pass the ONE pointer read its commit is
    conditioned on, so the guard and the claim see the same state."""

    def _match(meta: dict) -> int | None:
        e = meta.get("epoch")
        if e is None:
            return None
        if query_key is not None and meta.get("ckpt") != query_key:
            return None
        return int(e)

    if ptr is _PTR_UNREAD:
        ptr = icelite.latest_pointer(table_dir)
    if ptr is None:
        return None
    e = _match(ptr.get("meta") or {})
    if e is not None:
        return e
    latest = ptr.get("snapshot_id") or 0
    for m in sorted(
        icelite.history(table_dir),
        key=lambda m: m["snapshot_id"],
        reverse=True,
    ):
        if m["snapshot_id"] > latest:
            continue
        e = _match(m.get("meta") or {})
        if e is not None:
            return e
    return None


def commit_batch(
    batch_df: DataFrame,
    table_dir: str,
    epoch_id: int,
    query_key: str | None = None,
) -> None:
    """Commit ONE micro-batch as an icelite snapshot, exactly-once
    under foreachBatch epoch replay: Structured Streaming redelivers a
    micro-batch with the same ``epoch_id`` after a failure/restart, and
    an unguarded append would land its rows twice (the round-3 verdict
    finding — the batch crawl loop had this guard via
    ``_round_committed``; the streaming sink did not).  The guard is
    the LATEST pointer's meta with a manifest-chain fallback, keyed to
    the owning checkpoint (see ``_last_committed_epoch``).  A
    ``CommitConflict`` race (another restart of the same checkpoint
    claimed the id first) is re-checked against the committed epochs
    and swallowed when this epoch landed.

    The guard and the commit are tied to ONE pointer read: the commit
    claims ``parent + 1`` for the snapshot the guard saw
    (``expected_parent``), so a racing writer landing BETWEEN the
    epoch check and the claim — the classic check-then-act window —
    surfaces as CommitConflict and goes through the same re-check,
    instead of silently claiming the next free id and double-appending
    the epoch."""
    ptr = icelite.latest_pointer(table_dir)
    parent = ptr.get("snapshot_id") if ptr is not None else None
    last = _last_committed_epoch(table_dir, query_key, ptr=ptr)
    if last is not None and last >= int(epoch_id):
        # Replayed epoch — its snapshot already committed.  Still run
        # one no-op pass over the batch: Spark 4's state-store commit
        # validation requires every stateful partition to be processed
        # by the foreachBatch function, and an early return here fails
        # the whole query with STATE_STORE_COMMIT_VALIDATION_FAILED.
        batch_df.write.format("noop").mode("overwrite").save()
        return
    meta: dict = {"epoch": int(epoch_id)}
    if query_key is not None:
        meta["ckpt"] = query_key
    try:
        icelite.commit(
            batch_df,
            table_dir,
            round_n=int(epoch_id),
            meta=meta,
            mode="append",
            expected_parent=parent,
        )
    except icelite.CommitConflict:
        last = _last_committed_epoch(table_dir, query_key)
        if last is not None and last >= int(epoch_id):
            # lost the race to a writer that committed this epoch; the
            # rows are in the table — consume the batch and move on
            batch_df.write.format("noop").mode("overwrite").save()
            return
        raise


def run_to_icelite(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> None:
    """ST7/ST8 — drain the stream with availableNow, committing each
    micro-batch as one icelite snapshot (epoch recorded in meta):
    exactly the crawl loop's round-per-micro-batch shape, restartable
    from the Spark checkpoint + icelite manifest chain, idempotent
    under epoch replay (see ``commit_batch``)."""

    # A previous run that died between the manifest claim and the
    # pointer advance left an orphan manifest that would fail EVERY
    # replayed commit with CommitConflict — the stream could never
    # restart.  The checkpoint dir SHOULD give this query single-writer
    # ownership of the sink table, but a zombie instance the
    # orchestrator failed to kill may still be mid-commit, so recovery
    # runs with a grace window: claims younger than it are left alone
    # (a zombie's claim→publish gap is sub-second; genuinely crashed
    # debris only gets older — see icelite.recover).  Belt-and-braces:
    # _advance_pointer refuses to publish a claim recover() deleted,
    # so even a mis-timed sweep fails the zombie, never the table.
    # realpath, not abspath: the replay guard must key the same
    # checkpoint identically however its path is spelled — a restart
    # that reaches the checkpoint through a symlink or a different
    # mount spelling still resumes the SAME Spark state and replays the
    # last epoch, and an abspath-keyed guard would miss the prior
    # commits and double-append that batch.
    query_key = os.path.realpath(checkpoint_dir)
    icelite.recover(table_dir, min_age_s=30.0)
    (
        df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: commit_batch(
                batch_df, table_dir, epoch_id, query_key=query_key
            )
        )
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def drain_to_memory(df: DataFrame, name: str, output_mode: str = "update"):
    """Test helper: run the stream to completion into an in-memory
    table; returns the owning query (already terminated)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
