"""icelite — a minimal snapshot/manifest table layer over parquet.

The north-rule (``BASELINE.json:14``) calls for Iceberg tables, but no
Iceberg runtime jar exists in-sandbox and there is no network to fetch
one (SURVEY.md §0).  icelite preserves the *capabilities* Iceberg is
invoked for — snapshot-isolated commits, time-travel to any round,
resumable checkpoints, manifest-level partition pruning — behind an API
shaped so a real Iceberg catalog is a drop-in swap:

    commit(df, table_dir, round_n)    -> snapshot_id
    read_snapshot(spark, table_dir, snapshot_id=None) -> DataFrame
    history(table_dir)                -> [manifest dicts]

Physical layout::

    table_dir/
      data/snap-000001-<tok>/part-*.parquet  (immutable once committed;
                                              <tok> = unique per attempt)
      manifests/snap-000001.json          {snapshot_id, parent_id, files,
                                           row_count, round, meta,
                                           file_stats, schema, data_dir}
      LATEST.json                          (atomic pointer, os.replace)

The manifest carries the table schema, as Iceberg's table metadata
does: the Spark schema JSON from the parquet footers, harvested in the
same footer pass as the per-file stats.  ``read_snapshot`` hands it to
``spark.read.schema`` and starts no Spark job, where a bare
``spark.read.parquet`` runs a schema-inference job on every read.  A
manifest without a ``schema`` key (``commit_files`` over files no Spark
writer produced) keeps the inference read.

A commit writes data first, manifest second, pointer last — a crashed
commit leaves the previous snapshot intact and fully readable
(re-running the round is idempotent because snapshot inputs are
immutable; SURVEY.md §3.1).

Concurrency (the Iceberg commit-conflict analogue): the manifest file
is the commit CLAIM, created with link-if-absent semantics — two
writers racing to snapshot N+1 produce exactly one winner; the loser
raises ``CommitConflict`` with its data untouched (each attempt writes
into a unique per-attempt data directory, so the loser can never
clobber the winner's files either).  The loser re-reads LATEST and
retries on a fresh parent — the standard optimistic-concurrency loop a
real catalog runs.  A CRASHED commit (manifest linked, pointer never
advanced) leaves an orphan manifest that would otherwise block the
next snapshot id forever; ``recover()`` — called at resume/startup,
when single-writer ownership is re-established — deletes orphan
manifests beyond the pointer along with their (unique) data dirs.

Storage is reclaimed by one rule (``_sweep_dirs``): a data dir stays
while a live manifest names it as its ``data_dir`` or lists a file in
it, and goes whole, with its 0-row part files, ``_SUCCESS`` and
``.crc`` sidecars, once neither holds.
"""

from __future__ import annotations

import json
import os
import secrets
import shutil
import time
from glob import glob

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.types import StructType

# the footer key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


class CommitConflict(Exception):
    """Another writer committed this snapshot id first (LATEST moved
    since this commit read it).  Re-read the table state and retry."""


def _manifest_path(table_dir: str, snapshot_id: int) -> str:
    return os.path.join(table_dir, "manifests", f"snap-{snapshot_id:06d}.json")


def _latest_path(table_dir: str) -> str:
    return os.path.join(table_dir, "LATEST.json")


def latest_snapshot_id(table_dir: str) -> int | None:
    p = _latest_path(table_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)["snapshot_id"]


def latest_pointer(table_dir: str) -> dict | None:
    """The LATEST pointer dict {snapshot_id, round, meta}, or None for
    a table with no snapshot — the O(1) read the round-idempotency
    guards use instead of parsing an O(files) manifest."""
    p = _latest_path(table_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def read_manifest(table_dir: str, snapshot_id: int) -> dict:
    with open(_manifest_path(table_dir, snapshot_id)) as f:
        return json.load(f)


def history(table_dir: str) -> list[dict]:
    """All manifests, oldest first (the parent chain)."""
    out = []
    for p in sorted(glob(os.path.join(table_dir, "manifests", "snap-*.json"))):
        with open(p) as f:
            out.append(json.load(f))
    return out


def _url_hash_stats(md) -> list[int] | None:
    """[min, max] of the url_hash column across a file's row groups,
    from footer statistics only — None when the column is absent or any
    row group lacks stats."""
    try:
        idx = [md.schema.column(i).name for i in range(md.num_columns)].index(
            "url_hash"
        )
    except ValueError:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or st.min is None or st.max is None:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else [int(lo), int(hi)]


# the index range of a file without stats: overlaps every probe window
FULL_RANGE: list[int] = [-(1 << 63), (1 << 63) - 1]


def _collect_file_stats(
    files: list[str],
) -> tuple[list[str], int, dict[str, list[int]], dict | None]:
    """One parquet-footer pass over a commit's part files.  Returns
    (files, row_count, file_stats, schema).  A 0-row file (Spark writes
    one when a write's first partition is empty) is never listed: it
    has no rows and no footer stats, and stays on disk until its dir
    is swept.  ``schema`` is the Spark schema JSON of the first
    footer that has one, 0-row files included (an empty snapshot reads
    its data dir with it), None when no file was written by Spark."""
    kept: list[str] = []
    row_count = 0
    file_stats: dict[str, list[int]] = {}
    schema = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        if schema is None and SPARK_SCHEMA_KEY in (md.metadata or {}):
            schema = json.loads(md.metadata[SPARK_SCHEMA_KEY])
        if md.num_rows == 0:
            continue
        kept.append(f)
        row_count += md.num_rows
        st = _url_hash_stats(md)
        if st is not None:
            file_stats[f] = st
    return kept, row_count, file_stats, schema


def _claim_manifest(manifest: dict, mpath: str) -> None:
    """Atomically claim a snapshot id: link-if-absent of the manifest
    file.  Exactly one writer wins a given id; losers raise
    ``CommitConflict`` having touched nothing another reader uses."""
    os.makedirs(os.path.dirname(mpath), exist_ok=True)
    tmp = mpath + f".tmp-{secrets.token_hex(4)}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    try:
        os.link(tmp, mpath)
    except FileExistsError:
        raise CommitConflict(
            f"snapshot {manifest['snapshot_id']} already claimed in "
            f"{os.path.dirname(mpath)} — LATEST moved since this commit "
            "read it (concurrent writer), or a crashed commit left an "
            "orphan manifest (run icelite.recover at startup)"
        ) from None
    finally:
        os.unlink(tmp)


def _advance_pointer(
    table_dir: str, snap_id: int, round_n: int, meta: dict | None
) -> None:
    """Publish the snapshot.  Monotonic: never regress LATEST onto an
    older id (a slower claim winner must not hide a newer snapshot).
    The read-check-replace is not a CAS — on a shared store a real
    catalog swap closes that last window; here the claim step already
    serializes same-id writers, which is the race that loses data."""
    cur = latest_snapshot_id(table_dir)
    if cur is not None and cur >= snap_id:
        return
    if not os.path.exists(_manifest_path(table_dir, snap_id)):
        # A concurrent recover() reclaimed this claim as an orphan (a
        # zombie writer losing the ownership race).  Publishing would
        # point LATEST at a deleted manifest and brick every reader;
        # fail THIS writer instead — its rows were already swept.
        raise CommitConflict(
            f"snapshot {snap_id} was reclaimed by recover() before "
            "publish — a concurrent writer took ownership of "
            f"{table_dir}"
        )
    ltmp = _latest_path(table_dir) + f".tmp-{secrets.token_hex(4)}"
    with open(ltmp, "w") as f:
        # round/meta ride along so round-guard reads (_round_committed,
        # _snap_as_of fast path) are O(1) instead of an O(files)
        # manifest parse per guard per round
        json.dump(
            {"snapshot_id": snap_id, "round": round_n, "meta": meta or {}}, f
        )
    os.replace(ltmp, _latest_path(table_dir))


_UNSET = object()


def _new_data_dir(table_dir: str, snap_id: int) -> str:
    """A fresh per-attempt data dir for snapshot ``snap_id``: the random
    suffix makes every attempt's dir its own."""
    return os.path.join(
        table_dir, "data", f"snap-{snap_id:06d}-{secrets.token_hex(4)}"
    )


def _publish(
    table_dir: str,
    data_dir: str,
    parent: int | None,
    round_n: int,
    meta: dict | None,
    mode: str,
    row_count: int | None = None,
) -> int:
    """Publish the part files of ``data_dir`` as snapshot parent + 1:
    the footer pass, the parent's file list on append, the manifest
    claim and the pointer advance.  ``row_count`` overrides the footer
    row count (a commit_files view counts its rows after ``where``)."""
    snap_id = (parent or 0) + 1
    # row counts + per-file url_hash min/max from parquet footers — no
    # second Spark job needed.  The stats are the Iceberg manifest
    # column-stats analogue: they let readers prune files by url_hash
    # range WITHOUT opening footers at read time (the file-probed exact
    # anti-join depends on this — operators/dedup.anti_join_seen_files).
    files, n_rows, file_stats, schema = _collect_file_stats(
        sorted(glob(os.path.join(data_dir, "part-*.parquet")))
    )
    if row_count is None:
        row_count = n_rows
    if mode == "append" and parent is not None:
        pm = read_manifest(table_dir, parent)
        files = pm["files"] + files
        row_count += pm["row_count"]
        file_stats = {**pm.get("file_stats", {}), **file_stats}
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "files": files,
        "row_count": row_count,
        "round": round_n,
        "meta": meta or {},
        "file_stats": file_stats,
        "schema": schema,
        "data_dir": data_dir,
    }
    _claim_manifest(manifest, _manifest_path(table_dir, snap_id))
    _advance_pointer(table_dir, snap_id, round_n, meta)
    return snap_id


def commit(
    df: DataFrame,
    table_dir: str,
    round_n: int,
    meta: dict | None = None,
    mode: str = "replace",
    expected_parent=_UNSET,
) -> int:
    """Write an immutable snapshot of ``df`` and advance the pointer.

    mode="replace": the snapshot is exactly ``df``.
    mode="append":  the snapshot = parent's file list + ``df``'s new
    files — append-only tables (seen / corpus / trace / lineage) never
    rewrite old data, which is what keeps a 10^10-row seen-set
    commit O(round delta), not O(total).

    Raises ``CommitConflict`` if another writer claims the same
    snapshot id first (optimistic concurrency — see module docstring);
    this writer's data lands in a unique per-attempt directory, so a
    losing attempt never touches the winner's files.

    ``expected_parent`` (pass ``None`` for "table must be empty")
    makes the claim CONDITIONAL on the snapshot the caller last read:
    the commit targets ``expected_parent + 1``, so ANY pointer advance
    since that read surfaces as ``CommitConflict`` — a compare-and-swap
    rather than claim-whatever-is-next.  Without it, a caller whose
    decision to commit depends on table state (the streaming sink's
    epoch replay guard) has a check-then-act window: a racing writer
    landing between the check and the claim moves this commit onto a
    fresh id and it succeeds when it should have conflicted.
    """
    parent = (
        latest_snapshot_id(table_dir)
        if expected_parent is _UNSET
        else expected_parent
    )
    data_dir = _new_data_dir(table_dir, (parent or 0) + 1)
    # Dictionary encoding is pathological for fat unique BINARY values
    # (the corpus `bytes` column: ~14x write slowdown hashing 25KB
    # blobs into dict pages) and useless for the unique URL/hash
    # columns — off for all engine tables.
    df.write.mode("overwrite").option(
        "parquet.enable.dictionary", "false"
    ).parquet(data_dir)
    try:
        return _publish(table_dir, data_dir, parent, round_n, meta, mode)
    except CommitConflict:
        # the losing attempt's data dir is exclusively ours — reclaim it
        shutil.rmtree(data_dir, ignore_errors=True)
        raise


def commit_files(
    table_dir: str,
    data_dir: str,
    round_n: int,
    row_count: int,
    meta: dict | None = None,
    mode: str = "append",
) -> int:
    """Zero-copy commit (Iceberg ``add_files`` analogue): register
    parquet files that ALREADY exist on disk as the next snapshot,
    without reading or rewriting them.

    The caller may record a logical view in ``meta``:
      meta["select"] — selectExpr list applied at read time
      meta["where"]  — filter applied at read time (before select)
    ``row_count`` is the row count of that view.  ``meta`` is this
    snapshot's own; nothing is inherited from the parent.

    This is how the corpus table avoids a second full pass over the
    image bytes each round: the fetch stage's one parquet write IS the
    corpus data; the commit is pure metadata. The extra (non-corpus)
    columns in those files cost only cold storage — parquet is
    columnar, so corpus readers never deserialize them.
    """
    return _publish(
        table_dir, data_dir, latest_snapshot_id(table_dir), round_n, meta,
        mode, row_count,
    )


def file_hash_index(
    table_dir: str, snapshot_id: int | None = None
) -> list[tuple[str, int, int]]:
    """[(path, min_url_hash, max_url_hash)] for every data file of a
    snapshot (latest when None), from the manifest's commit-time footer
    stats — the pruning index of the file-probed exact anti-join.  A
    file without stats (a foreign manifest) gets the full int64 range,
    so every probe task reads it: slower, never inexact."""
    if snapshot_id is None:
        snapshot_id = latest_snapshot_id(table_dir)
        if snapshot_id is None:
            raise FileNotFoundError(f"no snapshots in {table_dir}")
    m = read_manifest(table_dir, snapshot_id)
    stats = m.get("file_stats", {})
    return [(f, *stats.get(f, FULL_RANGE)) for f in m["files"]]


def next_data_dir(table_dir: str) -> str:
    """Directory where the NEXT snapshot's data files belong — write
    here first, then commit_files() to publish.  Unique PER ATTEMPT
    (random suffix, same scheme as commit()): two racing writers each
    get their own directory, so a loser's ``mode("overwrite")`` write
    can never delete the files a winner's manifest already references.
    An attempt that crashes before its commit_files leaves an
    unreferenced debris dir; recover() sweeps those at restart."""
    return _new_data_dir(table_dir, (latest_snapshot_id(table_dir) or 0) + 1)


def read_snapshot(
    spark: SparkSession, table_dir: str, snapshot_id: int | None = None
) -> DataFrame:
    """DataFrame over one snapshot's exact file list (manifest
    pruning); applies the manifest's logical view (where/select) when
    the snapshot was committed via commit_files.  Reads with the
    manifest's schema when it has one (no Spark job), else infers it
    from a footer (files no Spark writer produced: one inference job).
    An empty snapshot reads its data dir, whose 0-row part file carries
    the schema."""
    if snapshot_id is None:
        snapshot_id = latest_snapshot_id(table_dir)
        if snapshot_id is None:
            raise FileNotFoundError(f"no snapshots in {table_dir}")
    manifest = read_manifest(table_dir, snapshot_id)
    reader = spark.read
    if manifest.get("schema"):
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    df = reader.parquet(*(manifest["files"] or [manifest["data_dir"]]))
    meta = manifest.get("meta") or {}
    if meta.get("where"):
        df = df.where(meta["where"])
    if meta.get("select"):
        df = df.selectExpr(*meta["select"])
    return df


def _sweep_dirs(
    dirs: set[str], live: list[dict], min_age_s: float = 0.0
) -> None:
    """The one storage-reclaim rule: remove each of ``dirs`` that no
    manifest in ``live`` names as its ``data_dir`` and none lists a
    file in.  A dir goes whole, with its 0-row part files and writer
    sidecars.  ``min_age_s`` spares dirs modified more recently (a
    live writer's in-flight data write)."""
    keep = {os.path.normpath(m["data_dir"]) for m in live}
    keep |= {
        os.path.dirname(os.path.normpath(f)) for m in live for f in m["files"]
    }
    cutoff = time.time() - min_age_s
    for d in dirs:
        if os.path.normpath(d) in keep:
            continue
        try:
            if min_age_s and os.path.getmtime(d) > cutoff:
                continue
        except FileNotFoundError:
            continue
        shutil.rmtree(d, ignore_errors=True)


def expire_snapshots(table_dir: str, keep_last: int = 2) -> dict:
    """Iceberg ``expireSnapshots`` analogue — the maintenance half of
    the checkpoint story: a 10^10-row crawl commits every round, and
    without expiry every superseded snapshot's data files live forever.

    Keeps the most recent ``keep_last`` snapshots (always at least the
    LATEST pointer's), deletes older manifests, and deletes any data
    file not referenced by a kept manifest.  Append-mode tables are
    naturally safe: their manifests reference parent files, so shared
    files stay referenced and only truly superseded files (replace-mode
    rewrites, compactions) are reclaimed.  Crash-safe in the same way
    as commit: manifests are deleted only after the files they
    uniquely referenced are gone, and the kept chain is never touched.

    Then sweeps (``_sweep_dirs``, against the kept manifests) the data
    dirs of the dropped snapshots and of the deleted files: an append
    snapshot's files outlive it, so its dir goes with its last file.
    No other dir is touched — it may be an in-flight writer's.

    Returns {"kept": [ids], "deleted_snapshots": [ids],
    "deleted_files": n}.
    """
    manifests = history(table_dir)
    ids = sorted(m["snapshot_id"] for m in manifests)
    if not ids:
        return {"kept": [], "deleted_snapshots": [], "deleted_files": 0}
    latest = latest_snapshot_id(table_dir)
    keep = set(ids[-max(keep_last, 1):])
    if latest is not None:
        keep.add(latest)
    # Never expire the streaming sink's replay-guard evidence: keep the
    # newest EPOCH-BEARING manifest per writer (ckpt key).  Otherwise an
    # epoch-less maintenance commit at LATEST plus expiry of the older
    # epoch manifests leaves no record that an epoch ever committed, and
    # a replayed micro-batch double-appends.  Cost: at most one extra
    # manifest per writer, gone at its next epoch commit — and for the
    # append-mode sink its files are a subset of newer manifests anyway.
    hw: dict = {}
    for m in manifests:
        mm = m.get("meta") or {}
        # latest None = crash window before any pointer publish; every
        # manifest is then an unpublished claim (recover() debris), so
        # none is replay evidence
        if mm.get("epoch") is not None and m["snapshot_id"] <= (latest or 0):
            k = mm.get("ckpt")
            if k not in hw or m["snapshot_id"] > hw[k]:
                hw[k] = m["snapshot_id"]
    keep |= set(hw.values())
    kept = [m for m in manifests if m["snapshot_id"] in keep]
    drop = [m for m in manifests if m["snapshot_id"] not in keep]
    referenced = {f for m in kept for f in m["files"]}

    n_deleted = 0
    sweep: set[str] = set()
    for m in drop:
        sweep.add(m["data_dir"])
        for f in m["files"]:
            if f not in referenced and os.path.exists(f):
                os.remove(f)
                sweep.add(os.path.dirname(f))
                n_deleted += 1
        os.remove(_manifest_path(table_dir, m["snapshot_id"]))
    _sweep_dirs(sweep, kept)
    return {
        "kept": sorted(keep),
        "deleted_snapshots": [m["snapshot_id"] for m in drop],
        "deleted_files": n_deleted,
    }


def recover(table_dir: str, min_age_s: float = 0.0) -> list[int]:
    """Crash recovery for interrupted commits — call at resume/startup,
    once single-writer ownership of the table is re-established.

    ``min_age_s``: leave orphan manifests and debris dirs YOUNGER than
    this untouched.  A caller that cannot strictly guarantee exclusive
    ownership (a streaming sink restart racing a zombie instance the
    orchestrator failed to kill) uses a grace window: a live writer's
    claim→publish gap is sub-second, so a fresh orphan may be that
    writer mid-commit, while genuinely crashed debris only gets older.
    If a fresh orphan really is a crash, the first commit conflicts,
    the query fails, and the NEXT restart (past the grace) reclaims it
    — slow convergence, never corruption.

    A commit that crashed between the manifest claim and the pointer
    advance leaves an ORPHAN manifest (id beyond LATEST) that is
    invisible to every reader but permanently blocks the next commit's
    id claim with ``CommitConflict``.  Those orphans are pure debris:
    their manifests are deleted.  Returns the removed snapshot ids.

    Then every ``data/snap-*`` dir, and each orphan's ``data_dir``, is
    swept by the one rule of ``_sweep_dirs`` against the surviving
    manifests, with the same grace window.  That reclaims the orphans'
    per-attempt dirs and the debris of attempts that crashed after
    writing their data dir but before claiming a manifest."""
    cutoff = time.time() - min_age_s
    ptr = latest_snapshot_id(table_dir)
    removed: list[int] = []
    dirs = set(glob(os.path.join(table_dir, "data", "snap-*")))
    for m in history(table_dir):
        if ptr is not None and m["snapshot_id"] <= ptr:
            continue
        mp = _manifest_path(table_dir, m["snapshot_id"])
        if min_age_s and os.path.getmtime(mp) > cutoff:
            continue  # possibly a live writer mid-commit — grace
        os.remove(mp)
        dirs.add(m["data_dir"])
        removed.append(m["snapshot_id"])
    _sweep_dirs(dirs, history(table_dir), min_age_s)
    return removed


def compact(
    spark: SparkSession,
    table_dir: str,
    round_n: int,
    partition_id: Column | None = None,
    target_files: int | None = None,
) -> int:
    """Iceberg ``rewriteDataFiles`` analogue: rewrite the LATEST
    snapshot into ``target_files`` files and commit it as a new
    replace-mode snapshot (the append chain restarts from the compacted
    snapshot; ``expire_snapshots`` then reclaims the superseded small
    files).

    An append-per-round table grows by O(partitions) files per round —
    thousands of files after a long crawl, each a listing+footer cost
    on EVERY subsequent scan of the table (the seen-set is re-read each
    round for the anti-join).  Compaction restores O(target_files).

    ``partition_id``: an int expression placing each row's output file
    (``repartitionById``) — the crawl passes its url_hash shard function
    so file i stays shard i; plain round-robin otherwise.
    """
    # ONE pointer read pins everything: the snapshot compacted, the
    # epoch meta carried forward, and the commit's expected parent.
    # Maintenance replacing the table is the textbook check-then-act
    # window — a writer landing between this read and the commit would
    # otherwise be silently DROPPED by the replace (its rows absent
    # from the new LATEST, no conflict raised).  With expected_parent
    # the race surfaces as CommitConflict; the caller retries or skips.
    ptr = latest_pointer(table_dir)
    parent = ptr["snapshot_id"] if ptr is not None else None
    df = read_snapshot(spark, table_dir, parent)
    if target_files is None:
        target_files = max(spark.sparkContext.defaultParallelism, 4)
    if partition_id is not None:
        df = df.repartitionById(target_files, partition_id)
    else:
        df = df.repartition(target_files)
    meta: dict = {"compacted": True}
    # Preserve the streaming sink's epoch high-water mark (and its
    # owning-checkpoint key): the replay guard reads LATEST's meta
    # O(1), and a maintenance commit that dropped it would let a
    # replayed micro-batch double-append on top of the compacted
    # snapshot that already contains its rows.
    pm = (ptr or {}).get("meta") or {}
    if pm.get("epoch") is not None:
        meta["epoch"] = int(pm["epoch"])
        if pm.get("ckpt") is not None:
            meta["ckpt"] = pm["ckpt"]
    return commit(
        df, table_dir, round_n, mode="replace", meta=meta,
        expected_parent=parent,
    )
