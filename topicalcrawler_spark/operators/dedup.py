"""URL-seen deduplication — J1 (two-phase), T1 (deterministic union-dedup).

North-rule (``BASELINE.json:14``) requires the *exact* URL-seen set, so
a Bloom filter alone can never be the authority (false positives would
silently drop URLs the reference fetches).  Architecture:

  phase 1 (optional, scale): bloom-shard prefilter inside an
           Arrow-batch UDF — drops ~(1-fpp) of already-seen candidates
           before any shuffle;
  phase 2 (authority): exact left_anti join against the seen table on
           (url_hash, url_canon) — hash first so the join keys compare
           cheaply, canonical string second so a 64-bit collision can
           never merge two distinct URLs (at 10^10 keys the birthday
           bound makes pure-hash joins wrong).

The spec's "broadcast + per-partition shards" filter has ONE form here:
shard bitmaps keyed by url_hash range (``shard_ids``: top hash bits,
aligned with the seen table's range partitioning) are written as
partition-local parquet files straight from their merge tasks
(``write_bloom_shard_files``, ``update_bloom_shard_files``).  What is
broadcast is only the shard directory path; every probe task reads the
1-2 shards its url_hash range touches (``bloom_prefilter_files``), so no
bitmap ever transits the driver, at any seen-set size.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core import bloom
from ..functions import order_cols


def shard_ids(keys: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard assignment = top log2(n_shards) bits of the unsigned
    url_hash.  Computable from the key alone (the probe side needs
    that) AND aligned with the seen table's url_hash RANGE partitioning
    — so one partition overlaps only ~1-2 shards, which is what lets
    the builder keep just a couple of partial bitmaps per task.
    n_shards must be a power of two — asserted HERE (not only in
    the build) so a probe-side caller with a mismatched
    n_shards fails fast instead of silently truncating log2 (and
    n_shards=1 never reaches an undefined 64-bit numpy shift)."""
    assert n_shards > 0 and n_shards & (n_shards - 1) == 0, "power of two"
    if n_shards == 1:
        return np.zeros(len(keys), dtype=np.int64)
    shift = np.uint64(64 - int(math.log2(n_shards)))
    return (
        np.ascontiguousarray(keys.astype(np.int64)).view(np.uint64) >> shift
    ).astype(np.int64)


def dedup_batch(links: DataFrame, order: list | None = None) -> DataFrame:
    """T1 — collapse duplicate url_canon within one discovery batch,
    keeping the row that is *first in frontier order* (deterministic —
    never dropDuplicates, which keeps an arbitrary row).

    ``order`` overrides the tie-break columns for batches whose
    discovery_seq is not yet assigned (crawl_round's new-link batch:
    seq is a post-dedup admission rank, so the batch tie-break uses
    the lexicographic (parent_seq, idx) tail — the same relative order
    the assigned seq will encode)."""
    w = Window.partitionBy("url_canon").orderBy(*(order or order_cols()))
    return (
        links.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def anti_join_seen(links: DataFrame, seen: DataFrame) -> DataFrame:
    """J1 phase 2 — the exact-set authority."""
    return links.join(seen, ["url_hash", "url_canon"], "left_anti")


def overlapping_files(
    index: list[tuple[str, int, int]], lo: int, hi: int
) -> list[str]:
    """Files whose [min,max] url_hash range intersects [lo, hi] —
    the pruning predicate of ``anti_join_seen_files``, separated out so
    it is unit-testable without executors."""
    return [p for p, fmin, fmax in index if fmin <= hi and lo <= fmax]


def anti_join_seen_files(
    links: DataFrame, file_index: list[tuple[str, int, int]]
) -> DataFrame:
    """J1 phase 2, design-point form: the exact anti-join with the seen
    side probed IN PLACE from its own icelite data files instead of
    shuffled.

    Why: ``links LEFT ANTI seen`` cannot broadcast the right side (the
    seen set is the big one), so past broadcast size Spark plans a
    sort-merge join that SHUFFLES the full 10^10-row seen table every
    round — the single largest per-round data movement at the design
    point.  But the seen table's files are url_hash-range-clustered
    (every commit goes through repartitionByRange, compaction preserves
    it) and the manifest records per-file url_hash [min,max]
    (icelite commit footer stats — the Iceberg manifest-stats
    analogue).  So each probe task can read ONLY the seen files
    overlapping its batch's url_hash range and anti-merge locally:
    the seen side is read once, never shuffled, never sorted.

    ``file_index``: [(path, min_hash, max_hash)] from the manifest —
    O(n_files) metadata, broadcast with the closure.  Callers should
    range-partition ``links`` by url_hash first so a task overlaps
    O(n_files/n_partitions + 1) files.  Exactness: membership is tested
    on the full (url_hash, url_canon) pair via a vectorized indicator
    merge — identical semantics to ``anti_join_seen`` (collision-safe).

    Per-task memory bound: the probe side is ADDITIONALLY sorted within
    each partition by url_hash, so a task's Arrow batches arrive in
    ascending hash order and every cached seen file whose max hash falls
    below the current batch's min can be evicted — it can never overlap
    a later batch.  The cache therefore holds only the files overlapping
    the CURRENT batch window, O(compaction target file size), even on an
    append-heavy table accumulating O(rounds) files per hash range
    (round-3 ADVICE: the unsorted form cached every overlapping file
    for the task's lifetime, approaching O(n_seen/n_partitions)).

    The seen side never leaves Arrow: files are cached as pyarrow
    Tables and narrowed per batch with a vectorized ``is_in`` semi-join
    on url_hash; only the (collision-rate-sized) survivors are
    converted for the exact (url_hash, url_canon) pandas merge.  The
    round-4 design-point run measured why this matters: pandas-
    materializing a 60M-key seen table is tens of millions of Python
    string allocations PER ROUND (~46 s wall at 32 cores), all for a
    probe set of a few hundred maybe-rows — O(seen) CPU hidden in what
    the cost model requires to be an O(overlapping-file reads) step.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(list(links.schema.fields))
    cols = [f.name for f in links.schema.fields]
    index = sorted(file_index, key=lambda t: t[1])
    fmax_of = {p: fmax for p, _, fmax in index}

    def probe(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as _pq

        cache: dict[str, tuple[pa.Table, int]] = {}
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[cols]
                continue
            lo = int(pdf["url_hash"].min())
            hi = int(pdf["url_hash"].max())
            # evict files the ascending batch order has moved past
            for path in [
                p for p, (_, fmax) in cache.items() if fmax < lo
            ]:
                del cache[path]
            need = overlapping_files(index, lo, hi)
            for path in need:
                if path not in cache:
                    cache[path] = (
                        _pq.read_table(path, columns=["url_hash", "url_canon"]),
                        fmax_of[path],
                    )
            if not need:
                yield pdf[cols]
                continue
            probe_hashes = pa.array(
                pdf["url_hash"].to_numpy(dtype=np.int64), type=pa.int64()
            )
            hits = []
            for p in need:
                t = cache[p][0]
                sub = t.filter(pc.is_in(t["url_hash"], value_set=probe_hashes))
                if sub.num_rows:
                    hits.append(sub.to_pandas())
            if not hits:
                yield pdf[cols]
                continue
            keys = pd.concat(hits, ignore_index=True)
            m = pdf.merge(
                keys, on=["url_hash", "url_canon"],
                how="left", indicator=True,
            )
            yield m[m["_merge"] == "left_only"][cols]

    return links.sortWithinPartitions("url_hash").mapInPandas(
        probe, schema=out_schema
    )


def _probe_batches(batches, get_shard, n_shards: int, k: int):
    """Probe kernel: annotate each Arrow batch with maybe_seen.
    ``get_shard(sid) -> uint8 bitmap | None`` supplies bitmaps — in the
    crawl, a lazy per-shard file read (``bloom_prefilter_files``; None =
    shard has no keys, so nothing in it can be seen).  Kept injectable
    so tests can count exactly which shards a partition pulls."""
    for pdf in batches:
        keys = pdf["url_hash"].to_numpy(dtype=np.int64)
        sids = shard_ids(keys, n_shards)
        hit = np.zeros(len(pdf), dtype=bool)
        for sid in np.unique(sids):
            bm = get_shard(int(sid))
            if bm is None:
                continue
            m = sids == sid
            hit[m] = bloom.probe(keys[m], bm, k)
        yield pdf.assign(maybe_seen=pd.Series(hit, index=pdf.index))


def bloom_prefilter_files(
    links: DataFrame, shard_dir: str, n_shards: int, k: int
) -> DataFrame:
    """J1 phase 1 — probe the bloom shard files in ``shard_dir``
    (``write_bloom_shard_files``); returns links annotated with
    ``maybe_seen``.  Definitely-unseen rows may skip the exact join;
    possible hits must go through it (it is the authority).

    The bitmaps never transit the driver: each probe task lazily reads
    ONLY the shards its url_hash range touches (shard = top url_hash
    bits = the seen table's range-partitioning key, so that is 1-2
    files per task), caching them for the task's remaining batches.
    At the 10^10-key design point that is O(bitmap × shards-touched)
    per executor read from shared storage (on a cluster, ``shard_dir``
    is an HDFS/S3 path).  A shard with no keys has no file and probes
    as all-unseen."""
    from pyspark.sql import types as T

    # never .add() onto df.schema — it mutates the DataFrame's cached schema
    out_schema = T.StructType(
        list(links.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
    )

    def probe_iter(batches):
        import glob as _glob

        import pyarrow.parquet as _pq

        cache: dict[int, np.ndarray | None] = {}

        def get_shard(sid: int):
            if sid not in cache:
                files = _glob.glob(f"{shard_dir}/shard_id={sid}/*.parquet")
                if not files:
                    cache[sid] = None
                else:
                    bits = _pq.read_table(files[0], columns=["bits"])
                    cache[sid] = np.frombuffer(
                        bits["bits"][0].as_py(), dtype=np.uint8
                    )
            return cache[sid]

        yield from _probe_batches(batches, get_shard, n_shards, k)

    return links.mapInPandas(probe_iter, schema=out_schema)


def _merged_shard_bitmaps(
    seen: DataFrame,
    n_shards: int,
    fpp: float,
    total: int | None,
    params: tuple[int, int] | None = None,
) -> tuple[DataFrame, int, int]:
    """The shared scale-safe BUILD: streamed per-partition partial
    bitmaps OR-merged per shard.  Returns (merged_df(shard_id, bits),
    n_bits, k), shared by the full build and the incremental update.

    Per-task memory is O(bitmap), never O(keys): round 1's grouped-map
    build pulled every url_hash of a shard into ONE pandas group (~5 GB
    of keys per task at the 10^10-key design point); the OR-merge is
    commutative (property-tested).  All shards share one (n_bits, k) so
    probe code stays branch-free.

    ``params``: fixed (n_bits, k) — the incremental-maintenance path
    passes the params of the bitmaps it is OR-ing into (delta partials
    must match them bit-for-bit); by default params are sized from
    ``total`` with 1.5× headroom."""
    assert n_shards > 0 and n_shards & (n_shards - 1) == 0, "power of two"
    if params is not None:
        n_bits, k = params
    else:
        if total is None:
            total = seen.count()
        per_shard = max(total // n_shards, 1)
        n_bits, k = bloom.params_for(int(per_shard * 1.5), fpp)

    def partials(batches):
        acc: dict[int, np.ndarray] = {}
        for pdf in batches:
            keys = pdf["url_hash"].to_numpy(dtype=np.int64)
            sids = shard_ids(keys, n_shards)
            for sid in np.unique(sids):
                bm = bloom.build(keys[sids == sid], n_bits, k)
                if int(sid) in acc:
                    np.bitwise_or(acc[int(sid)], bm, out=acc[int(sid)])
                else:
                    acc[int(sid)] = bm
        if acc:
            yield pd.DataFrame(
                {
                    "shard_id": list(acc.keys()),
                    "bits": [b.tobytes() for b in acc.values()],
                }
            )

    partial_df = seen.select("url_hash").mapInPandas(
        partials, schema="shard_id int, bits binary"
    )
    merged = partial_df.groupBy("shard_id").applyInPandas(
        _merge_shard_group, schema="shard_id int, bits binary"
    )
    return merged, n_bits, k


def _merge_shard_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-shard OR-merge kernel, shared by the full build and the
    incremental file update."""
    arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bits"]]
    return pd.DataFrame(
        {
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "bits": [bloom.merge(arrs).tobytes()],
        }
    )


def write_bloom_shard_files(
    seen: DataFrame,
    out_dir: str,
    n_shards: int,
    fpp: float = 0.01,
    total: int | None = None,
) -> tuple[int, int]:
    """A5 — per-shard bloom bitmaps over ``seen``'s url_hash, written
    straight from their merge tasks as parquet files partitioned by
    shard_id (``out_dir/shard_id=N/``), so NO bitmap ever transits the
    driver; ``bloom_prefilter_files`` probes them in place.  Returns
    (k, n_bits) — the params incremental maintenance
    (``update_bloom_shard_files``) must reuse.  Pass ``total`` (e.g. an
    icelite manifest row_count) to skip the sizing count job; n_shards
    must be a power of two (top-bits shard function).  Dictionary
    encoding off: bitmaps are fat unique binaries (same pathology as
    the corpus bytes column)."""
    merged, n_bits, k = _merged_shard_bitmaps(seen, n_shards, fpp, total)
    merged.write.mode("overwrite").option(
        "parquet.enable.dictionary", "false"
    ).partitionBy("shard_id").parquet(out_dir)
    return k, n_bits


def update_bloom_shard_files(
    seen_delta: DataFrame,
    prev_dir: str,
    out_dir: str,
    n_shards: int,
    n_bits: int,
    k: int,
) -> None:
    """A5, incremental form: OR the DELTA keys into the existing shard
    bitmaps at the bitmaps' own (n_bits, k).  Bloom bitmaps are
    OR-monotone and the seen table is append-only, so build(all keys)
    == build(old keys) | build(new keys) at equal params — the
    per-round build cost drops from O(seen) to O(delta).  Callers own
    the capacity rule (full rebuild via ``write_bloom_shard_files`` when
    the key count outgrows the sizing; fpp degradation can only cost
    performance, never correctness — the exact join is the authority).

    Only the shards the delta touches are re-merged (previous bitmap
    files for those shards unioned with the delta's partials,
    executor-side); untouched shards are carried forward as hardlinks,
    an O(1)-metadata op per shard.  Per-round I/O is therefore O(touched-shard bitmap bytes), not O(total
    bitmap bytes) — at the multi-GB design-point bitmap set, a delta
    landing in 2 of 4096 shards rewrites 2 bitmaps, not 4096.

    ``out_dir`` must differ from ``prev_dir``: an in-place update would
    overwrite the previous bitmaps WHILE the merge tasks read them (and
    hardlink files onto themselves) — asserted here rather than left to
    corrupt silently.  Note for object-store deployments: the
    carry-forward loop below is O(untouched shards) driver-side
    hardlink syscalls; local/HDFS filesystems make each O(1) metadata,
    but S3-style stores implement "link" as a full copy — there, keep
    per-shard bitmap files small or batch the carry-forward through a
    manifest that references the previous round's objects instead of
    re-linking them."""
    import glob as _glob
    import os as _os

    assert _os.path.realpath(out_dir) != _os.path.realpath(prev_dir), (
        "update_bloom_shard_files: out_dir must differ from prev_dir "
        "(in-place update would overwrite bitmaps while reading them)"
    )
    spark = seen_delta.sparkSession
    delta_partials, _, _ = _merged_shard_bitmaps(
        seen_delta, n_shards, fpp=0.0, total=None, params=(n_bits, k)
    )
    delta_partials = delta_partials.cache()
    touched = sorted(
        r["shard_id"] for r in delta_partials.select("shard_id").distinct().collect()
    )
    prev = (
        spark.read.parquet(prev_dir)
        .select("shard_id", "bits")
        .filter(F.col("shard_id").isin([int(s) for s in touched]))
    )
    (
        prev.unionByName(delta_partials)
        .groupBy("shard_id")
        .applyInPandas(_merge_shard_group, schema="shard_id int, bits binary")
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    delta_partials.unpersist()
    # carry untouched shards forward by hardlink (fall back to copy on
    # filesystems without link support)
    import shutil as _shutil

    touched_set = set(touched)
    for d in _glob.glob(f"{prev_dir}/shard_id=*"):
        sid = int(d.rsplit("=", 1)[1])
        if sid in touched_set:
            continue
        dst = f"{out_dir}/shard_id={sid}"
        _os.makedirs(dst, exist_ok=True)
        for f in _glob.glob(f"{d}/*.parquet"):
            target = _os.path.join(dst, _os.path.basename(f))
            try:
                _os.link(f, target)
            except OSError:
                _shutil.copy2(f, target)

