"""URL-seen deduplication — J1 (bloom-guarded exact probe), T1
(deterministic union-dedup).

North-rule (``BASELINE.json:14``) requires the *exact* URL-seen set, so
a Bloom filter alone can never be the authority (false positives would
silently drop URLs the reference fetches).  ONE seen probe,
``anti_join_seen_files``, does both steps inside one Arrow-batch pass:

  bloom step (optional, scale): each batch's keys are probed against
           the task's bloom shard; rows it clears pass straight
           through, and a batch it clears entirely reads no seen file;
  exact step (authority): the rows the bloom reports maybe-seen are
           anti-joined on (url_hash, url_canon) against the seen
           table's own shard files, probed in place — hash first so
           the keys compare cheaply, canonical string second so a
           64-bit collision can never merge two distinct URLs (at
           10^10 keys the birthday bound makes pure-hash joins wrong).

The bloom has ONE form: shard bitmaps keyed by the top url_hash bits
(``shard_ids``) written as partition-local parquet files straight from
their merge tasks (``write_bloom_shard_files``,
``update_bloom_shard_files``).  The same shard function places every
url_hash-keyed table and the crawl's candidates (``place_by_shard``),
so table file i is bloom shard i is probe task i: what is broadcast is
only the shard directory path, each probe task reads its one shard, and
no bitmap ever transits the driver, at any seen-set size.

The build has ONE plan: per-task partial bitmaps OR-merged per shard
and written.  The incremental update runs that plan over the delta keys
with the previous generation's bitmaps added to the merge — the seen
table is append-only and bitmaps are OR-monotone, so the result equals
a full build bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..core import bloom
from ..functions import order_cols

# bitmaps are sized for this multiple of the build-time key count, and
# the crawl rebuilds them once the seen set outgrows that size
BLOOM_HEADROOM = 1.5


def shard_ids(keys: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard assignment = top log2(n_shards) bits of the unsigned
    url_hash.  Computable from the key alone (the probe side needs
    that), and the same function ``shard_col`` computes in Spark — so
    a table file or probe partition placed by ``place_by_shard`` holds
    exactly one shard.  n_shards must be a power of two — asserted
    HERE (not only in the build) so a probe-side caller with a
    mismatched n_shards fails fast instead of silently truncating log2
    (and n_shards=1 never reaches an undefined 64-bit numpy shift)."""
    assert n_shards > 0 and n_shards & (n_shards - 1) == 0, "power of two"
    if n_shards == 1:
        return np.zeros(len(keys), dtype=np.int64)
    shift = np.uint64(64 - int(math.log2(n_shards)))
    return (
        np.ascontiguousarray(keys.astype(np.int64)).view(np.uint64) >> shift
    ).astype(np.int64)


def shard_col(url_hash: str | Column, n_shards: int) -> Column:
    """``shard_ids`` as an int Spark expression.  n_shards=1 is
    ``lit(0)``: Spark's ``shiftrightunsigned(x, 64)`` returns x."""
    assert n_shards > 0 and n_shards & (n_shards - 1) == 0, "power of two"
    if n_shards == 1:
        return F.lit(0)
    return F.shiftrightunsigned(url_hash, 64 - int(math.log2(n_shards))).cast("int")


def place_by_shard(df: DataFrame, n_shards: int) -> DataFrame:
    """Partition i = url_hash shard i.  The ids are computed, so unlike
    a range exchange this runs no sampling job."""
    return df.repartitionById(n_shards, shard_col("url_hash", n_shards))


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


def overlapping_files(
    index: list[tuple[str, int, int]], lo: int, hi: int
) -> list[str]:
    """Files whose [min,max] url_hash range intersects [lo, hi] —
    the pruning predicate of ``anti_join_seen_files``, separated out so
    it is unit-testable without executors."""
    return [p for p, fmin, fmax in index if fmin <= hi and lo <= fmax]


def bloom_mask(keys: np.ndarray, get_shard, n_shards: int, k: int) -> np.ndarray:
    """The probe's bloom step: True where a key may be seen.
    ``get_shard(sid) -> uint8 bitmap | None`` supplies bitmaps — in the
    crawl, a lazy per-shard file read (None = the shard has no keys, so
    nothing in it can be seen).  Only the shards the keys map to are
    asked for."""
    sids = shard_ids(keys, n_shards)
    hit = np.zeros(len(keys), dtype=bool)
    for sid in np.unique(sids):
        bm = get_shard(int(sid))
        if bm is None:
            continue
        m = sids == sid
        hit[m] = bloom.probe(keys[m], bm, k)
    return hit


def anti_join_seen_files(
    links: DataFrame,
    file_index: list[tuple[str, int, int]],
    bloom: tuple[str, int, int] | None = None,
) -> DataFrame:
    """J1: ``links`` minus the (url_hash, url_canon) keys of the seen
    table — the crawl's one seen probe, exact and collision-safe, with
    the seen side probed IN PLACE from its own icelite data files
    instead of shuffled.

    Why: ``links LEFT ANTI seen`` broadcasts the seen side only while
    it is small; past broadcast size Spark plans a sort-merge join that
    SHUFFLES the full 10^10-row seen table every round — the single
    largest per-round data movement at the design point.  The seen
    table's files are url_hash-clustered (every commit and compaction
    goes through ``place_by_shard``, so each file holds one shard) and
    the manifest records per-file url_hash [min,max] (icelite commit
    footer stats — the Iceberg manifest-stats analogue).  So each probe
    task reads ONLY the seen files overlapping its batch's url_hash
    range and anti-merges locally: the seen side is read once, never
    shuffled, never sorted.

    ``file_index``: [(path, min_hash, max_hash)] from the manifest
    (``icelite.file_hash_index``) — O(n_files) metadata, broadcast with
    the closure.  Callers should place ``links`` with
    ``place_by_shard`` so task i overlaps only shard i's files (the
    pruning is exact on any layout).

    ``bloom``: (shard_dir, n_shards, k) of bitmaps over the same seen
    keys (``write_bloom_shard_files``), or None.  Each task lazily
    reads only the shards its keys map to, caching them for its
    remaining batches.  Only the rows it reports maybe-seen narrow the
    file window and the ``is_in`` below; the rows it clears pass
    straight through, and a batch it clears entirely opens no seen
    file.  The filter thus saves its work at the authority it guards,
    in the same task.

    Per-task memory bound: the probe side is sorted within each
    partition by url_hash, so a task's Arrow batches arrive in
    ascending hash order and every cached seen file whose max hash falls
    below the current batch's min can be evicted — it can never overlap
    a later batch.  The cache therefore holds only the files overlapping
    the CURRENT batch window, O(compaction target file size), even on an
    append-heavy table accumulating O(rounds) files per hash range.

    The seen side never leaves Arrow: files are cached as pyarrow
    Tables and narrowed per batch with a vectorized ``is_in`` semi-join
    on url_hash; only the (collision-rate-sized) survivors are
    converted for the exact (url_hash, url_canon) pandas merge.  The
    round-4 design-point run measured why this matters: pandas-
    materializing a 60M-key seen table is tens of millions of Python
    string allocations PER ROUND (~46 s wall at 32 cores), all for a
    probe set of a few hundred maybe-rows.
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(list(links.schema.fields))
    cols = [f.name for f in links.schema.fields]
    index = sorted(file_index, key=lambda t: t[1])
    fmax_of = {p: fmax for p, _, fmax in index}

    def probe(batches):
        import glob as _glob

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as _pq

        cache: dict[str, tuple[pa.Table, int]] = {}
        shards: dict[int, np.ndarray | None] = {}

        def get_shard(sid: int):
            if sid not in shards:
                files = _glob.glob(f"{bloom[0]}/shard_id={sid}/*.parquet")
                shards[sid] = (
                    np.frombuffer(
                        _pq.read_table(files[0], columns=["bits"])["bits"][0].as_py(),
                        dtype=np.uint8,
                    )
                    if files
                    else None
                )
            return shards[sid]

        for pdf in batches:
            keys = pdf["url_hash"].to_numpy(dtype=np.int64)
            if bloom is not None:
                keys = keys[bloom_mask(keys, get_shard, bloom[1], bloom[2])]
            if len(keys) == 0:
                yield pdf[cols]
                continue
            lo, hi = int(keys.min()), int(keys.max())
            # evict files the ascending batch order has moved past
            for path in [p for p, (_, fmax) in cache.items() if fmax < lo]:
                del cache[path]
            need = overlapping_files(index, lo, hi)
            for path in need:
                if path not in cache:
                    cache[path] = (
                        _pq.read_table(path, columns=["url_hash", "url_canon"]),
                        fmax_of[path],
                    )
            probe_hashes = pa.array(keys, type=pa.int64())
            hits = []
            for p in need:
                t = cache[p][0]
                sub = t.filter(pc.is_in(t["url_hash"], value_set=probe_hashes))
                if sub.num_rows:
                    hits.append(sub.to_pandas())
            if not hits:
                yield pdf[cols]
                continue
            # a bloom-cleared row cannot match: its hash is in no seen file
            m = pdf.merge(
                pd.concat(hits, ignore_index=True),
                on=["url_hash", "url_canon"],
                how="left",
                indicator=True,
            )
            yield m[m["_merge"] == "left_only"][cols]

    return links.sortWithinPartitions("url_hash").mapInPandas(
        probe, schema=out_schema
    )


def _shard_partials(seen: DataFrame, n_shards: int, n_bits: int, k: int) -> DataFrame:
    """Per-task partial bitmaps (shard_id, bits) over ``seen``'s
    url_hash, at fixed (n_bits, k).  Per-task memory is O(bitmap), never
    O(keys): one pandas group per shard would pull every url_hash of a
    shard into one task (~5 GB of keys at the 10^10-key design point).
    All shards share one (n_bits, k) so probe code stays branch-free."""

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

    return seen.select("url_hash").mapInPandas(
        partials, schema="shard_id int, bits binary"
    )


def _merge_shard_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-shard OR-merge kernel (the OR-merge is commutative,
    property-tested)."""
    arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bits"]]
    return pd.DataFrame(
        {
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "bits": [bloom.merge(arrs).tobytes()],
        }
    )


def _write_merged(bitmaps: DataFrame, out_dir: str) -> None:
    """The one build plan's tail: OR-merge bitmaps per shard and write
    each shard's result straight from its merge task as
    ``out_dir/shard_id=N/`` parquet.  Dictionary encoding off: bitmaps
    are fat unique binaries (same pathology as the corpus bytes
    column)."""
    (
        bitmaps.groupBy("shard_id")
        .applyInPandas(_merge_shard_group, schema="shard_id int, bits binary")
        .write.mode("overwrite")
        .option("parquet.enable.dictionary", "false")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )


def write_bloom_shard_files(
    seen: DataFrame, out_dir: str, n_shards: int, total: int
) -> tuple[int, int]:
    """A5 — per-shard bloom bitmaps over ``seen``'s url_hash at
    fpp=0.01, sized for ``BLOOM_HEADROOM`` × ``total`` keys (e.g. an
    icelite manifest row_count), written as parquet files partitioned
    by shard_id so NO bitmap ever transits the driver;
    ``anti_join_seen_files`` probes them in place.  Returns (k, n_bits)
    — the params ``update_bloom_shard_files`` must reuse.  n_shards
    must be a power of two (top-bits shard function)."""
    per_shard = max(total // n_shards, 1)
    n_bits, k = bloom.params_for(int(per_shard * BLOOM_HEADROOM), 0.01)
    _write_merged(_shard_partials(seen, n_shards, n_bits, k), out_dir)
    return k, n_bits


def update_bloom_shard_files(
    seen_delta: DataFrame,
    prev_dir: str,
    out_dir: str,
    n_shards: int,
    n_bits: int,
    k: int,
) -> None:
    """A5, incremental form: the full build's plan over the DELTA keys,
    with the previous generation's shard bitmaps added to the per-shard
    OR-merge.  Bloom bitmaps are OR-monotone and the seen table is
    append-only, so build(all keys) == build(old keys) | build(new keys)
    at equal (n_bits, k) — the per-round key scan drops from O(seen) to
    O(delta).  Every shard is rewritten (a delta of tens of thousands
    of keys touches every shard anyway).  Callers own the capacity rule
    (full rebuild via ``write_bloom_shard_files`` once the key count
    outgrows the sizing; fpp degradation can only cost performance,
    never correctness — the exact join is the authority).

    ``out_dir`` must differ from ``prev_dir``: an in-place update would
    overwrite the previous bitmaps WHILE the merge tasks read them —
    asserted here rather than left to corrupt silently."""
    import os as _os

    assert _os.path.realpath(out_dir) != _os.path.realpath(prev_dir), (
        "update_bloom_shard_files: out_dir must differ from prev_dir "
        "(in-place update would overwrite bitmaps while reading them)"
    )
    # the schema is known, so the read runs no schema-inference job
    prev = seen_delta.sparkSession.read.schema("shard_id int, bits binary").parquet(
        prev_dir
    )
    _write_merged(
        prev.unionByName(_shard_partials(seen_delta, n_shards, n_bits, k)), out_dir
    )
