"""Sharded Bloom-filter bitmaps over numpy (A5/U5).

Spec (``BASELINE.json:6``): "partitioned Bloom/cuckoo URL-seen filter
maintained as broadcast + per-partition shards".  PySpark exposes no
DataFrame-level bloom builder (verified, SURVEY.md §0), so the bitmaps
are plain numpy uint8 arrays built/merged/probed inside Arrow-batch
UDFs.  Keys are the engine's ``url_hash`` values (Spark ``xxhash64`` —
JVM-side, physical plane only; the oracle never consumes bloom output,
the exact anti-join is the correctness authority, SURVEY.md §7 hard
part 2).

"Broadcast + per-partition shards" is met by one distribution mode
(``operators.dedup``): the bitmaps are per-shard, keyed by url_hash
range (top hash bits, aligned with the seen table's range
partitioning), and live as partition-local parquet files.  Only the
shard directory is broadcast; every probe task reads the 1-2 shards its
url_hash range touches, and no bitmap transits the driver.

Bloom is append-only: the north-rule's seen-set never deletes, which is
why a cuckoo filter's delete support buys nothing here (SURVEY.md §2
exclusions).

Standard double-hashing scheme (Kirsch & Mitzenmacher, public
literature): position_i = (h1 + i*h2) mod nbits.
"""

from __future__ import annotations

import math

import numpy as np

_MASK64 = np.uint64((1 << 64) - 1)
_C1 = np.uint64(0xFF51AFD7ED558CCD)
_C2 = np.uint64(0xC4CEB9FE1A85EC53)


def params_for(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """(n_bits, k) sized for n_keys at the target false-positive rate."""
    n_keys = max(n_keys, 1)
    n_bits = max(64, int(math.ceil(-n_keys * math.log(fpp) / (math.log(2) ** 2))))
    n_bits = (n_bits + 7) & ~7  # byte-align
    k = max(1, int(round(n_bits / n_keys * math.log(2))))
    return n_bits, min(k, 16)


def _h1h2(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Derive two independent 64-bit streams from int64 keys (vectorized)."""
    v = keys.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        a = (v ^ (v >> np.uint64(33))) * _C1 & _MASK64
        a = (a ^ (a >> np.uint64(33))) & _MASK64
        b = (v ^ (v >> np.uint64(29))) * _C2 & _MASK64
        b = ((b ^ (b >> np.uint64(32))) | np.uint64(1)) & _MASK64  # odd
    return a, b


def build(keys: np.ndarray, n_bits: int, k: int) -> np.ndarray:
    """Build one bitmap (uint8 array, n_bits/8 bytes) from int64 keys."""
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    if len(keys) == 0:
        return bits
    h1, h2 = _h1h2(np.asarray(keys))
    nb = np.uint64(n_bits)
    for i in range(k):
        with np.errstate(over="ignore"):
            pos = (h1 + np.uint64(i) * h2) % nb
        np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return bits


def merge(bitmaps: list[np.ndarray]) -> np.ndarray:
    """OR-merge bitmaps of identical size (commutative — property-tested)."""
    out = bitmaps[0].copy()
    for b in bitmaps[1:]:
        np.bitwise_or(out, b, out=out)
    return out


def probe(keys: np.ndarray, bits: np.ndarray, k: int) -> np.ndarray:
    """Vectorized membership probe → bool array (no false negatives)."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    n_bits = np.uint64(len(bits) * 8)
    h1, h2 = _h1h2(np.asarray(keys))
    hit = np.ones(len(keys), dtype=bool)
    for i in range(k):
        with np.errstate(over="ignore"):
            pos = (h1 + np.uint64(i) * h2) % n_bits
        byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
        hit &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 > 0
    return hit
