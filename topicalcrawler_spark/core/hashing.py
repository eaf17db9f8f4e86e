"""Deterministic hashing shared by engine and oracle.

Two distinct hash planes, deliberately separated (SURVEY.md §7 hard
part 1 — nothing semantic may depend on a JVM-only hash):

* ``stable64`` — blake2b-based 64-bit hash computed in *Python* on both
  sides.  Used wherever the pure-Python oracle must agree with the
  engine: synthetic-web page seeds, relevance token buckets (via
  ``token_bucket``), fixture generation.
* Spark's ``F.xxhash64`` — JVM-side, used ONLY for physical concerns
  (partitioning, bloom bit positions, LSH band keys).  The oracle never
  sees those values, so no cross-language parity is required.
"""

from __future__ import annotations

import zlib
from hashlib import blake2b


def stable64u(s: str) -> int:
    """Unsigned 64-bit deterministic hash of a string (blake2b/8)."""
    return int.from_bytes(blake2b(s.encode("utf-8"), digest_size=8).digest(), "little")


def stable64(s: str) -> int:
    """Signed-int64 view of stable64u (fits Spark LongType)."""
    v = stable64u(s)
    return v - (1 << 64) if v >= (1 << 63) else v


def token_bucket(token: str, nbuckets: int) -> int:
    """Hash a token into a relevance-model bucket (crc32, stdlib, fast)."""
    return zlib.crc32(token.encode("utf-8")) % nbuckets
