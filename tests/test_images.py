"""J8 phash near-dup join: the banding must find exactly the pairs an
exact all-pairs hamming scan finds (pigeonhole recall proof holds when
n_bands > max_hamming)."""

from __future__ import annotations

from itertools import combinations

from topicalcrawler_spark.operators.images import phash_near_dup_pairs
from topicalcrawler_spark.schemas import CORPUS
from topicalcrawler_spark.sources import fixtures as fx


def test_phash_banding_equals_bruteforce(spark):
    rows = fx.make_corpus(n=300, near_dup_rate=0.05)
    corpus = spark.createDataFrame(rows, CORPUS)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(corpus, max_hamming=8).collect()
    }
    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")
    expect = {
        (a["image_id"], b["image_id"]): ham(a["phash"], b["phash"])
        for a, b in combinations(rows, 2)
        if ham(a["phash"], b["phash"]) <= 8
    }
    assert got == expect
    assert len(expect) > 0  # the fixture's planted near-dups exist


def test_phash_banding_adversarial_bit_patterns(spark):
    """Pin the banding's unsigned-shift semantics on hand-built
    signatures that a signed shift or %-mod banding would mishandle:
    pairs differing ONLY in bit 63 (sign bit), pairs with every
    differing bit crammed into a single band, a pair at exactly
    max_hamming whose differing bits spread one per band so that it
    shares only the last band, and a pair at exactly max_hamming+1
    that must NOT appear."""
    k = 8
    base = -0x7FF0_1234_5678_9ABD  # negative: top bits set
    def flip(v, *bits):
        for b in bits:
            v ^= 1 << b
        return _signed(v)
    def _signed(v):
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= (1 << 63) else v
    rows = [
        ("sign_a", _signed(base)),
        ("sign_b", flip(base, 63)),            # hamming 1, sign differs
        ("band_a", 0x0123_4567_89AB_CDEF),
        ("band_b", _signed(0x0123_4567_89AB_CDEF ^ 0x7F)),  # 7 bits, one band
        ("spread_a", 0x0F0F_0F0F_0F0F_0F0F),
        ("spread_b", _signed(0x0F0F_0F0F_0F0F_0F0F ^ sum(
            1 << c * (64 // (k + 1)) for c in range(k)  # bit 0 of bands 0..k-1
        ))),
        ("far_a", 0),
        ("far_b", _signed((1 << k + 1) - 1)),  # hamming k+1: excluded
    ]
    corpus = spark.createDataFrame(
        [(i, p) for i, p in rows], "image_id string, phash long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_dup_pairs(corpus, max_hamming=k).collect()
    }
    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")
    expect = {
        (a, b): ham(pa, pb)
        for (a, pa), (b, pb) in combinations(rows, 2)
        if ham(pa, pb) <= k
    }
    assert ("sign_a", "sign_b") in expect  # the case a signed shift drops
    assert expect[("spread_a", "spread_b")] == k  # recall needs every band
    assert ("far_a", "far_b") not in expect
    assert got == expect
