"""Unit + property tests for the deterministic core (SURVEY.md §5.3)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from topicalcrawler_spark.core import bloom
from topicalcrawler_spark.core import imagecodec as ic
from topicalcrawler_spark.core.relevance import score_q
from topicalcrawler_spark.core.synthweb import fetch_page
from topicalcrawler_spark.core.urlcanon import canon_url, host_of, path_of

# ------------------------------------------------------------- canon (P1)

CANON_CASES = [
    ("HTTP://ExAmple-03.TEST:80/a/b?b=2&a=1#sec", "http://example-03.test/a/b?a=1&b=2"),
    ("https://Host.Test:443/", "https://host.test/"),
    ("https://Host.Test:8443/x", "https://host.test:8443/x"),
    ("http://h.test", "http://h.test/"),
    ("http://h.test/?", "http://h.test/"),
    ("http://h.test/p#frag", "http://h.test/p"),
    ("  http://h.test/p  ", "http://h.test/p"),
    ("not a url", "not a url"),
]


@pytest.mark.parametrize("raw,want", CANON_CASES)
def test_canon_cases(raw, want):
    assert canon_url(raw) == want


_host = st.from_regex(r"[a-z]([a-z0-9\-]{0,10})", fullmatch=True)
_path = st.from_regex(r"(/[a-z0-9]{0,6}){0,3}", fullmatch=True)
_params = st.lists(st.from_regex(r"[a-z]=[0-9]{1,3}", fullmatch=True), max_size=4)


@settings(max_examples=200, deadline=None)
@given(
    scheme=st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
    host=_host,
    upper=st.booleans(),
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=_path,
    params=_params,
    frag=st.sampled_from(["", "#x", "#sec"]),
)
def test_canon_idempotent_and_invariant(scheme, host, upper, port, path, params, frag):
    q = "?" + "&".join(params) if params else ""
    url = f"{scheme}://{host.upper() if upper else host}{port}{path}{q}{frag}"
    c = canon_url(url)
    # idempotence
    assert canon_url(c) == c
    # case / fragment / param-order invariance classes collapse
    url2 = f"{scheme.lower()}://{host}{port}{path}"
    if params:
        url2 += "?" + "&".join(reversed(params))
    assert canon_url(url2) == c


def test_host_and_path():
    assert host_of("http://user@h.test:8080/x") == "h.test"
    assert path_of("http://h.test") == "/"
    assert path_of("http://h.test/a/b?x=1") == "/a/b"


def test_host_of_bracketed_ipv6():
    """Round-4 ADVICE: the plain-host branch stops at the first ':'
    inside a bracketed IPv6 address, extracting host '[' — every IPv6
    literal then shares one politeness group and misses its robots
    rows.  The bracketed alternative must win, port still excluded."""
    assert host_of("http://[::1]/x") == "[::1]"
    assert host_of("http://[::1]:8080/x") == "[::1]"
    assert host_of("http://[2001:db8::1]/a?b=2") == "[2001:db8::1]"
    assert host_of("http://user@[::1]:9/x") == "[::1]"
    assert path_of("http://[::1]:8080/x/y") == "/x/y"
    # canon keeps the brackets and strips only the default port
    assert canon_url("http://[::1]:80/x") == "http://[::1]/x"
    assert canon_url("HTTP://[2001:DB8::1]:8080/x") == (
        "http://[2001:db8::1]:8080/x"
    )


# ------------------------------------------------------------- codecs (U4)


@pytest.mark.parametrize("fmt", ic.FORMATS)
def test_codec_roundtrip(fmt):
    px = ic.make_pixels(7, 45, 33)
    rt = ic.decode(ic.encode(px, fmt), fmt)
    if ic.LOSSLESS[fmt]:
        assert np.array_equal(px, rt)
    else:
        assert ic.psnr(px, rt) >= 40.0  # the BASELINE.json:15 gate


def test_png_all_filter_types_decode():
    # hand-build a PNG using each filter type per row; decoder must match
    import struct
    import zlib

    from topicalcrawler_spark.core.imagecodec import _chunk, _PNG_SIG

    px = ic.make_pixels(3, 8, 5)
    h, w, _ = px.shape
    raw = bytearray()
    prev = np.zeros(w * 3, np.uint8)
    for y in range(h):
        line = px[y].reshape(-1)
        ftype = y % 5
        raw.append(ftype)
        if ftype == 0:
            raw += line.tobytes()
        elif ftype == 1:
            enc = line.astype(np.int16).copy()
            enc[3:] -= line[:-3]
            raw += (enc & 0xFF).astype(np.uint8).tobytes()
        elif ftype == 2:
            raw += ((line.astype(np.int16) - prev) & 0xFF).astype(np.uint8).tobytes()
        elif ftype == 3:
            enc = np.zeros(w * 3, np.uint8)
            for x in range(w * 3):
                left = int(line[x - 3]) if x >= 3 else 0
                enc[x] = (int(line[x]) - ((left + int(prev[x])) >> 1)) & 0xFF
            raw += enc.tobytes()
        else:
            enc = np.zeros(w * 3, np.uint8)
            for x in range(w * 3):
                a = int(line[x - 3]) if x >= 3 else 0
                b = int(prev[x])
                c = int(prev[x - 3]) if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[x] = (int(line[x]) - pred) & 0xFF
            raw += enc.tobytes()
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(ic.decode_png(data), px)


def test_phash_properties():
    px = ic.make_pixels(11, 64, 64)
    ph = ic.phash64(px)
    # invariance under lossless re-encode
    assert ic.phash64(ic.decode(ic.encode(px, "png"), "png")) == ph
    # near-dup stays near, unrelated stays far
    noisy = np.clip(
        px.astype(np.int16)
        + np.random.default_rng(5).integers(-2, 3, px.shape),
        0,
        255,
    ).astype(np.uint8)
    assert ic.hamming64(ph, ic.phash64(noisy)) <= 8
    assert ic.hamming64(ph, ic.phash64(ic.make_pixels(99, 64, 64))) > 8


# ------------------------------------------------------------- bloom (A5/U5)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.integers(-(2**62), 2**62), min_size=1, max_size=500))
def test_bloom_no_false_negatives(keys):
    arr = np.array(keys, dtype=np.int64)
    n_bits, k = bloom.params_for(len(keys), 0.01)
    bits = bloom.build(arr, n_bits, k)
    assert bloom.probe(arr, bits, k).all()


def test_bloom_fp_rate_and_merge():
    rng = np.random.default_rng(0)
    a = rng.integers(-(2**62), 2**62, 4000)
    b = rng.integers(-(2**62), 2**62, 4000)
    n_bits, k = bloom.params_for(8000, 0.01)
    ba, bb = bloom.build(a, n_bits, k), bloom.build(b, n_bits, k)
    merged = bloom.merge([ba, bb])
    assert np.array_equal(merged, bloom.merge([bb, ba]))  # commutative
    assert bloom.probe(a, merged, k).all() and bloom.probe(b, merged, k).all()
    others = rng.integers(-(2**62), 2**62, 50000)
    assert bloom.probe(others, merged, k).mean() <= 0.02  # ≤ 2·fpp


# ------------------------------------------------------------- env model


def test_synthweb_deterministic():
    a = fetch_page("http://host-00.test/s/0001")
    b = fetch_page("http://host-00.test/s/0001")
    assert a["out_links"] == b["out_links"]
    assert a["image_bytes"] == b["image_bytes"]
    assert a["phash"] == b["phash"]


def test_relevance_integer_and_deterministic():
    s = score_q("spark crawl frontier pebble umbrella")
    assert isinstance(s, int)
    assert s == score_q("spark crawl frontier pebble umbrella")
    assert score_q("spark crawl frontier") > score_q("pebble umbrella violin")


@pytest.mark.parametrize("n_shards", [1, 2, 4, 16, 1024])
def test_shard_col_matches_shard_ids(spark, n_shards):
    """The Spark shard function places rows where the numpy one probes
    them, on random int64 keys of both signs and the extremes.  n=1
    pins the ``lit(0)`` case: Spark's 64-bit unsigned shift returns
    its input unchanged."""
    from topicalcrawler_spark.operators.dedup import shard_col, shard_ids

    rng = np.random.default_rng(n_shards)
    keys = rng.integers(-(1 << 63), (1 << 63) - 1, size=2000, dtype=np.int64)
    keys = np.concatenate(
        [keys, np.array([-(1 << 63), -5, -1, 0, 1, (1 << 63) - 1], dtype=np.int64)]
    )
    assert (keys < 0).any() and (keys > 0).any()
    df = spark.createDataFrame([(int(k),) for k in keys], "url_hash long")
    got = {
        r["url_hash"]: r["sid"]
        for r in df.select("url_hash", shard_col("url_hash", n_shards).alias("sid"))
        .collect()
    }
    want = shard_ids(keys, n_shards)
    assert [got[int(k)] for k in keys] == want.tolist()


def test_bloom_mask_loads_only_touched_shards():
    """The seen probe's bloom step must pull exactly the shards its
    keys map to (one per task when links are placed by
    ``place_by_shard``) — the property that makes the file-based path
    O(bitmap x shards-touched) per task instead of O(all shards)."""
    from topicalcrawler_spark.operators.dedup import bloom_mask, shard_ids

    n_shards, k = 16, 4
    n_bits, _ = bloom.params_for(100, 0.01)
    rng = np.random.default_rng(7)
    # keys confined to the top-2 shard ranges (high bits 1110/1111)
    keys = (
        (rng.integers(0, 1 << 60, size=50, dtype=np.int64))
        | np.int64(-(1 << 62))  # set the top two bits
    )
    touched = set(shard_ids(keys, n_shards).tolist())
    assert len(touched) <= 2

    loads: list[int] = []

    def get_shard(sid: int):
        loads.append(sid)
        return bloom.build(np.array([], dtype=np.int64), n_bits, k)

    mask = bloom_mask(keys, get_shard, n_shards, k)
    assert set(loads) == touched
    assert not mask.any()  # empty bitmaps -> all unseen


def test_bloom_mask_missing_shard_clears_rows():
    from topicalcrawler_spark.operators.dedup import bloom_mask

    keys = np.array([1, 2, 3], dtype=np.int64)
    assert not bloom_mask(keys, lambda sid: None, 16, 4).any()


def test_shard_ids_rejects_non_power_of_two():
    import pytest

    from topicalcrawler_spark.operators.dedup import shard_ids

    with pytest.raises(AssertionError):
        shard_ids(np.array([1], dtype=np.int64), 12)
    # n_shards=1: everything is shard 0, no undefined 64-bit shift
    assert shard_ids(np.array([1, -5], dtype=np.int64), 1).tolist() == [0, 0]


def test_anti_join_seen_files_equals_shuffle_join(spark, tmp_path):
    """The file-probed exact anti-join (design-point path) must equal
    the shuffle left-anti join exactly — including url_hash-collision
    safety (two distinct canons sharing a hash must not merge)."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.operators.dedup import (
        anti_join_seen_files,
        overlapping_files,
    )

    # pruning predicate alone
    idx = [("a", 0, 10), ("b", 11, 20), ("c", 21, 30)]
    assert overlapping_files(idx, 12, 19) == ["b"]
    assert overlapping_files(idx, 10, 11) == ["a", "b"]
    assert overlapping_files(idx, 31, 99) == []

    seen_rows = [(i * 7, f"http://h.test/p/{i}") for i in range(500)]
    # a colliding hash with a DIFFERENT canon — must stay unseen
    seen_rows.append((3 * 7, "http://h.test/p/other"))
    seen = spark.createDataFrame(
        seen_rows, "url_hash long, url_canon string"
    ).repartitionByRange(4, "url_hash")
    t = str(tmp_path / "seen")
    icelite.commit(seen, t, round_n=0)
    index = icelite.file_hash_index(t)

    links = spark.createDataFrame(
        [(i * 7, f"http://h.test/p/{i}", i) for i in range(0, 1000, 3)]
        + [(3 * 7, "http://h.test/p/collide", -1)],
        "url_hash long, url_canon string, payload int",
    )
    seen_df = icelite.read_snapshot(spark, t)
    expected = {
        tuple(r)
        for r in links.join(seen_df, ["url_hash", "url_canon"], "left_anti").collect()
    }
    got = {
        tuple(r)
        for r in anti_join_seen_files(
            links.repartitionByRange(4, "url_hash"), index
        ).collect()
    }
    assert got == expected
    assert any(r[1] == "http://h.test/p/collide" for r in got)


def test_anti_join_seen_files_eviction_under_small_batches(spark, tmp_path):
    """The probe cache evicts files the ascending batch order has moved
    past (round-3 ADVICE: unbounded per-task cache).  Force many small
    Arrow batches per task over a many-file append chain — eviction
    churns constantly, and the result must still equal the shuffle
    anti-join exactly (an over-eager eviction would resurrect seen
    rows; a missed overlap would drop fresh ones)."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.operators.dedup import anti_join_seen_files

    t = str(tmp_path / "seen")
    # 3 append commits x 8 range files = 24 files, overlapping ranges
    for c in range(3):
        seen_c = spark.createDataFrame(
            [(i * 5 + c, f"http://h.test/p/{i}-{c}") for i in range(4000)],
            "url_hash long, url_canon string",
        ).repartitionByRange(8, "url_hash")
        icelite.commit(seen_c, t, round_n=c, mode="append" if c else "replace")
    index = icelite.file_hash_index(t)
    assert len(index) >= 16

    links = spark.createDataFrame(
        [(i, f"http://h.test/p/{i // 5}-{i % 5}") for i in range(0, 20000, 2)],
        "url_hash long, url_canon string",
    )
    seen_df = icelite.read_snapshot(spark, t)
    expected = {
        tuple(r)
        for r in links.join(seen_df, ["url_hash", "url_canon"], "left_anti").collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "200")
    try:
        got = {
            tuple(r)
            for r in anti_join_seen_files(
                links.repartitionByRange(4, "url_hash"), index
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert got == expected


def test_seen_probe_bloom_cleared_batch_opens_no_seen_file(spark, tmp_path):
    """A batch the bloom clears entirely passes straight through and
    opens no seen file: the index names a file that does not exist and
    covers every hash, so any read of it would raise.  The bloom dir
    has no shard files, i.e. every shard is empty."""
    from topicalcrawler_spark.operators.dedup import (
        anti_join_seen_files,
        place_by_shard,
    )

    missing = str(tmp_path / "no-such-seen-file.parquet")
    index = [(missing, -(1 << 63), (1 << 63) - 1)]
    links = spark.createDataFrame(
        [(i * 7919 - 5000, f"http://h.test/p/{i}") for i in range(300)],
        "url_hash long, url_canon string",
    )
    got = anti_join_seen_files(
        place_by_shard(links, 4), index, bloom=(str(tmp_path / "bloom"), 4, 7)
    ).collect()
    assert {tuple(r) for r in got} == {tuple(r) for r in links.collect()}


def test_seen_probe_all_maybe_bloom_equals_reference(spark, tmp_path):
    """A bloom that reports every row maybe-seen (built over the
    probe's own keys) sends every row to the exact step: the result
    equals the plain left-anti join, and a row that shares a seen
    url_hash under a different canon is kept."""
    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.operators.dedup import (
        anti_join_seen_files,
        place_by_shard,
        write_bloom_shard_files,
    )

    n_shards = 4
    seen = spark.createDataFrame(
        [(i * 104729 - 10**7, f"http://h.test/p/{i}") for i in range(400)],
        "url_hash long, url_canon string",
    )
    t = str(tmp_path / "seen")
    icelite.commit(place_by_shard(seen, n_shards), t, round_n=0)
    links = spark.createDataFrame(
        [(i * 104729 - 10**7, f"http://h.test/p/{i}") for i in range(0, 800, 3)]
        + [(5 * 104729 - 10**7, "http://h.test/p/collide")],
        "url_hash long, url_canon string",
    )
    bloom_dir = str(tmp_path / "bloom")
    k, _ = write_bloom_shard_files(links, bloom_dir, n_shards, total=300)
    expected = {
        tuple(r)
        for r in links.join(seen, ["url_hash", "url_canon"], "left_anti").collect()
    }
    got = {
        tuple(r)
        for r in anti_join_seen_files(
            place_by_shard(links, n_shards),
            icelite.file_hash_index(t),
            bloom=(bloom_dir, n_shards, k),
        ).collect()
    }
    assert got == expected
    assert (5 * 104729 - 10**7, "http://h.test/p/collide") in got
    assert len(got) < links.count()


def test_update_bloom_shard_files_rejects_in_place(spark, tmp_path):
    """out_dir == prev_dir would overwrite bitmaps while the merge
    tasks read them — must fail fast, not corrupt silently."""
    import pytest
    from pyspark.sql import functions as F

    from topicalcrawler_spark.operators.dedup import (
        update_bloom_shard_files,
        write_bloom_shard_files,
    )

    keys = spark.range(100).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    d = str(tmp_path / "shards")
    k, nb = write_bloom_shard_files(keys, d, 8, total=100)
    with pytest.raises(AssertionError, match="out_dir"):
        update_bloom_shard_files(keys, d, d, 8, nb, k)
    # realpath equality counts too (same dir through a different spelling)
    with pytest.raises(AssertionError, match="out_dir"):
        update_bloom_shard_files(
            keys, d, str(tmp_path / "." / "shards"), 8, nb, k
        )


def test_incremental_bloom_equals_full_build(spark):
    """OR-monotonicity: build(all) == update(build(part1), part2) at
    equal (n_bits, k) — bit-for-bit, over every shard bitmap file.  Two
    deltas: a key range spread over all shards, and a delta whose keys
    all map to ONE shard, so every other shard of the update is the
    previous bitmap passed through the merge unchanged."""
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from topicalcrawler_spark.operators.dedup import (
        shard_ids,
        update_bloom_shard_files,
        write_bloom_shard_files,
    )

    def hashed(df):
        return df.select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))

    n_shards, n_all, n_part = 8, 5000, 3000
    # one-shard delta: ids n_part.. whose url_hash falls in shard 5
    cand = np.array(
        [r["url_hash"] for r in hashed(spark.range(n_part, n_all + 20000)).collect()],
        dtype=np.int64,
    )
    one_shard = [
        n_part + i for i in np.flatnonzero(shard_ids(cand, n_shards) == 5)[:1500]
    ]
    deltas = {
        "range": spark.range(n_part, n_all),
        "one_shard": spark.createDataFrame([(int(i),) for i in one_shard], "id long"),
    }

    def load(d):
        rows = spark.read.parquet(d).collect()
        return {r["shard_id"]: bytes(r["bits"]) for r in rows}

    for name, delta in deltas.items():
        full = spark.range(n_part).unionByName(delta)
        with tempfile.TemporaryDirectory() as td:
            d_full, d_part, d_upd = f"{td}/full", f"{td}/part", f"{td}/upd"
            kf, nb = write_bloom_shard_files(
                hashed(full), d_full, n_shards, total=n_all
            )
            kp, nbp = write_bloom_shard_files(
                hashed(spark.range(n_part)), d_part, n_shards, total=n_all
            )
            assert (kf, nb) == (kp, nbp)
            update_bloom_shard_files(hashed(delta), d_part, d_upd, n_shards, nb, kf)
            upd, ref = load(d_upd), load(d_full)
            assert sorted(upd) == list(range(n_shards)), name
            assert upd == ref, name
            if name == "one_shard":
                assert {s for s in ref if ref[s] != load(d_part)[s]} == {5}


def test_incremental_bloom_update_runs_no_more_jobs_than_full_build(
    spark, tmp_path
):
    """The incremental update is the full build's plan plus the previous
    bitmaps, read with their known schema: it starts as many Spark jobs
    as a full build (a schema-inferring read of the previous generation
    would add one)."""
    import uuid

    from pyspark.sql import functions as F

    from topicalcrawler_spark.operators.dedup import (
        update_bloom_shard_files,
        write_bloom_shard_files,
    )

    sc = spark.sparkContext

    def jobs(fn):
        group = f"bloom-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "bloom")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def hashed(lo, hi):
        return spark.range(lo, hi).select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash")
        )

    n_shards = 8
    (k, nb), full_jobs = jobs(lambda: write_bloom_shard_files(
        hashed(0, 20_000), str(tmp_path / "full"), n_shards, total=20_000
    ))
    _, upd_jobs = jobs(lambda: update_bloom_shard_files(
        hashed(20_000, 25_000), str(tmp_path / "full"), str(tmp_path / "upd"),
        n_shards, nb, k,
    ))
    assert full_jobs > 0
    assert upd_jobs == full_jobs


def test_crawl_delay_cap_float_parity_with_oracle(spark):
    """The crawl-delay cap's trace parity rests on one claim: Spark's
    floor(lit(window) / crawl_delay) (IEEE-double divide, then floor)
    equals Python's math.floor(window / d) bit-for-bit.  Pin it over
    1,000 adversarial (window, delay) pairs — including delays tiny
    enough to make the quotient huge and quotients that land exactly
    on integers — in ONE vectorized job via the real operator."""
    import math

    import numpy as np

    from topicalcrawler_spark.operators.politeness import with_crawl_delay_cap

    rng = np.random.default_rng(7)
    window = 6.0
    delays = np.concatenate(
        [
            rng.uniform(1e-6, 3.0, 900),          # the fixture range + tiny
            window / rng.integers(1, 50, 50),     # exact-integer quotients
            np.array([0.0, -1.0]),                # uncapped: nonpositive
            rng.uniform(100.0, 1e6, 48),          # floor -> 0, clamped to 1
        ]
    )
    budgets = rng.integers(1, 11, len(delays))
    rows = [
        (f"h{i}.example", float(d), int(b))
        for i, (d, b) in enumerate(zip(delays, budgets))
    ]
    frontier = spark.createDataFrame(
        [(h, b) for h, _, b in rows], "host string, budget_per_round int"
    )
    robots = spark.createDataFrame(
        [(h, d) for h, d, _ in rows], "host string, crawl_delay double"
    )
    got = {
        r["host"]: r["budget_per_round"]
        for r in with_crawl_delay_cap(frontier, robots, window).collect()
    }
    for h, d, b in rows:
        want = b if d <= 0 else min(b, max(1, math.floor(window / d)))
        assert got[h] == want, (h, d, b, got[h], want)


def test_robots_duplicate_equal_length_prefix_first_wins(spark):
    """Equal-length duplicate prefixes with opposite allow flags — the
    oracle's robots_allows keeps the FIRST rule at the max matching
    length (strict '>'), so the engine's fold must too (an array_max
    over (length, allow) structs would resolve the tie to allow=true)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tests.oracle_crawler import robots_allows
    from topicalcrawler_spark.functions import robots_allowed_expr

    cases = [
        # (rules, path)
        ([{"prefix": "/p/a", "allow": False},
          {"prefix": "/p/a", "allow": True}], "/p/a/x"),
        ([{"prefix": "/p/a", "allow": True},
          {"prefix": "/p/a", "allow": False}], "/p/a/x"),
        # longer prefix still beats an earlier shorter one
        ([{"prefix": "/p", "allow": False},
          {"prefix": "/p/a", "allow": True}], "/p/a/x"),
        # tie at length 0-match -> allow
        ([{"prefix": "/q", "allow": False}], "/p/a/x"),
        ([], "/p/a/x"),
        (None, "/p/a/x"),
    ]
    rows = [
        {"i": i, "path": p, "rules": r} for i, (r, p) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "i int, path string, rules array<struct<prefix:string,allow:boolean>>",
    )
    got = {
        r["i"]: r["ok"]
        for r in df.select(
            "i", robots_allowed_expr("path", "rules").alias("ok")
        ).collect()
    }
    for i, (rules, path) in enumerate(cases):
        assert got[i] == robots_allows(rules, path), (i, rules, path)


def test_robots_null_allow_rule_does_not_participate(spark):
    """Round-5 parity fix: a rule with allow=NULL (no decision) or
    prefix=NULL must be skipped by BOTH twins — before the fix the
    engine's fold let a longer NULL-allow rule capture the accumulator,
    erase a shorter disallow, and coalesce the NULL to allow=true,
    while the oracle's None was falsy (blocked): a silent trace
    divergence on any robots table carrying an unparsed directive."""
    import pandas as pd

    from tests.oracle_crawler import robots_allows
    from topicalcrawler_spark.functions import robots_allowed_expr

    cases = [
        # longer NULL-allow rule must NOT shadow the shorter disallow
        ([{"prefix": "/p", "allow": False},
          {"prefix": "/p/a", "allow": None}], "/p/a/x", False),
        # lone NULL rule -> no valid rule -> default allow
        ([{"prefix": "/p/a", "allow": None}], "/p/a/x", True),
        # duplicate prefix, NULL first: the real False still decides
        ([{"prefix": "/p/a", "allow": None},
          {"prefix": "/p/a", "allow": False}], "/p/a/x", False),
        # NULL prefix never matches anything
        ([{"prefix": None, "allow": False}], "/p/a/x", True),
        ([{"prefix": None, "allow": False},
          {"prefix": "/p", "allow": True}], "/p/a/x", True),
    ]
    rows = [
        {"i": i, "path": p, "rules": r} for i, (r, p, _) in enumerate(cases)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows),
        "i int, path string, rules array<struct<prefix:string,allow:boolean>>",
    )
    got = {
        r["i"]: r["ok"]
        for r in df.select(
            "i", robots_allowed_expr("path", "rules").alias("ok")
        ).collect()
    }
    for i, (rules, path, want) in enumerate(cases):
        assert got[i] == want, (i, rules, path)
        assert robots_allows(rules, path) == want, (i, rules, path)


def test_latest_robots_tie_is_deterministic_and_oracle_matched(spark):
    """Robots rows tying on (host, fetched_at) with different content:
    the engine must pick deterministically (content keys, not partition
    delivery order) and the fixtures' oracle-side rule must agree —
    including the edge cases a single stringified key gets wrong:
    sub-1e-3 delays (Spark CAST(double AS STRING) goes scientific at
    1e-3, Python repr at 1e-4 — '0.1' < '5.0E-4' but 0.0005 < 0.1),
    NULL delays (concat null-propagates, collapsing the whole key), and
    a '|' inside a prefix (aliases two different rule lists unless the
    encoding is length-prefixed)."""
    from datetime import datetime

    from topicalcrawler_spark.operators.robots import latest_robots
    from topicalcrawler_spark.sources.fixtures import robots_content_key

    ts = datetime(2025, 1, 1, 12, 0, 0)
    tied_pairs = [
        # plain content tie
        [{"host": "h0.test", "fetched_at": ts,
          "rules": [{"prefix": "/p/b", "allow": True}], "crawl_delay": 1.5},
         {"host": "h0.test", "fetched_at": ts,
          "rules": [{"prefix": "/p/a", "allow": False}], "crawl_delay": 0.5}],
        # same rules, delays 0.0005 vs 0.1 — numeric order must win
        [{"host": "h1.test", "fetched_at": ts,
          "rules": [{"prefix": "/p", "allow": True}], "crawl_delay": 0.0005},
         {"host": "h1.test", "fetched_at": ts,
          "rules": [{"prefix": "/p", "allow": True}], "crawl_delay": 0.1}],
        # both delays NULL — rules key must still decide
        [{"host": "h2.test", "fetched_at": ts,
          "rules": [{"prefix": "/z", "allow": True}], "crawl_delay": None},
         {"host": "h2.test", "fetched_at": ts,
          "rules": [{"prefix": "/a", "allow": False}], "crawl_delay": None}],
        # NULL vs set delay — NULL orders first on both sides
        [{"host": "h3.test", "fetched_at": ts,
          "rules": [{"prefix": "/q", "allow": True}], "crawl_delay": None},
         {"host": "h3.test", "fetched_at": ts,
          "rules": [{"prefix": "/q", "allow": True}], "crawl_delay": 0.25}],
        # '|' inside a prefix vs the two-rule list it would alias
        [{"host": "h4.test", "fetched_at": ts,
          "rules": [{"prefix": "/a+|1:b", "allow": True}],
          "crawl_delay": 1.0},
         {"host": "h4.test", "fetched_at": ts,
          "rules": [{"prefix": "/a", "allow": True},
                    {"prefix": "b", "allow": True}], "crawl_delay": 1.0}],
    ]
    schema = (
        "host string, fetched_at timestamp, "
        "rules array<struct<prefix:string,allow:boolean>>, crawl_delay double"
    )

    def pick_key(row):
        return (
            tuple((r["prefix"], r["allow"]) for r in row["rules"]),
            row["crawl_delay"],
        )

    rows = [r for pair in tied_pairs for r in pair]
    # both physical orders must give the same row per host
    picks = []
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(order, schema).repartition(4)
        got = latest_robots(df).collect()
        assert len(got) == len(tied_pairs)
        picks.append(
            {r["host"]: pick_key(r.asDict(recursive=True)) for r in got}
        )
    assert picks[0] == picks[1]
    # and each pick is the content-key minimum — the same row the
    # oracle's _latest_robots_rows tie rule keeps
    for pair in tied_pairs:
        want = min(pair, key=robots_content_key)
        assert picks[0][want["host"]] == pick_key(want), want["host"]


def test_robots_engine_oracle_randomized_parity(spark):
    """Seeded random sweep (one Spark job per surface, not per case):

    1. 300 hosts x 2-4 robots rows all tying on fetched_at, rule lists
       drawn from a prefix pool that includes '|' and ':' (the
       encoding's own separators), a non-ASCII prefix (UTF-8 byte order
       vs Python code-point order), empty prefixes, empty rule lists,
       and delays spanning None / sub-1e-4 / sub-1e-3 / large — the
       engine's latest_robots pick must equal the oracle content-key
       minimum on EVERY host.
    2. 500 random (rules, path) pairs — robots_allowed_expr must equal
       the oracle's robots_allows on every pair.
    """
    import random
    from datetime import datetime

    from pyspark.sql import functions as F

    from tests.oracle_crawler import robots_allows
    from topicalcrawler_spark.functions import robots_allowed_expr
    from topicalcrawler_spark.operators.robots import latest_robots
    from topicalcrawler_spark.sources.fixtures import robots_content_key

    rng = random.Random(42)
    prefixes = [
        "", "/", "/a", "/a/b", "/a|b", "/a+|1:b", "2:/a", "/p/q/r",
        "/é", "/p", "/p/", "b",
    ]
    delays = [None, 0.0005, 0.0001, 1e-05, 0.1, 1.0, 2.5, 12345.678]
    paths = ["/", "/a", "/a/b/c", "/a|b/x", "/p/q/r/s", "/é/x", "/zzz"]

    def rand_rules():
        # allow=None (no decision) and prefix=None are representable in
        # the robots schema; both twins must skip such rules entirely
        return [
            {
                "prefix": None if rng.random() < 0.1 else rng.choice(prefixes),
                "allow": rng.choice([True, False, None]),
            }
            for _ in range(rng.randrange(0, 5))
        ]

    ts = datetime(2025, 3, 1, 0, 0, 0)
    rows, by_host = [], {}
    for i in range(300):
        host = f"h{i:03d}.test"
        group = [
            {"host": host, "fetched_at": ts, "rules": rand_rules(),
             "crawl_delay": rng.choice(delays)}
            for _ in range(rng.randrange(2, 5))
        ]
        by_host[host] = group
        rows.extend(group)
    rng.shuffle(rows)

    schema = (
        "host string, fetched_at timestamp, "
        "rules array<struct<prefix:string,allow:boolean>>, crawl_delay double"
    )

    def pick_key(row):
        return (
            tuple((r["prefix"], r["allow"]) for r in row["rules"]),
            row["crawl_delay"],
        )

    got = {
        r["host"]: pick_key(r.asDict(recursive=True))
        for r in latest_robots(
            spark.createDataFrame(rows, schema).repartition(8)
        ).collect()
    }
    assert len(got) == len(by_host)
    for host, group in by_host.items():
        want = min(group, key=robots_content_key)
        assert got[host] == pick_key(want), (host, group)

    cases = [(rand_rules(), rng.choice(paths)) for _ in range(500)]
    pdf = spark.createDataFrame(
        [
            {"i": i, "path": p, "rules": r}
            for i, (r, p) in enumerate(cases)
        ],
        "i int, path string, rules array<struct<prefix:string,allow:boolean>>",
    )
    got_ok = {
        r["i"]: r["ok"]
        for r in pdf.select(
            "i", robots_allowed_expr("path", "rules").alias("ok")
        ).collect()
    }
    for i, (rules, path) in enumerate(cases):
        assert got_ok[i] == robots_allows(rules, path), (i, rules, path)


def test_host_path_exprs_match_oracle_on_weird_urls(spark):
    """Round-4 review finding: parse_url is java.net.URI-based and
    returns NULL for URLs the URI grammar rejects but the real web
    serves ('|', space, '{', backslash in paths) — the oracle's
    host_of/path_of regexes extract components anyway, so the engine
    exprs must be their exact twins (NULL host would lump such rows
    into one politeness group and skip their robots join)."""
    import pandas as pd

    from topicalcrawler_spark.functions import host_expr, path_expr

    urls = [
        "http://a.test/p|q",
        "http://a.test/p q",
        "http://a.test/{x}",
        "http://a.test/p\\q",
        "http://a.test/p^r",
        "notaurl",
        None,
        "ftp://x.test/a",
        "http://user@h.test:8080/x",
        "http://h.test",
        "http://h.test:8443/x?b=2",
        "https://host-9.test/a/b/c?x=1",
        "http://h.test/?",
        "",
        # anchor-rejecting but prefix-accepting strings: a fully
        # anchored oracle regex fails these (newline stops `.`/`$`)
        # while the engine's prefix regex extracts the path — both
        # sides must use the prefix form (urlcanon._PATH_RE)
        "http://h.test/a#fr\nag",
        "http://h.test/b?q=1\n&r=2",
        "http://h.test/c\nd",
        # bracketed IPv6 literals (round-4 ADVICE): both twins must
        # extract the bracketed form, not stop at the inner ':'
        "http://[::1]/x",
        "http://[::1]:8080/x",
        "http://[2001:db8::1]/a?b=2",
        "http://user@[::1]:9/x",
        "https://[::1]",
    ]
    # structured stress matrix (round-5 fuzz: 200k random + this
    # matrix ran mismatch-free; the matrix is pinned so the classes —
    # userinfo, unclosed/empty brackets, non-numeric ports, multiple
    # '@', newline paths — can never silently diverge again)
    for h in ["h.test", "[::1]", "[2001:db8::1]", "[", "]", "[:]",
              "a@b@c", "h:1:2", ""]:
        for extra in ["", ":80", ":x", "@u", "/p?q=1#f", "/\n", "?#", "#?"]:
            urls.append(f"http://{h}{extra}")
            urls.append(f"http://u:pw@{h}{extra}")
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(urls)), "url_canon": urls}),
        "i int, url_canon string",
    )
    got = {
        r["i"]: (r["h"], r["p"])
        for r in df.select(
            "i",
            host_expr("url_canon").alias("h"),
            path_expr("url_canon").alias("p"),
        ).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == (host_of(u), path_of(u)), (u, got[i])
