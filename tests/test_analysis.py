"""Training-data analysis operators: LSH recall vs exact baselines,
hash parity with DuckDB, multimodal plumbing."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from topicalcrawler_spark.analysis import dedup as dd
from topicalcrawler_spark.analysis import media, similarity as sim
from topicalcrawler_spark.analysis.hashing import hash60_expr, hash60_sql
from topicalcrawler_spark.sources import fixtures as fx

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_hash60_parity_with_duckdb(spark):
    vals = ["", "a", "hello world", "Ünï¢ødé", "x" * 500]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v string")
        .select("v", hash60_expr("v").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    for v in vals:
        (dh,) = con.execute(
            f"SELECT {hash60_sql('?')}", [v]
        ).fetchone()
        assert got[v] == dh, v


def test_minhash_lsh_equals_bruteforce_jaccard(spark):
    docs = _docs(spark)
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert lsh == brute
    assert len(brute) > 0  # sanity: the threshold actually selects pairs


def test_jaccard_df_cap_matches_uncapped_on_fixture(spark):
    """The hot-token df cap (scale guard) must not change results when
    no token exceeds it — pins that the capped candidate+verify path
    computes the identical exact Jaccard as the postings-count path."""
    docs = _docs(spark)
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, threshold=0.5, max_df=1000).collect()
    }
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, threshold=0.5, max_df=None).collect()
    }
    assert capped == uncapped
    assert len(capped) > 0


def test_jaccard_df_cap_drops_hot_token_from_candidates(spark):
    """With a binding cap: a stop-word-grade token present in EVERY doc
    must not generate candidates by itself, while pairs sharing rarer
    tokens are still found and verified with the FULL-set Jaccard
    (including the hot token's contribution to the score)."""
    rows = [
        (1, "the quick brown fox jumps high"),
        (2, "the quick brown fox jumps far"),
        (3, "the zebra sleeps"),
        (4, "the walrus sings"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'the' has df=4 > cap=3 -> excluded from candidate generation:
    # (3,4) share only 'the' and must NOT pair; (1,2) share 4 rare
    # tokens + 'the' and must pair, with jaccard computed over ALL
    # tokens (incl. the hot one): |{the,quick,brown,fox,jumps}| / 7
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.jaccard_pairs(docs, threshold=0.5, max_df=3).collect()
    }
    assert set(got) == {(1, 2)}
    assert abs(got[(1, 2)] - round(5 / 7, 6)) < 1e-9


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check vs an independent union-find oracle on seeded
    random graphs (one Spark run per graph keeps the test fast)."""
    import random

    for seed in (7, 41):
        rng = random.Random(seed)
        n = 40
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randint(5, 30))
            }
        )
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expect = {v: find(v) for v in range(n)}

        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        got = {
            r["doc_id"]: r["comp"]
            for r in dd.connected_components(pairs, verts).collect()
        }
        assert got == expect, seed


def test_connected_components_long_chain(spark):
    """The case min-label propagation needs O(n) rounds for: a 30-hop
    chain. large-star/small-star must label it in O(log n) rounds, and
    must RAISE (never silently return partial labels) when its round
    budget is too small to reach the fixpoint."""
    import pytest

    n = 30
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {
        r["doc_id"]: r["comp"]
        for r in dd.connected_components(pairs, verts, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(n)}
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, verts, max_iter=1).collect()


def test_connected_components_clusters_and_singletons(spark):
    # two chains that merge transitively + one isolated vertex: the
    # component label must be the min id REACHABLE, not just adjacent
    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (2, 7), (20, 21)], "doc_a long, doc_b long"
    )
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 5, 7, 9, 20, 21, 99)], "doc_id long"
    )
    got = {
        r["doc_id"]: r["comp"]
        for r in dd.connected_components(pairs, verts).collect()
    }
    assert got == {1: 1, 5: 1, 9: 1, 2: 2, 7: 2, 20: 20, 21: 20, 99: 99}


def test_simhash_identical_docs_pair(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
        (3, "one two three four five six seven eight nine ten"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dd.simhash_pairs(docs, max_hamming=3).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


@pytest.mark.parametrize(
    "name",
    [
        "simhash_neardup_pairs",
        "dup_components_docs",
        "phash_neardup_corpus",
        "phash_components_corpus",
    ],
)
def test_near_dup_entries_match_oracle(spark, name):
    """Both near-dup tails (text simhash, image phash) run the one
    banded Hamming pair join and the one connected-components
    algorithm; each entry must equal its brute-force DuckDB oracle on
    the sf0.01 tables, which hold real near-dup pairs."""
    from tools.check_oracle import to_rows
    from topicalcrawler_spark.queries import oracle_sql, queries

    sf_dir = os.path.join(os.path.dirname(SF), "sf0.01")
    df = queries()[name](spark, sf_dir)
    got = to_rows(df.columns, [tuple(r) for r in df.collect()])
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    res = con.sql(oracle_sql()[name])
    want = to_rows(res.columns, res.fetchall())
    assert got == want and len(want[1]) > 0


def test_lsh_ann_recall_vs_exact(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["query_id"], r["vec_id"])
        for r in sim.cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in sim.lsh_topk(emb, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall  # deterministic given LSH_SEED=42


def test_ivf_topk_runs_and_ranks(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cents = sim.ivf_build(emb, n_cells=4, iters=1)
    assert cents.count() == 4
    out = sim.ivf_topk(emb, queries, cents, k=5, nprobe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["cosine"]))
    for q, rows in by_q.items():
        rows.sort()
        cosines = [c for _, c in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_media_decode_features_and_resize(spark):
    corpus = spark.createDataFrame(fx.make_corpus(n=30), schema=None).select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash"
    )
    feats = {r["image_id"]: r for r in media.decode_features(corpus).collect()}
    stored = {r["image_id"]: r for r in corpus.collect()}
    assert len(feats) == 30
    for iid, r in feats.items():
        assert r["decode_ok"]
        assert 0.0 <= r["mean_r"] <= 255.0
        assert r["dec_phash"] == stored[iid]["phash"]

    small = media.resize_images(corpus, out_w=16, out_h=16).collect()
    from topicalcrawler_spark.core.imagecodec import decode

    for r in small:
        px = decode(bytes(r["bytes"]), r["fmt"])
        assert px.shape == (16, 16, 3)


def test_qvid_codec_roundtrip():
    import numpy as np

    from topicalcrawler_spark.core.imagecodec import make_pixels

    frames = np.stack([make_pixels(9 + f, 20, 12) for f in range(5)])
    blob = media.encode_qvid(frames, interval_ms=33)
    interval, back = media.decode_qvid(blob)
    assert interval == 33
    assert (back == frames).all()
    import pytest

    with pytest.raises(ValueError):
        media.decode_qvid(b"JUNKJUNKJUNKJUNK")


def test_media_frame_sampling_real_decode(spark):
    """sample_frames does REAL qvid decode: sampled phashes match the
    generator-side kernel per frame, and a corrupt payload degrades to
    the frame_idx=-1 sentinel row instead of failing the task."""
    from topicalcrawler_spark.sources.fixtures import make_videos

    vids = make_videos(12)  # index 14 corrupt rows excluded at n=12
    vids.append({"media_id": "vid-bad", "payload": b"not a qvid"})
    media_df = spark.createDataFrame(vids, "media_id string, payload binary")
    got = {
        (r["media_id"], r["frame_idx"]): (r["frame_ts_ms"], r["frame_phash"],
                                          r["frame_mean_luma"])
        for r in media.sample_frames(media_df, every_k=3).collect()
    }
    expect = {}
    for v in vids:
        for mid, idx, ts, ph, luma in media.expected_frame_rows(
            v["media_id"], v["payload"], 3
        ):
            expect[(mid, idx)] = (ts, ph, luma)
    assert got == expect
    assert got[("vid-bad", -1)] == (-1, 0, 0.0)


def test_qaud_codec_and_audio_features(spark):
    """audio_features does REAL PCM decode: per-clip duration/RMS/peak/
    zero-crossings match the generator-side kernel, and corrupt clips
    degrade to the decode_ok=False sentinel."""
    import numpy as np

    from topicalcrawler_spark.analysis.media import (
        _audio_features_one,
        decode_qaud,
        encode_qaud,
    )
    from topicalcrawler_spark.sources.fixtures import make_audio

    # codec round-trip
    pcm = (np.sin(np.linspace(0, 60, 800)) * 20000).astype(np.int16)
    rate, back = decode_qaud(encode_qaud(pcm, 8000))
    assert rate == 8000 and (back == pcm).all()

    clips = make_audio(24)  # includes corrupt rows at i%12==11
    df = spark.createDataFrame(clips, "media_id string, payload binary")
    got = {r["media_id"]: tuple(r) for r in media.audio_features(df).collect()}
    for c in clips:
        assert got[c["media_id"]] == _audio_features_one(
            c["media_id"], c["payload"]
        )
    assert got["aud-000011"][1] is False  # corrupt -> sentinel
    ok_rows = [v for v in got.values() if v[1]]
    assert ok_rows and all(v[3] > 0 and v[5] > 0 for v in ok_rows)


def test_simhash_null_text_parity_with_duckdb(spark):
    """A corpus containing NULL-text docs (fetch/extract failures):
    the engine must drop them exactly like the DuckDB oracle's
    unnest(string_split(NULL)) does — a (doc_id, NULL) row would fail
    the cross-engine hash on the first real corpus with a dead fetch."""
    import pandas as pd

    from topicalcrawler_spark.analysis import dedup as dd
    from topicalcrawler_spark.queries import _SIMHASH_SQL

    rows = [
        ("d01", "alpha beta gamma"),
        ("d02", None),
        ("d03", "alpha beta gamma"),
        ("d04", ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: r["simhash"] for r in dd.simhash(docs).collect()
    }

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text"]),
    )
    want = dict(con.execute(_SIMHASH_SQL).fetchall())
    assert got == want
    assert "d02" not in got  # the NULL-text doc yields no signature


def test_minhash_lsh_drops_tokenless_docs_before_banding(spark):
    """Round-4 review finding: NULL-text (failed fetch) docs have
    all-NULL minhash signatures, so ALL of them collided into one ''
    band key in EVERY band — a quadratic candidate bucket at scale.
    They must produce no band rows at all (they can never form a true
    pair), and the pair output must be unchanged.  Empty-STRING docs
    are different: they tokenize to {''} (same as the DuckDB oracle's
    string_split) and legitimately keep a signature."""
    from topicalcrawler_spark.analysis import dedup as dd

    rows = [
        ("d01", "alpha beta gamma delta"),
        ("d02", None),
        ("d03", "alpha beta gamma delta"),
        ("d04", ""),
        ("d05", None),
        ("d06", "completely different words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert set(pairs) == {("d01", "d03")}
    assert pairs[("d01", "d03")] == 1.0
    # and the signature filter removed the tokenless docs entirely
    from pyspark.sql import functions as F

    sigs = dd.minhash_signature(docs).filter(
        F.col("sig")[0].isNotNull()
    )
    assert {r["doc_id"] for r in sigs.collect()} == {
        "d01", "d03", "d04", "d06"
    }


def test_qvid_zero_dimension_frames_are_corrupt_sentinel():
    """Round-4 review finding: a container declaring n>0 frames with
    w==0 or h==0 passes the body-length check vacuously (n*0*3 == 0)
    and used to emit NaN frame_mean_luma rows; it must hit the corrupt
    sentinel instead."""
    import struct
    import zlib

    import pytest as _pytest

    from topicalcrawler_spark.analysis.media import (
        QVID_MAGIC,
        _sample_one,
        decode_qvid,
    )

    bad = QVID_MAGIC + struct.pack(">HHHH", 0, 0, 5, 40) + zlib.compress(b"")
    with _pytest.raises(ValueError):
        decode_qvid(bad)
    rows = _sample_one("vid-x", bad, 2)
    assert rows == [("vid-x", -1, -1, 0, 0.0)]


def test_audio_peak_full_scale_negative():
    """Round-4 review finding: np.abs on raw int16 wraps -32768 to
    -32768; the peak of a clip containing full-scale negative samples
    must be 32768, and never negative."""
    import numpy as np

    from topicalcrawler_spark.analysis.media import (
        _audio_features_one,
        encode_qaud,
    )

    payload = encode_qaud(np.array([-32768, 1000], dtype=np.int16))
    row = _audio_features_one("aud-x", payload)
    assert row[1] is True
    assert row[4] == 32768

    payload = encode_qaud(np.array([-32768], dtype=np.int16))
    assert _audio_features_one("aud-y", payload)[4] == 32768


def test_stratified_sample_missing_bucket_raises(spark):
    """Round-4 review finding: an omitted stratum key used to silently
    drop the whole stratum (h_mod < NULL filters everything); it must
    raise instead, with explicit 0 as the opt-out."""
    import pytest as _pytest

    from topicalcrawler_spark.analysis.text import stratified_sample

    docs = spark.createDataFrame(
        [("d1", "x " * 10), ("d2", "y " * 200)], "doc_id string, text string"
    )
    with _pytest.raises(ValueError, match="long"):
        stratified_sample(docs, {"short": 50, "medium": 20})
    # explicit zero excludes the stratum without raising
    got = stratified_sample(
        docs, {"short": 100, "medium": 100, "long": 0}
    ).collect()
    assert {r["bucket"] for r in got} <= {"short", "medium"}


def test_two_stage_topk_equals_single_window(spark):
    """The two-stage per-query top-k (_topk_per_query, the 100-TB-safe
    form: local rank within (query, input partition), then a global
    window over only the survivors) must return EXACTLY the rows and
    ranks of the naive single window it replaced — across k smaller,
    equal, and larger than any candidate group, under a repartition
    that scatters every query's candidates over many partitions."""
    from pyspark.sql.window import Window

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    for k in (1, 10, 10**6):
        got = sim.cosine_topk(emb.repartition(16), queries, k=k)
        # literal single-window reference over the same scored rows
        base = sim.with_norm(emb).select("vec_id", "embedding", "norm")
        scored = (
            base.crossJoin(F.broadcast(sim._with_qnorm(queries)))
            .filter(F.col("vec_id") != F.col("query_id"))
            .withColumn(
                "cosine",
                F.round(
                    sim._dot_expr(F.col("embedding"), F.col("qvec"))
                    / (F.col("norm") * F.col("qnorm")),
                    6,
                ),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("vec_id").asc()
        )
        ref = (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", "cosine", "rnk")
        )
        g = {tuple(r) for r in got.collect()}
        r = {tuple(r) for r in ref.collect()}
        assert g == r, f"k={k}: {len(g ^ r)} differing rows"


def test_jaccard_df_cap_bounds_candidate_volume_under_100x_hot_token(spark):
    """Data-pipeline mirror of the crawl plane's hot-host skew stress
    (round-4 verdict #4): one stop-word-grade token appears in EVERY
    doc (~100x the df of any real token).  The df cap must bound the
    postings self-join's per-token group sizes — candidate volume is
    sum(df^2) over kept tokens — while the VERIFIED pair set stays
    byte-identical to the uncapped exact path (pairs sharing only the
    hot token sit far below any real threshold, so the cap cannot
    change results, only the join's worst key)."""
    from topicalcrawler_spark.analysis import tokens_expr

    n_pairs, cap = 50, 10
    rows = []
    for i in range(n_pairs):
        base = [f"t{i}_{j}" for j in range(9)]
        rows.append((i, " ".join(base + ["hot"])))
        # near-dup twin: one token swapped -> true jaccard 8/11 ≈ 0.727
        rows.append((1000 + i, " ".join(base[:-1] + [f"x{i}", "hot"])))
    for i in range(100):  # singletons sharing ONLY the hot token
        rows.append((2000 + i, f"s{i}_a s{i}_b s{i}_c hot"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n_docs = len(rows)

    capped = sorted(
        map(tuple, dd.jaccard_pairs(docs, threshold=0.7, max_df=cap).collect())
    )
    uncapped = sorted(
        map(tuple, dd.jaccard_pairs(docs, threshold=0.7, max_df=None).collect())
    )
    assert capped == uncapped and len(capped) == n_pairs

    # volume bound: per-token join groups are df^2; the hot token alone
    # is n_docs^2 uncapped, and the cap must remove exactly that class
    dfs = (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokens_expr("text"))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    vol_all = sum(r["df"] ** 2 for r in dfs)
    vol_kept = sum(r["df"] ** 2 for r in dfs if r["df"] <= cap)
    assert vol_all >= n_docs**2  # the skew really is quadratic
    assert vol_kept <= 8 * sum(r["df"] for r in dfs)  # kept: df<=cap<=10


def test_band_join_hot_user_bounded_by_composite_key(spark, tmp_path):
    """Crawl-plane hot-host stress, mirrored onto the J6 band join
    (round-4 scale-audit rewrite): one bot account holds ~100x the
    events of any normal user.  The composite (user, 5-min-bucket) band
    key must bound per-key join groups by in-window activity — NOT the
    bot's whole history — with results identical to the plain range
    predicate (duckdb oracle on the same parquet)."""
    import datetime as dt

    import duckdb
    import pandas as pd

    from topicalcrawler_spark.queries import REGISTRY

    t0 = dt.datetime(2025, 3, 1, 0, 0, 0)
    rows = []
    eid = 0
    for j in range(2000):  # hot user 0: 10s spacing -> <=30 per bucket
        rows.append((eid, t0 + dt.timedelta(seconds=10 * j), 0,
                     "view" if j % 3 else "click", float(j), "{}"))
        eid += 1
    for u in range(1, 51):  # normal users: 20 events each
        for j in range(20):
            rows.append((eid, t0 + dt.timedelta(seconds=97 * j + u), u,
                         "view" if j % 2 else "purchase", float(j), "{}"))
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type",
                       "value", "props"],
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects NANOS
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/events.parquet", index=False)

    q = REGISTRY["event_pairs_band_join"]
    got = sorted(map(tuple, q.fn(spark, sf_dir).collect()))

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = sorted(map(tuple, con.sql(q.sql).fetchall()))
    assert got == want and len(got) > 0

    # boundedness: the largest (user, bucket) group the join can see is
    # in-window activity (x2 for the explode), never the bot's 2000
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    naive_sec = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long") * 86400
        + F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    )
    max_group = (
        ev.groupBy("user_id", F.floor(naive_sec / 300).alias("bkt"))
        .agg(F.count("*").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert max_group <= 30  # vs 2000 on a user_id-only key
    plan = spark._jvm.PythonSQLUtils.explainString(
        q.fn(spark, sf_dir)._jdf.queryExecution(), "simple"
    )
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_build_auto_cells_scale_with_corpus(spark):
    """n_cells=None must sit at the assignment/in-cell balance point:
    8 cells below 2048 vectors — BIT-IDENTICAL to the explicit small-SF
    default, which is what keeps the driver's sf0.01 oracle rows
    unchanged — ceil(n/256) up to the 65 536-vector crossover, and
    ceil(√n) above (both cost terms O(n^1.5·d); constant cell size
    made the assignment GEMM O(n²/256) — the sf100 sweep's 45× IVF
    outlier)."""
    assert [sim.auto_cells(n) for n in (1, 200, 2048, 2049, 20000)] == [
        8, 8, 8, 9, 79,
    ]
    # crossover at target_cell²: both forms equal; √n governs above
    assert sim.auto_cells(65_536) == 256
    assert sim.auto_cells(200_000) == 448      # vs 782 constant-size
    assert sim.auto_cells(2_000_000) == 1415   # vs 7813 constant-size
    assert sim.auto_cells(1415**2) == 1415     # ceil(√n) exact square
    # invariance at the driver's scale: auto == explicit 8, same output
    emb = _emb(spark)
    explicit = sorted(
        map(tuple, sim.ivf_build(emb, n_cells=8, iters=1).collect())
    )
    auto = sorted(
        map(tuple, sim.ivf_build(emb, n_cells=None, iters=1).collect())
    )
    assert auto == explicit and len(auto) > 0


def test_ivf_neardup_bitidentical_subset_and_chunk_invariance(spark):
    """The in-cell scorer (round-5 sf10 rewrite) must emit a subset of
    the exact all-pairs result with BIT-IDENTICAL cosines (same
    ascending-j left fold, same F.round), no multi-probe duplicates,
    recall over the derived gate, and a result independent of the
    chunking that bounds per-cell memory (block small enough to force
    many chunks vs the production default)."""
    emb = _emb(spark)
    cents = sim.ivf_build(emb, n_cells=None, iters=1)
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in sim.cosine_neardup(emb, threshold=0.4).collect()
    }
    got = sim.ivf_neardup(emb, cents, threshold=0.4, nprobe=2).collect()
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in got}
    assert len(pairs) == len(got)  # distinct killed multi-probe dupes
    assert set(pairs) <= set(exact)
    assert all(pairs[k] == exact[k] for k in pairs)  # bit-identical
    assert len(pairs) >= 0.6 * len(exact)
    # tiny block => step=1 per cell (cells are ~hundreds of rows):
    # the multi-chunk path must produce the identical pair set
    chunked = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in sim.ivf_neardup(
            emb, cents, threshold=0.4, nprobe=2, block=1
        ).collect()
    }
    assert chunked == pairs


def test_topn_by_dist_then_idx_matches_stable_argsort():
    """The IVF assignment's O(m) top-n selection must be bit-identical
    to the stable-argsort prefix it replaced (round-5 sf100 finding:
    the full argsort of a 2048x7813 distance block was ~95% of the
    whole assignment pass) — including on engineered exact-float ties,
    where (value, column) lexicographic order is the contract that
    keeps replicated/symmetric corpora assigning identically."""
    import numpy as np

    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(1, 40))
        m = int(rng.integers(1, 30))
        take = int(rng.integers(1, m + 1))
        # quantized values force many exact ties per row
        d2 = rng.integers(0, 4, size=(n, m)).astype(np.float64)
        ref = np.argsort(d2, axis=1, kind="stable")[:, :take]
        got = sim._topn_by_dist_then_idx(d2.copy(), take)
        assert np.array_equal(ref, got)
