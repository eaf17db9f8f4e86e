"""Seeded input generators.  The benchmark seed decides every input; the
program under test only ever sees the generated files.

- ``make_seed_urls``: crawl seed URLs with the shape of the engine's
  fixture generator (Zipf host popularity over the synthetic web's
  hosts, dirty spellings, canonical-collision pairs), salted by seed.
  The number of seeds per host is fixed; the seed decides the URLs.
- ``write_tables``: the analytics star schema plus documents and
  embeddings, with the column names, types and value domains the query
  registry reads, small (1,500 orders, 1,000 events, 500 documents and 500
  embeddings): a query's time is mostly the engine's per-query work.
- ``entry_order``: the order of registry entries in one analytics pass.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED_HOSTS = 20  # seeds cover the first 20 hosts, as the fixture seeds do


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Generator for one input stream of a (possibly negative) seed."""
    return np.random.default_rng([seed % 2**63, *stream])


def make_seed_urls(seed: int, n: int) -> list[str]:
    from topicalcrawler_spark.core.synthweb import HOST_WEIGHTS, HOSTS

    rng = _rng(seed, 1)
    w = HOST_WEIGHTS[:SEED_HOSTS] / HOST_WEIGHTS[:SEED_HOSTS].sum()
    # each host gets its Zipf share of the n seeds exactly (largest
    # remainder), so the per-host budgets cap the same amount of work
    # whatever the seed; the seed decides the URLs and their order
    quota = np.floor(w * n).astype(int)
    quota[np.argsort(quota - w * n)[: n - quota.sum()]] += 1
    hosts = rng.permutation(np.repeat(np.arange(SEED_HOSTS), quota))
    urls: list[str] = []
    cleans: dict[int, list[str]] = {}  # host -> its clean URLs so far
    for i, h in enumerate(hosts.tolist()):
        r = rng.random(7)
        prior = cleans.setdefault(h, [])
        if r[5] < 0.10 and prior:
            # a second spelling of an earlier URL of this host: a
            # canonical-form collision pair that dedup must collapse
            clean = prior[int(r[6] * len(prior))]
            urls.append(clean + ("?a=1&b=2" if r[3] < 0.5 else "?b=2&a=1"))
            continue
        clean = f"http://{HOSTS[h]}/s/{seed}-{i:05d}"
        prior.append(clean)
        u = clean
        if r[0] < 0.3:
            rest = u.split("://", 1)[1]
            host, _, tail = rest.partition("/")
            u = f"HTTP://{host.upper()}/{tail}"
        if r[1] < 0.2:
            u = u.replace(".test/", ".test:80/", 1)
        if r[2] < 0.3:
            u += "?b=2&a=1" if r[3] < 0.5 else "?a=1&b=2"
        if r[4] < 0.2:
            u += "#sec"
        urls.append(u)
    return urls


def entry_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    rng = _rng(seed, 2, pass_no + 1)  # pass -1 is the warm-up
    return [names[i] for i in rng.permutation(len(names))]


# ------------------------------------------------------------ analytics

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "large", "blue", "red", "cold", "hot", "old", "new"]
PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _days(rng, lo: datetime, hi: datetime, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, size=n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int) -> None:
    """Write every table the registry scans into ``out_dir``."""
    rng = _rng(seed, 3)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    _write(out_dir, "customer", {
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, 0.0, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) / 10.0, 2),
    })
    order_dates = _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    ship = order_dates[l_order] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(l_num, i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })

    n_ev = 1000
    ts = np.sort(
        np.datetime64(datetime(2024, 1, 1), "us")
        + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    _write(out_dir, "events", {
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # documents: random texts, with a few exact copies and one-word
    # edits so the dedup and near-dup entries find pairs
    n_doc = 500
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.03:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), k)))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    n_vec = 500
    centers = rng.normal(0.0, 0.1, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n_vec)
    vecs = (centers[labels] + rng.normal(0.0, 0.05, (n_vec, EMBED_DIM))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
