"""The benchmark's workloads.  Each is a closed loop with one client: the
next crawl round or query starts only after the previous one returned.

``crawl``: fresh crawls from seeded seed URLs, run in the design-point
configuration with its crossovers forced on at this size (LSM append
frontier with tombstones, file-distributed bloom, file-probed seen
anti-join, seen and frontier compaction every round).  A pass is
one crawl of ``CRAWL_ROUNDS`` rounds on a freshly initialised crawl root,
so every pass does the same work.  Checked against the pure-Python
oracle crawler.

``analytics``: a pass runs one registry entry per module family, in a
seed-permuted order, over seeded tables.  Checked against each entry's
DuckDB oracle SQL.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import sys
import time

import gen
import proctree
from stats import geomean, median

# CrawlConfig settings.  Applied filtered to the dataclass's current
# fields, so a change that deletes a knob or mode does not have to edit
# the benchmark; the settings actually applied are reported.
CRAWL_SETTINGS = {
    "n_shards": 4,
    "max_depth": 4,
    "default_budget": 60,
    "budget_rows": [],
    "use_bloom": True,
    "bloom_min_keys": 0,
    "bloom_file_min_keys": 0,
    "seen_join_file_min_keys": 0,
    "frontier_mode": "append",
    # every round is a maintenance round: one round per pass is all a run
    # can afford, and it should compact both tables
    "compact_seen_every": 1,
    "compact_frontier_every": 1,
}
CRAWL_SEEDS = 1000
CRAWL_ROUNDS = 1

# registry entries of one analytics pass, by the module family doing the
# work.  The crawl-side entries are left to the crawl workload; the
# streaming entry is left out because its cold start alone costs about 8 s
# of every run.
ANALYTICS_ENTRIES = {
    "pricing_summary": "sql",
    "percentiles_lineitem": "operators_stats",
    "simhash_docs": "analysis_dedup",
    "embedding_topk_cosine": "analysis_similarity",
    "langid_quality_docs": "analysis_text",
    "av_media_sample": "analysis_media",
}
TABLE_BUILDS = 3  # setup repetitions; setup_s reports their median


@dataclasses.dataclass
class Op:
    """One measured operation: a crawl round or a registry query."""

    name: str
    pass_no: int
    start: float  # epoch seconds
    wall_s: float
    ref_s: float = 0.0  # wall_s in reference seconds (probe.py)
    ok: bool = True
    maintenance: bool = False
    stats: dict = dataclasses.field(default_factory=dict)
    error: str = ""


@dataclasses.dataclass
class Pass:
    start: float  # epoch seconds
    end: float
    cpu_s: float  # process-tree CPU over the pass


@dataclasses.dataclass
class Result:
    ops: list[Op] = dataclasses.field(default_factory=list)
    passes: list[Pass] = dataclasses.field(default_factory=list)
    # repeated input set-ups, as (epoch start, wall seconds)
    setups: list[tuple[float, float]] = dataclasses.field(default_factory=list)
    measure_start: float = 0.0
    measure_end: float = 0.0
    failures: list[str] = dataclasses.field(default_factory=list)
    info: dict = dataclasses.field(default_factory=dict)


def end_to_end(res: Result, probe, work: float) -> dict:
    """The end-to-end metrics in reference seconds, ``work`` being the
    units of work of the ok ops.  Also the plain wall-clock op_s_gmean and
    the machine speed during the measured section (1.0 = reference)."""
    for o in res.ops:
        o.ref_s = o.wall_s * probe.factor(o.start, o.start + o.wall_s)
    ok = [o for o in res.ops if o.ok]
    return {
        "raw.op_s_gmean": geomean([o.wall_s for o in ok]),
        "noise.speed": probe.factor(res.measure_start, res.measure_end),
        "op_s_gmean": geomean([o.ref_s for o in ok]),
        "pass_s": median([sum(o.ref_s for o in res.ops if o.pass_no == k)
                          for k in range(len(res.passes))]),
        "work_per_s": work / sum(o.ref_s for o in ok),
        "cpu_s": median([p.cpu_s * probe.factor(p.start, p.end) for p in res.passes]),
        "repeated_setup_s": median([w * probe.factor(t, t + w) for t, w in res.setups]),
    }


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
        h.update(b"\n")
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


# ------------------------------------------------------------------ crawl


class Crawl:
    name = "crawl"
    op_layers = {"round"}

    def __init__(self, spark, work: str, seed: int, pid: int, cache_dir: str):
        from topicalcrawler_spark.plans.round import CrawlConfig

        self.spark, self.work, self.seed, self.pid = spark, work, seed, pid
        self.cache_dir = cache_dir
        fields = {f.name for f in dataclasses.fields(CrawlConfig)}
        self.applied = {k: v for k, v in CRAWL_SETTINGS.items() if k in fields}

    def config(self, root: str):
        from topicalcrawler_spark.plans.round import CrawlConfig

        return CrawlConfig(root=root, **self.applied)

    def setup(self) -> float:
        """Writes the seed file.  There is no warm-up round: the measured
        round is the first of the session, run right after its
        ``init_crawl``, as a crawl job started from scratch runs it."""
        t0 = time.monotonic()
        self.seeds_path = os.path.join(self.work, "seeds.txt")
        self.seed_urls = gen.make_seed_urls(self.seed, CRAWL_SEEDS)
        with open(self.seeds_path, "w") as f:
            f.write("\n".join(self.seed_urls) + "\n")
        return time.monotonic() - t0

    def _manifest(self, cfg, table: str):
        from topicalcrawler_spark import icelite

        snap = icelite.latest_snapshot_id(cfg.table(table))
        return icelite.read_manifest(cfg.table(table), snap) if snap else None

    def _round_checks(self, cfg, r: int, n_seen_before: int, st: dict) -> tuple[bool, list[str]]:
        """Invariants of one round, read from the icelite manifests:
        seen grows by exactly n_new, a compaction keeps row counts, no
        image fails verification.  Returns (maintenance_round, errors)."""
        from topicalcrawler_spark import icelite

        errs = []
        if st.get("n_verify_failed", 0) != 0:
            errs.append(f"round {r}: {st['n_verify_failed']} images failed verification")
        seen = self._manifest(cfg, "seen")
        st["seen_files"] = len(seen["files"])
        if seen["row_count"] != n_seen_before + st.get("n_new", 0):
            errs.append(f"round {r}: seen {seen['row_count']} != {n_seen_before} + {st.get('n_new')}")
        maint = False
        if seen["meta"].get("compacted") and seen["round"] == r:
            maint = True
            parent = icelite.read_manifest(cfg.table("seen"), seen["parent_id"])
            if parent["row_count"] != seen["row_count"]:
                errs.append(f"round {r}: seen compaction changed rows")
        fr = self._manifest(cfg, "frontier")
        if fr["meta"].get("compacted") and fr["round"] == r:
            maint = True
            parent = icelite.read_manifest(cfg.table("frontier"), fr["parent_id"])
            fetched = self._manifest(cfg, "fetched")
            tomb = icelite.read_manifest(cfg.table("fetched"), fetched["parent_id"])
            if fr["row_count"] != parent["row_count"] - tomb["row_count"]:
                errs.append(f"round {r}: frontier compaction changed pending rows")
        return maint, errs

    def run(self, seconds: float, tracer=None) -> Result:
        from topicalcrawler_spark.plans.round import crawl_round, init_crawl

        res = Result(measure_start=time.time())
        self.roots = []
        t_start = time.monotonic()
        pass_no = 0
        while time.monotonic() - t_start < seconds:
            root = os.path.join(self.work, f"pass-{pass_no}")
            cfg = self.config(os.path.join(root, "crawl"))
            start, t0 = time.time(), time.monotonic()
            init_crawl(self.spark, cfg, self.seeds_path)
            res.setups.append((start, time.monotonic() - t0))
            pass_start, cpu0 = time.time(), proctree.tree_cpu_s(self.pid)
            for r in range(1, CRAWL_ROUNDS + 1):
                n_seen = self._manifest(cfg, "seen")["row_count"]
                span = tracer.open("round.crawl_round", "round") if tracer else None
                t0 = time.monotonic()
                start = time.time()
                try:
                    st = crawl_round(self.spark, cfg, r)
                except Exception as e:  # a failed round ends its pass
                    res.ops.append(Op(f"round{r}", pass_no, start,
                                      time.monotonic() - t0, ok=False, error=repr(e)))
                    res.failures.append(f"pass {pass_no} round {r}: {e!r}")
                    break
                finally:
                    if span:
                        tracer.close(span)
                wall = time.monotonic() - t0
                maint, errs = self._round_checks(cfg, r, n_seen, st)
                res.failures += errs
                res.ops.append(Op(f"round{r}", pass_no, start, wall, ok=not errs,
                                  maintenance=maint, stats=st))
                print(json.dumps({"pass": pass_no, "round": r, "wall_s": round(wall, 3),
                                  "maintenance": maint, **st}), file=sys.stderr)
                if span:
                    t = span.start
                    for phase, dt in st.get("phases", {}).items():
                        tracer.add_child(span, f"phase.{phase}", "round", t, t + dt)
                        t += dt
            res.passes.append(Pass(pass_start, time.time(),
                                   proctree.tree_cpu_s(self.pid) - cpu0))
            self.roots.append(root)
            pass_no += 1
        res.measure_end = time.time()
        res.info = {"settings": self.applied,
                    "seeds": CRAWL_SEEDS, "rounds_per_pass": CRAWL_ROUNDS}
        return res

    # ------------------------------------------------------ checks

    def _oracle_digests(self) -> dict:
        """Trace and seen-set digests of the pure-Python oracle crawler
        for this seed and configuration, cached per (seed, config)."""
        key = hashlib.sha256(json.dumps(
            [self.seed, CRAWL_SEEDS, CRAWL_ROUNDS, self.applied], sort_keys=True,
            default=str).encode()).hexdigest()[:16]
        cache = os.path.join(self.cache_dir, f"oracle-{key}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                return json.load(f)
        from tests.oracle_crawler import crawl

        kw = {k: self.applied[k] for k in ("max_depth", "default_budget", "budget_rows")
              if k in self.applied}
        trace, seen = crawl(self.seed_urls, CRAWL_ROUNDS, **kw)
        out = {
            "trace": _digest((t["round"], t["trace_seq"], t["url_canon"], t["host"],
                              t["depth"], t["relevance_q"], t["discovery_seq"],
                              t["status"], t["image_id"]) for t in trace),
            "seen": _digest((u,) for u in sorted(seen)),
        }
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, cache)
        return out

    def check(self, res: Result) -> None:
        """Each pass's trace and seen set must equal the oracle's."""
        from topicalcrawler_spark.plans.round import read_seen, read_trace

        want = self._oracle_digests()
        for pass_no, root in enumerate(self.roots):
            cfg = self.config(os.path.join(root, "crawl"))
            trace = read_trace(self.spark, cfg).select(
                "round", "trace_seq", "url_canon", "host", "depth", "relevance_q",
                "discovery_seq", "status", "image_id").collect()
            seen = sorted(r.url_canon for r in read_seen(self.spark, cfg).collect())
            bad = []
            if _digest(trace) != want["trace"]:
                bad.append("trace")
            if _digest((u,) for u in seen) != want["seen"]:
                bad.append("seen set")
            if bad:
                res.failures.append(f"pass {pass_no}: {' and '.join(bad)} differ from the oracle")
                for op in res.ops:
                    if op.pass_no == pass_no:
                        op.ok = False
        res.info["stored_bytes"] = [dir_bytes(r) for r in self.roots]

    def end_to_end(self, res: Result, probe) -> dict:
        rounds = [o for o in res.ops if o.ok]
        work = sum(o.stats.get("n_fetched", 0) + o.stats.get("n_candidates", 0)
                   for o in rounds)
        return end_to_end(res, probe, work)


# -------------------------------------------------------------- analytics


class Analytics:
    name = "analytics"
    op_layers = {"query"}

    def __init__(self, spark, work: str, seed: int, pid: int, cache_dir: str):
        self.spark, self.work, self.seed, self.pid = spark, work, seed, pid

    def setup(self) -> float:
        """Builds the tables TABLE_BUILDS times (the median build time
        goes into setup_s), then runs one unmeasured warm-up pass."""
        self.builds = []
        for k in range(TABLE_BUILDS):
            d = os.path.join(self.work, f"tables-{k}")
            start, t0 = time.time(), time.monotonic()
            gen.write_tables(d, self.seed)
            self.builds.append((start, time.monotonic() - t0))
            if k:
                shutil.rmtree(os.path.join(self.work, f"tables-{k - 1}"))
        self.tables = d
        t0 = time.monotonic()
        self._pass(-1, None, None)
        return time.monotonic() - t0

    def _pass(self, pass_no: int, res: Result | None, tracer) -> list[tuple]:
        from topicalcrawler_spark.queries import REGISTRY
        from tools.check_oracle import to_rows

        out = []
        for name in gen.entry_order(list(ANALYTICS_ENTRIES), self.seed, pass_no):
            span = tracer.open(f"query.{name}", "query") if tracer else None
            start, t0 = time.time(), time.monotonic()
            try:
                df = REGISTRY[name].fn(self.spark, self.tables)
                rows, cols = df.collect(), df.columns
                ok, err = True, ""
            except Exception as e:
                ok, err, rows, cols = False, repr(e), [], []
            finally:
                if span:
                    tracer.close(span)
            wall = time.monotonic() - t0
            if res is not None:
                res.ops.append(Op(name, pass_no, start, wall, ok=ok, error=err,
                                  stats={"rows": len(rows)}))
                if not ok:
                    res.failures.append(f"pass {pass_no} {name}: {err}")
            out.append((name, to_rows(cols, [tuple(r) for r in rows]) if ok else None))
        return out

    def run(self, seconds: float, tracer=None) -> Result:
        res = Result(setups=self.builds, measure_start=time.time())
        self.results = []
        t_start = time.monotonic()
        pass_no = 0
        while time.monotonic() - t_start < seconds:
            pass_start, cpu0 = time.time(), proctree.tree_cpu_s(self.pid)
            self.results.append(dict(self._pass(pass_no, res, tracer)))
            res.passes.append(Pass(pass_start, time.time(),
                                   proctree.tree_cpu_s(self.pid) - cpu0))
            pass_no += 1
        res.measure_end = time.time()
        res.info = {"entries": ANALYTICS_ENTRIES}
        return res

    def check(self, res: Result) -> None:
        """Pass 0 must equal DuckDB running each entry's oracle SQL over
        the same files; every later pass must equal pass 0."""
        import duckdb

        from topicalcrawler_spark.queries import oracle_sql
        from tools.check_oracle import TABLES, to_rows

        sqls = oracle_sql()
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            want = {}
            for name in ANALYTICS_ENTRIES:
                r = con.sql(sqls[name])
                want[name] = to_rows(r.columns, r.fetchall())
        finally:
            con.close()
        for op in res.ops:
            got = self.results[op.pass_no].get(op.name)
            if op.ok and got != want[op.name]:
                op.ok = False
                res.failures.append(f"pass {op.pass_no} {op.name}: rows differ from the oracle")

    def end_to_end(self, res: Result, probe) -> dict:
        ok = [o for o in res.ops if o.ok]
        return end_to_end(res, probe, len(ok))


WORKLOADS = {"crawl": Crawl, "analytics": Analytics}
