"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a 2-round
synthetic-web crawl throughput measure.

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "crawl": {"urls_per_sec": ..., "fetch_round_wall_s": ...},
   "sf1": {"queries": {...}, ...}}   # round-5 10x tier, separate key

Every component runs best-of-2 in-process reps and reports the per-
component minimum (value = sum of minima); `harness_wall_s` is the raw
wall including discarded reps. Rationale: this VM's bursty hypervisor
steal slows identical plans 3-4x (BASELINE.md "Environment"), and a
burst can only ever slow a run down — minima are the faithful
single-shot estimate. `cpu_steal_core_s` quantifies the noise seen.

Usage: python bench.py            # full headline set
       SPARK_GRAFT_CPUS=8 python bench.py   # scaling-evidence runs
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Linear-cost, shuffle-representative subset of the registry: scans+agg,
# multi-way join, window, band join, streaming-shaped windows, text
# hashing pipelines, vector search, the politeness scheduler.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "window_rank_orders",
    "event_pairs_band_join",
    "tumbling_window_events",
    "session_window_events",
    "simhash_docs",
    "fingerprint_docs",
    "langid_quality_docs",  # round-4 merge of langid_docs + quality_docs
    "embedding_topk_cosine",
    "per_host_topk_schedule",
    "url_canonicalize",
]


# sf1 tier subset (round 5): the heaviest PRODUCTION-path entries from
# the full-registry sf1 sweep (BASELINE.md round-5 table) — scan+agg,
# percentile sort, iterative graph contraction, LSH banding, the
# composite-key band join.  The two entries dominated by their built-in
# O(n²) exact-recall baselines are deliberately excluded: their cost is
# the oracle baseline, not the production plan.
SF1_HEADLINE = [
    "pricing_summary",
    "percentiles_lineitem",
    "dup_components_docs",
    "simhash_neardup_pairs",
    "event_pairs_band_join",
]


def bench_queries(
    spark, sf_dir: str, reps: int = 2, names: list[str] | None = None
) -> dict[str, float]:
    """Per-query best-of-``reps`` wall time.

    Why minima (steal hedge): this VM's documented bursty hypervisor
    steal can slow EVERY query 3-4x with identical code and plans
    (BASELINE.md "Environment"); a burst can only ever slow a run
    down, so the per-query minimum over in-process reps is the
    faithful estimate a single-shot run cannot give. Rep order is
    round-robin (all queries once, then again) so one burst window
    cannot poison the same query in both reps."""
    from topicalcrawler_spark.queries import REGISTRY

    times: dict[str, float] = {}
    for rep in range(reps):
        for name in names if names is not None else HEADLINE:
            fn = REGISTRY[name].fn
            t0 = time.monotonic()
            n = fn(spark, sf_dir).count()  # materialize the full result
            t = round(time.monotonic() - t0, 3)
            times[name] = min(times.get(name, t), t)
            print(f"  {name}[rep{rep}]: {t:.2f}s ({n} rows)", file=sys.stderr)
    return times


def bench_crawl(
    spark, n_seeds: int = 2000, rounds: int = 2, big_budget: int | None = None
) -> dict:
    """Crawl throughput: frontier URLs scheduled+fetched+deduped per
    second over `rounds` rounds of the synthetic web.

    The default 2k-seed config is kept for cross-round comparability
    but is fixed-overhead-dominated (~110 fetches/round against ~10
    Spark jobs of per-round scheduling); pass ``big_budget`` (see
    crawl_large in main) for the fetch-heavy configuration that
    measures actual engine throughput."""
    from topicalcrawler_spark.plans.round import CrawlConfig, run_crawl
    from topicalcrawler_spark.sources import fixtures as fx

    # crawl tables on tmpfs, same rationale as tools/scaling_run.py:
    # this VM's single shared virtual disk has neighbor-dependent write
    # latency (crawl wall-time drifted 10->47 s/round across a day at
    # identical code while the read-mostly queries held steady); on a
    # real cluster storage bandwidth scales with executors. Override
    # with TC_BENCH_ROOT=/tmp to measure the disk-bound variant.
    base = os.environ.get(
        "TC_BENCH_ROOT",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
    )
    root = tempfile.mkdtemp(prefix="tc_bench_", dir=base)
    try:
        seeds = os.path.join(root, "seeds.txt")
        fx.write_seed_file(seeds, n=n_seeds)
        kw = (
            {"default_budget": big_budget, "budget_rows": [], "max_depth": 4}
            if big_budget
            else {}
        )
        cfg = CrawlConfig(root=os.path.join(root, "crawl"), **kw)
        s0 = _steal_ticks()
        t0 = time.monotonic()
        stats = run_crawl(spark, cfg, seeds, rounds=rounds)
        wall = time.monotonic() - t0
        processed = sum(s.get("n_pending", 0) + s.get("n_candidates", 0) for s in stats)
        return {
            "urls_per_sec": round(processed / wall, 1),
            "fetch_round_wall_s": round(wall / rounds, 2),
            "rounds": rounds,
            "n_processed": processed,
            "cpu_steal_core_s": round((_steal_ticks() - s0) / 100, 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bench_sf1(spark) -> dict:
    """Round-5 sf1 tier: the SF1_HEADLINE subset at the derived 10×
    tier (tools/make_sf.py), reported SEPARATELY from the headline
    value so the cross-round sf0.1 comparison stays untouched.  The
    sf1 data is derived deterministically from the driver's sf0.1 on
    first use (~1 min, one-time; gitignored localdata/)."""
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "localdata", "sf1"
        ),
    )
    try:
        # make_sf.build is atomic (temp dir + rename), so an existing
        # directory is always a COMPLETE tier — a crashed build leaves
        # no sf1_dir and is simply retried here next run.
        if not os.path.isdir(sf1_dir):
            from tools.make_sf import build

            t0 = time.monotonic()
            build(sf1_dir)
            print(
                f"  built {sf1_dir} in {time.monotonic() - t0:.0f}s",
                file=sys.stderr,
            )
        s0 = _steal_ticks()
        t0 = time.monotonic()
        q = bench_queries(spark, sf1_dir, names=SF1_HEADLINE)
        return {
            "sf": 1.0,
            "queries": q,
            "value": round(sum(q.values()), 3),
            "harness_wall_s": round(time.monotonic() - t0, 3),
            "cpu_steal_core_s": round((_steal_ticks() - s0) / 100, 1),
        }
    except Exception as e:  # never fail the headline bench on the tier
        return {"err": f"{type(e).__name__}: {e}"[:300]}


def _steal_ticks() -> int:
    """Machine-wide hypervisor-steal ticks (col 9 of /proc/stat) —
    recorded into the output line because this VM's documented bursty
    neighbor can slow every query 3-4x with identical code/plans; the
    number lets any reader judge whether a given run was noisy."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0


def main() -> None:
    from topicalcrawler_spark.session import default_cpus, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    spark = get_spark(app_name="bench", cpus=cpus)
    # warm-up actions so one-time startup doesn't pollute timings:
    # a scan (JVM/codegen) and a trivial Arrow pass (spawns the Python
    # UDF workers — local[N] forks up to N of them on first use)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    spark.range(10_000).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    s0 = _steal_ticks()
    t0 = time.monotonic()
    queries = bench_queries(spark, sf_dir)
    # crawl: best-of-2 by round wall, same steal-hedge rationale
    crawl = min(
        (bench_crawl(spark) for _ in range(2)),
        key=lambda c: c["fetch_round_wall_s"],
    )
    harness_wall = round(time.monotonic() - t0, 3)
    # headline value = steal-hedged wall: sum of per-query minima plus
    # the best crawl run's wall — comparable across rounds because each
    # component is the same work as a single-shot run, just with the
    # burst-poisoned reps discarded. The raw harness wall (all reps,
    # including the discarded ones) is reported alongside.
    total = round(
        sum(queries.values())
        + crawl["fetch_round_wall_s"] * crawl["rounds"],
        3,
    )
    # fetch-heavy throughput config, measured OUTSIDE the comparable
    # headline wall (30k-URL frontier, per-host budgets sized so the
    # rounds actually fetch) — the number that reflects engine
    # throughput rather than tiny-round fixed overhead; sized to keep
    # the whole bench comfortably inside a few minutes even under the
    # documented steal bursts
    crawl_large = min(
        (bench_crawl(spark, n_seeds=30_000, big_budget=1200) for _ in range(2)),
        key=lambda c: c["fetch_round_wall_s"],
    )
    # round-5 sf1 tier — reported alongside, never folded into `value`
    sf1 = bench_sf1(spark)

    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_crawl_wall",
                "value": total,
                "unit": "sec",
                "harness_wall_s": harness_wall,
                "reps": 2,
                "queries": queries,
                "sf": sf,
                "cpus": cpus,
                "crawl": crawl,
                "crawl_large": crawl_large,
                "sf1": sf1,
                "cpu_steal_core_s": round((_steal_ticks() - s0) / 100, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
