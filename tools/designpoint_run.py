"""Design-point demonstration: the per-round cost model at the largest
frontier this sandbox can hold, with BOTH dedup crossovers (bloom
prefilter, file-probed exact join) engaged by their REAL thresholds (not
test-forced).

Synthesizes a mature crawl state — a multi-M-row pending frontier and a
seen table past ``seen_join_file_min_keys`` (50M keys) — directly as
icelite snapshots, then runs consecutive crawl_rounds with the DEFAULT
CrawlConfig thresholds and records every phase wall.  The claim under test (BASELINE.md "Design-point cost
model"): at steady state no per-round phase grows O(table) — round r+1
phase walls stay flat while the seen/frontier tables grow by Δ each
round, because
  - the bloom prefilter is file-distributed (probed in place, no
    driver round-trip) and maintained incrementally (O(Δ) after the
    round-1 build),
  - the exact seen anti-join is file-probed (never shuffles the seen
    side),
  - the frontier is in LSM append mode (O(Δ) commits + tombstones).

Usage: python tools/designpoint_run.py [n_seen] [n_frontier] [rounds]
                                       [bloom_capacity_factor]
Defaults: 60M seen keys, 6M pending frontier rows, 3 rounds, 1.5.

Round-5 extension — periodic-maintenance evidence (the last unmeasured
cost-model rows): run with rounds >= 9 so BOTH compaction cadences fire
at their REAL thresholds mid-run (seen auto-compaction and frontier
LSM compaction both every 8 rounds once the file crossovers are
engaged), and pass a bloom_capacity_factor slightly above 1.0 (e.g.
1.002) so the bloom full rebuild's capacity check trips on real table
growth — the rebuild COST at n_seen keys is factor-independent; only
the trigger ratio is scaled down (50% growth cannot be simulated in a
sandbox round).  The tool records per-round maintenance events +
manifest file counts, and asserts each event fired when due, that
seen-table compaction collapsed the file count back to O(n_shards)
without changing row counts, and that post-maintenance steady-state
rounds return to flat phase walls.

Prints ONE JSON line; the driver-facing copy goes to
bench_results/r5_designpoint_*.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def steal_ticks() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0


def main() -> None:
    n_seen = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000_000
    n_frontier = int(sys.argv[2]) if len(sys.argv) > 2 else 6_000_000
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    bloom_factor = float(sys.argv[4]) if len(sys.argv) > 4 else 1.5
    assert n_seen > n_frontier

    from pyspark.sql import functions as F

    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.functions import (
        host_expr,
        relevance_expr,
        url_hash_expr,
    )
    from topicalcrawler_spark.plans.round import CrawlConfig, crawl_round
    from topicalcrawler_spark.schemas import FRONTIER
    from topicalcrawler_spark.session import get_spark
    from topicalcrawler_spark.sources import fixtures as fx

    spark = get_spark(app_name="designpoint")
    spark.range(10_000).count()  # JVM warm-up

    base = os.environ.get(
        "TC_SCALE_ROOT",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
    )
    root = tempfile.mkdtemp(prefix="tc_designpoint_", dir=base)
    try:
        cfg = CrawlConfig(
            root=os.path.join(root, "crawl"),
            n_shards=32,
            use_bloom=True,            # real thresholds — nothing forced:
            # bloom_min_keys=50k and seen_join_file_min_keys=50M
            # both trip at n_seen=60M
            frontier_mode="append",
            default_budget=400,
            budget_rows=[],
            max_depth=8,
            bloom_capacity_factor=bloom_factor,
        )
        assert n_seen >= cfg.seen_join_file_min_keys

        # --- synthesize the mature crawl state as round-0 snapshots ---
        t_synth = time.monotonic()
        # pending frontier: canonical synthweb URLs (depth 1-3, unique
        # token per row) so robots gating / fetch / link discovery all
        # run the real pipeline
        idc = F.col("id")
        url_canon = F.concat(
            F.lit("http://host-"),
            F.lpad(F.pmod(idc, F.lit(50)).cast("string"), 2, "0"),
            F.lit(".test/p/"),
            F.lpad(F.lower(F.hex(idc)), 12, "0"),
        )
        frontier0 = (
            spark.range(n_frontier)
            .select(
                idc.alias("_id"),
                url_canon.alias("url_canon"),
            )
            .withColumn("url", F.col("url_canon"))
            .withColumn("url_hash", url_hash_expr("url_canon"))
            .withColumn("host", host_expr("url_canon"))
            .withColumn(
                "depth",
                (F.pmod(F.xxhash64(F.col("url_canon"), F.lit(1)), F.lit(3)) + 1
                 ).cast("int"),
            )
            .withColumn("discovery_time", F.lit(fx.T0))
            # dense admission seqs 1..n_frontier (the round.py seq
            # contract: every existing seq <= n_seen, so a round's new
            # links — numbered from base = n_seen — can never collide.
            # The previous 40-bit-hash seqs fed the old tree-path
            # encoding's per-depth multiply until it overflowed int64
            # at round 6 of this very run — the bug that motivated the
            # admission-counter redesign.)
            .withColumn("discovery_seq", (F.col("_id") + 1).cast("long"))
            .withColumn(
                "relevance_q",
                F.pmod(F.xxhash64(F.col("url_canon"), F.lit(2)), F.lit(100_000))
                .cast("long"),
            )
            .withColumn("relevance", relevance_expr("relevance_q"))
            .withColumn("parent_url", F.lit(None).cast("string"))
            .withColumn("round", F.lit(0))
            .withColumn("status", F.lit("pending"))
            .select(*[f.name for f in FRONTIER.fields])
            .repartitionByRange(cfg.n_shards, "url_hash")
        )
        icelite.commit(frontier0, cfg.table("frontier"), 0, mode="replace")
        # seen = frontier keys (admission-time seen, as init_crawl does)
        # + already-fetched history under a disjoint /x/ path space
        history_keys = (
            spark.range(n_seen - n_frontier)
            .select(
                F.concat(
                    F.lit("http://host-"),
                    F.lpad(F.pmod(idc, F.lit(50)).cast("string"), 2, "0"),
                    F.lit(".test/x/"),
                    F.lpad(F.lower(F.hex(idc)), 14, "0"),
                ).alias("url_canon")
            )
            .withColumn("url_hash", url_hash_expr("url_canon"))
        )
        seen0 = (
            icelite.read_snapshot(spark, cfg.table("frontier"))
            .select("url_canon", "url_hash")
            .unionByName(history_keys)
            .repartitionByRange(cfg.n_shards, "url_hash")
        )
        icelite.commit(seen0, cfg.table("seen"), 0, mode="replace")
        synth_wall = round(time.monotonic() - t_synth, 2)

        # --- the measured rounds ---
        per_round = []
        s0 = steal_ticks()
        t0 = time.monotonic()
        prev_capacity = None
        events = {"bloom_rebuild": [], "seen_compaction": [],
                  "frontier_compaction": []}
        for r in range(1, rounds + 1):
            st_r = steal_ticks()
            stats = crawl_round(spark, cfg, r)
            stats["cpu_steal_core_s"] = round((steal_ticks() - st_r) / 100, 1)
            seen_man = icelite.read_manifest(
                cfg.table("seen"), icelite.latest_snapshot_id(cfg.table("seen"))
            )
            fr_man = icelite.read_manifest(
                cfg.table("frontier"),
                icelite.latest_snapshot_id(cfg.table("frontier")),
            )
            stats["n_seen_after"] = seen_man["row_count"]
            stats["seen_files"] = len(seen_man["files"])
            stats["frontier_files"] = len(fr_man["files"])
            # maintenance-event detection: a bloom FULL rebuild re-sizes
            # capacity from the current n_seen (delta-OR keeps it); the
            # frontier compaction replace-commit stamps meta.compacted;
            # seen compaction collapses the manifest file count back to
            # the O(n_shards) target.
            cap = (cfg._dims.get("bloom") or {}).get("capacity")
            stats["bloom_capacity"] = cap
            if prev_capacity is not None and cap != prev_capacity:
                events["bloom_rebuild"].append(r)
            prev_capacity = cap
            if (fr_man.get("meta") or {}).get("compacted"):
                events["frontier_compaction"].append(r)
            if r % 8 == 0 and stats["seen_files"] <= cfg.n_shards:
                events["seen_compaction"].append(r)
            per_round.append(stats)
            print(f"  round {r}: {json.dumps(stats)}", file=sys.stderr)
        wall = round(time.monotonic() - t0, 2)

        # invariants: row counts grow exactly by each round's delta,
        # and maintenance fired when due
        for i, st in enumerate(per_round):
            expect = (n_seen if i == 0 else per_round[i - 1]["n_seen_after"])
            assert st["n_seen_after"] == expect + st["n_new"], st
        if rounds >= 8:
            assert events["seen_compaction"], (
                "seen auto-compaction (every 8 rounds past the file "
                "crossover) never fired"
            )
            assert events["frontier_compaction"], (
                "frontier LSM compaction (compact_frontier_every=8) "
                "never fired"
            )
            after = per_round[7]
            assert after["seen_files"] <= cfg.n_shards, after
        if bloom_factor < 1.01 and rounds >= 3:
            assert events["bloom_rebuild"], (
                "bloom capacity rebuild never fired despite the "
                "lowered capacity factor"
            )

        out = {
            "metric": "designpoint_phase_walls",
            "n_seen0": n_seen,
            "n_frontier0": n_frontier,
            "rounds": rounds,
            "crossovers": {
                "bloom_engaged": n_seen >= cfg.bloom_min_keys,
                "seen_join_file_threshold": cfg.seen_join_file_min_keys,
                "seen_join_file_engaged": n_seen >= cfg.seen_join_file_min_keys,
                "frontier_mode": cfg.frontier_mode,
            },
            "bloom_capacity_factor": bloom_factor,
            "maintenance_events": events,
            "synth_wall_s": synth_wall,
            "rounds_wall_s": wall,
            "cpu_steal_core_s": round((steal_ticks() - s0) / 100, 1),
            "per_round": per_round,
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
