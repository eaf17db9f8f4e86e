"""Design-point demonstration: the per-round cost model at the largest
frontier one machine can hold, with the bloom prefilter engaged by its
REAL threshold (not test-forced) in front of the file-probed exact join.

Synthesizes a mature crawl state — a multi-M-row pending frontier and a
seen table of tens of millions of keys — directly as icelite snapshots,
then runs consecutive crawl_rounds with the DEFAULT CrawlConfig
settings and records every phase wall.  It runs at any size; small
sizes (e.g. ``100000 2000 1``) make a quick smoke run.  The claim under
test (BASELINE.md "Design-point cost model"): at steady state no
per-round phase grows O(table) — round r+1 phase walls stay flat while
the seen/frontier tables grow by Δ each round, because
  - the bloom prefilter is file-distributed (probed in place, no
    driver round-trip) and maintained incrementally (O(Δ) after the
    round-1 build),
  - the exact seen anti-join is file-probed (never shuffles the seen
    side),
  - the frontier is an LSM append table (O(Δ) commits + tombstones).

Usage: python tools/designpoint_run.py [n_seen] [n_frontier] [rounds]
                                       [rebuild_every]
Defaults: 60M seen keys, 6M pending frontier rows, 3 rounds, 0 (no
forced bloom rebuild).

Round-5 extension — periodic-maintenance evidence (the last unmeasured
cost-model rows): run with rounds >= 9 so BOTH compaction cadences fire
at their DEFAULT settings mid-run (seen compaction and frontier LSM
compaction both every 8 rounds), and pass a rebuild period K (e.g. 4):
after every K-th round the tool lowers the in-memory bloom record's
capacity below n_seen, so the next round's capacity check fires a full
rebuild at its real cost
(the 50% table growth that trips it naturally cannot be simulated in a
sandbox round).  The tool records per-round maintenance events +
manifest file counts, and asserts each event fired when due, that
seen-table compaction collapsed the file count back to O(n_shards)
without changing row counts, and that post-maintenance steady-state
rounds return to flat phase walls.

Prints ONE JSON line on stdout (per-round progress goes to stderr);
earlier runs' lines are kept in bench_results/*designpoint*.json.
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
    rebuild_every = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    assert n_seen > n_frontier

    from pyspark.sql import functions as F

    from topicalcrawler_spark import icelite
    from topicalcrawler_spark.functions import (
        host_expr,
        relevance_expr,
        url_hash_expr,
    )
    from topicalcrawler_spark.operators.dedup import place_by_shard
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
            # default settings — nothing forced: bloom_min_keys=50k
            # trips at any n_seen past it
            default_budget=400,
            budget_rows=[],
            max_depth=8,
        )

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
        frontier0 = place_by_shard(
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
            .select(*[f.name for f in FRONTIER.fields]),
            cfg.n_shards,
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
        seen0 = place_by_shard(
            icelite.read_snapshot(spark, cfg.table("frontier"))
            .select("url_canon", "url_hash")
            .unionByName(history_keys),
            cfg.n_shards,
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
            if rebuild_every and r % rebuild_every == 0:
                # force the next round's full rebuild
                cap = cfg._dims["bloom"]["capacity"] = -1
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
                "seen compaction (compact_seen_every=8) never fired"
            )
            assert events["frontier_compaction"], (
                "frontier LSM compaction (compact_frontier_every=8) "
                "never fired"
            )
            after = per_round[7]
            assert after["seen_files"] <= cfg.n_shards, after
        if rebuild_every:
            due = list(range(rebuild_every + 1, rounds + 1, rebuild_every))
            assert set(due) <= set(events["bloom_rebuild"]), (
                f"bloom capacity rebuild did not fire in rounds {due}"
            )

        out = {
            "metric": "designpoint_phase_walls",
            "n_seen0": n_seen,
            "n_frontier0": n_frontier,
            "rounds": rounds,
            "crossovers": {"bloom_engaged": n_seen >= cfg.bloom_min_keys},
            "bloom_rebuild_every": rebuild_every,
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
