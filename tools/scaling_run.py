"""One scaling-evidence run: a large-frontier crawl at one parallelism
level. tools/submit_scaling.sh runs it once per level through
``spark-submit --py-files`` (fresh JVM each, same input) — the
single-node proxy for the north-rule's N vs 4N executor criterion
(SURVEY.md §5.5).

Prints one JSON line: {"cpus": N, "n_urls": ..., "rounds": ...,
"wall_s": ..., "urls_per_sec": ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from topicalcrawler_spark.session import default_cpus, get_spark

    cpus = int(sys.argv[1]) if len(sys.argv) > 1 else default_cpus()
    n_urls = int(sys.argv[2]) if len(sys.argv) > 2 else 300_000
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    from topicalcrawler_spark.plans.round import CrawlConfig, run_crawl
    from topicalcrawler_spark.sources import fixtures as fx

    spark = get_spark(app_name=f"scaling-{cpus}", cpus=cpus)
    spark.range(10_000).count()  # JVM warm-up

    # Crawl tables on tmpfs by default: this VM has ONE shared disk,
    # so at higher core counts the round becomes write-bound — an
    # artifact a real cluster doesn't have (distributed storage
    # bandwidth scales with executor count). tmpfs gives IO that
    # scales with cores, which is the right single-node proxy for the
    # N-vs-4N comparison. Override with TC_SCALE_ROOT=/tmp to measure
    # the disk-bound variant.
    base = os.environ.get(
        "TC_SCALE_ROOT",
        "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir(),
    )
    root = tempfile.mkdtemp(prefix=f"tc_scale_{cpus}_", dir=base)
    try:
        seeds = os.path.join(root, "seeds.txt")
        fx.write_seed_file(seeds, n=n_urls)
        # budgets sized so successive rounds fetch comparable volumes
        # (steady state); round 1 additionally pays python-worker
        # spawn + JIT warmup, so efficiency is computed on rounds>=2
        cfg = CrawlConfig(
            root=os.path.join(root, "crawl"),
            default_budget=max(n_urls // 40, 1000),
            budget_rows=[],
            max_depth=4,
        )
        def steal_jiffies() -> int:
            """Steal on exactly OUR pinned cores (taskset affinity) —
            the whole-machine counter overstates our exposure 32x on a
            1-core run and makes runs incomparable."""
            try:
                aff = os.sched_getaffinity(0)
                total = 0
                with open("/proc/stat") as f:
                    for ln in f:
                        if ln.startswith("cpu") and not ln.startswith("cpu "):
                            p = ln.split()
                            if int(p[0][3:]) in aff:
                                total += int(p[8])
                return total
            except Exception:
                return 0

        n_pinned = max(len(os.sched_getaffinity(0)), 1)
        st0 = steal_jiffies()
        t0 = time.monotonic()
        stats = run_crawl(spark, cfg, seeds, rounds=rounds)
        wall = time.monotonic() - t0
        # hypervisor CPU-steal during the run (jiffies ~= 10ms of one
        # core): this sandbox has a bursty noisy neighbor — recorded so
        # throughput numbers can be judged against it
        steal_s = (steal_jiffies() - st0) / 100.0

        def throughput(ss):
            done = sum(s.get("n_fetched", 0) + s.get("n_candidates", 0) for s in ss)
            t = sum(s.get("wall_s", 0) for s in ss)
            return round(done / t, 1) if t else 0.0

        steady = [s for s in stats if s["round"] >= 2] or stats
        print(
            json.dumps(
                {
                    "cpus": cpus,
                    "n_urls": n_urls,
                    "rounds": rounds,
                    "wall_s": round(wall, 2),
                    "urls_per_sec": throughput(stats),
                    "steady_urls_per_sec": throughput(steady),
                    "steady_round_wall_s": round(
                        sum(s["wall_s"] for s in steady) / len(steady), 2
                    ),
                    "cpu_steal_s": round(steal_s, 1),
                    "pinned_cores": n_pinned,
                    "steal_frac": round(steal_s / (wall * n_pinned), 4),
                    "per_round": [
                        {k: s.get(k) for k in ("round", "n_pending", "n_fetched",
                                               "n_candidates", "wall_s", "phases")}
                        for s in stats
                    ],
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
