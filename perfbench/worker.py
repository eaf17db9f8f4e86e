"""One benchmark run in one driver process: start Spark, set up, measure,
check, and write the result JSON to ``--out``.  Started by run.py, which
owns the process tree; see run.py for the arguments."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

T_PROCESS = time.monotonic()
T_PROCESS_EPOCH = time.time()

import proctree  # noqa: E402
from probe import SpeedProbe  # noqa: E402
from workloads import ANALYTICS_ENTRIES, WORKLOADS  # noqa: E402

DRIVER_MEM = "3g"


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def run(args) -> dict:
    from topicalcrawler_spark.session import get_spark

    import report
    import tracing

    run_dir = args.run_dir
    os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
    with SpeedProbe(os.path.join(run_dir, "probe")) as probe:
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          cpus=len(os.sched_getaffinity(0)),
                          extra_conf=spark_conf(run_dir, args.trace))
        session_s = time.monotonic() - T_PROCESS
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        # the oracle cache outlives the run directory: it sits beside it
        cache_dir = os.path.join(os.path.dirname(os.path.abspath(run_dir)), "cache")
        wl = WORKLOADS[args.workload](spark, work, args.seed, os.getpid(), cache_dir)
        try:
            one_off_s = wl.setup()
            setup_end = time.time()
            tracer = None
            if args.trace:
                tracer = tracing.Tracer(args.workload)
                targets = (tracing.CRAWL_TARGETS if args.workload == "crawl"
                           else tracing.ANALYTICS_TARGETS)
                tracer.install(targets, spark.sparkContext, report.icelite_hooks())
            steal0 = proctree.steal_s()
            with proctree.RssSampler(os.getpid()) as rss:
                res = wl.run(args.seconds, tracer)
            steal = proctree.steal_s() - steal0
            if tracer is not None:
                tracer.uninstall()
            t_check = time.monotonic()
            wl.check(res)
            check_s = time.monotonic() - t_check
        finally:
            spark.stop()
    e2e = wl.end_to_end(res, probe)
    e2e["setup_s"] = ((session_s + one_off_s) * probe.factor(T_PROCESS_EPOCH, setup_end)
                      + e2e["repeated_setup_s"])
    failed = sum(1 for o in res.ops if not o.ok)
    for f in res.failures:
        print(f"check failed: {f}", file=sys.stderr)
    print(f"session {session_s:.1f} s, one-off set-up {one_off_s:.1f} s, repeated "
          f"set-up {e2e['repeated_setup_s']:.1f} ref-s, measured "
          f"{res.measure_end - res.measure_start:.1f} s, checks {check_s:.1f} s",
          file=sys.stderr)
    print(f"machine speed {e2e['noise.speed']:.3f} of reference; steal during measurement: "
          f"{steal:.2f} core-s; cpu per pass {e2e['cpu_s']:.2f} ref core-s; wall op_s_gmean "
          f"{e2e['raw.op_s_gmean']:.3f} s; {len(res.ops)} ops in {len(res.passes)} passes; "
          f"settings {json.dumps(res.info)}", file=sys.stderr)

    if not args.trace:
        metrics = {k: (e2e[k], unit) for k, unit in E2E_UNITS.items()}
    else:
        logs = [f for f in os.listdir(os.path.join(run_dir, "eventlog"))
                if not f.endswith(".inprogress")]
        evlog = tracing.parse_eventlog(os.path.join(run_dir, "eventlog", logs[0]))
        att = report.Attribution(evlog, tracer.spans, tracer.main_thread,
                                 (res.measure_start, res.measure_end), wl.op_layers)
        values, table = report.per_layer(res, tracer.spans, att, ANALYTICS_ENTRIES,
                                         steal, e2e)
        values["mem.peak_rss_mb"] = rss.peak_mb
        values["noise.speed"] = e2e["noise.speed"]
        values["raw.op_s_gmean"] = e2e["raw.op_s_gmean"]
        tracer.dump(os.path.join(os.path.dirname(os.path.abspath(run_dir)),
                                 f"spans-{args.workload}-{args.seed}.jsonl"))
        print("phase x layer: " + json.dumps(table), file=sys.stderr)
        metrics = {k: (values[k], unit) for k, unit in layer_units(values).items()}
    return {
        "correct": failed == 0 and not res.failures,
        "attempted": len(res.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


E2E_UNITS = {
    "setup_s": "s",
    "op_s_gmean": "s",
    "pass_s": "s",
    "work_per_s": "1/s",
    "cpu_s": "core-s",
}


def layer_units(values: dict) -> dict[str, str]:
    def unit(name: str) -> str:
        if name.endswith("_mb"):
            return "MB"
        if name.endswith(("bytes", "bytes_rewritten")):
            return "B"
        if name.endswith(("_s", ".s", "_s_gmean")):
            return "s"
        if name in ("dedup.new_per_candidate", "trace.attributed_share",
                    "icelite.write_amp", "noise.speed"):
            return "ratio"
        return "count"

    return {k: unit(k) for k in values}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        sys.exit(1)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
