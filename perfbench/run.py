"""Benchmark entry point.  Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Workloads: ``crawl`` and ``analytics`` (see workloads.py and README.md).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` a separate
traced run's per-layer metrics.  The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}.

The run happens in a child process started in its own session, so that
every process it leaves behind (the JVM, Python workers) can be found,
stopped and waited for.  Everything is written under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl", "analytics")
CHILD_TIMEOUT_S = 150  # plus up to 20 s to stop what is left


def session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] = state, fields[3] = session id; zombies are reaped
        # by their parent, not by us
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def stop_session(sid: int) -> None:
    """Terminate, then kill, every process left in the session, and wait
    until none remain."""
    for sig, grace_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace_s
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} did not exit")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "topicalcrawler_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that contains "
              "topicalcrawler_spark/", file=sys.stderr)
        return 2

    run_dir = os.path.join(root, ".perfbench_work",
                           f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root,
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--run-dir", run_dir, "--out", out]
    # the child's output goes to our stderr: our stdout carries only the result
    child = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                             start_new_session=True)
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        rc = None
    finally:
        stop_session(child.pid)
        if child.poll() is None:
            child.wait()
    try:
        if rc != 0 or not os.path.exists(out):
            print(f"perfbench: run failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
