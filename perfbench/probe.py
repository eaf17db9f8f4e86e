"""Machine-speed probe.

This box shares its physical cores with other tenants, and how fast a
core runs changes by up to a third from one second to the next (without
any hypervisor steal being reported).  Run-to-run spread of plain wall
times is then wider than any useful regression bound.  So every timed
metric is also measured in *reference seconds*: the wall time scaled by
how fast the machine ran while it was measured.

One probe process per usable core, pinned to it and scheduled real-time
(``SCHED_FIFO``, so the benchmarked program never delays it), times a
fixed pure-Python loop every ``PERIOD_S`` seconds and appends
``<epoch> <seconds>`` lines to a file.  ``SpeedProbe.factor(lo, hi)`` is
``REF_LOOP_S`` over the mean loop time of the samples in the window: 1.0
when the machine ran at the reference speed, below 1 when it ran slower.

Run as a script (``probe.py <cpu> <out>``) by ``SpeedProbe``.
"""

from __future__ import annotations

import bisect
import os
import signal
import subprocess
import sys
import time

LOOP_N = 5000
PERIOD_S = 0.05
# about the loop time of LOOP_N iterations on an idle core of a 4-vCPU
# Xeon VM with CPython 3.11: a fixed scale, so that reference seconds
# read close to wall seconds there
REF_LOOP_S = 0.0005
MIN_WINDOW_S = 2.0  # shorter windows are widened around their middle


def _loop() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(LOOP_N):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _run(cpu: int, out: str) -> None:
    os.sched_setaffinity(0, {cpu})
    try:
        os.sched_setscheduler(0, os.SCHED_FIFO, os.sched_param(1))
    except PermissionError:
        print(f"probe: no real-time priority on cpu {cpu}; "
              "reference seconds include the benchmark's own load", file=sys.stderr)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(0))
    with open(out, "w", buffering=1) as f:
        while True:
            d = _loop()
            f.write(f"{time.time():.4f} {d:.7f}\n")
            time.sleep(PERIOD_S)


class SpeedProbe:
    """Probe processes on every core this process may use, for the life
    of a ``with`` block.  On exit it stops them and reads their samples."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.procs: list[subprocess.Popen] = []
        self._times: list[float] = []  # sample epochs of all cores, sorted
        self._loops: list[float] = []  # their loop seconds

    def __enter__(self) -> SpeedProbe:
        os.makedirs(self.out_dir, exist_ok=True)
        for cpu in sorted(os.sched_getaffinity(0)):
            self.procs.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), str(cpu),
                 os.path.join(self.out_dir, f"probe-{cpu}.txt")]))
        return self

    def __exit__(self, *exc) -> None:
        for p in self.procs:
            p.terminate()
        for p in self.procs:
            p.wait()
        rows = []
        for fn in os.listdir(self.out_dir):
            with open(os.path.join(self.out_dir, fn)) as f:
                for line in f:
                    parts = line.split()
                    if len(parts) == 2:  # the last line may be cut short
                        rows.append((float(parts[0]), float(parts[1])))
        rows.sort()
        self._times = [t for t, _ in rows]
        self._loops = [d for _, d in rows]

    def factor(self, lo: float, hi: float) -> float:
        """Machine speed over the epoch window [lo, hi], relative to the
        reference machine.  Valid once the ``with`` block has ended."""
        if hi - lo < MIN_WINDOW_S:
            mid = (lo + hi) / 2
            lo, hi = mid - MIN_WINDOW_S / 2, mid + MIN_WINDOW_S / 2
        a = bisect.bisect_left(self._times, lo)
        b = bisect.bisect_right(self._times, hi)
        if b <= a:
            raise RuntimeError(f"no speed probe samples in [{lo:.1f}, {hi:.1f}]")
        return REF_LOOP_S * (b - a) / sum(self._loops[a:b])

if __name__ == "__main__":
    _run(int(sys.argv[1]), sys.argv[2])
