"""Process-tree CPU and memory, and hypervisor steal, read from /proc.

A Spark run is one driver Python process, the JVM it launches, and the
JVM's Python worker daemon with its forked workers.  CPU and RSS are
summed over that whole tree, so work moved between the JVM and the
Python workers still shows.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may contain spaces; split after it
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including children that
    already exited and were reaped inside it (cutime/cstime)."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICKS


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += int(fields[21]) * _PAGE  # rss in pages
    return total / 2**20


def steal_s() -> float:
    """Hypervisor steal on the cores this process may run on, in
    core-seconds since boot (the per-CPU lines of /proc/stat)."""
    cores = os.sched_getaffinity(0)
    ticks = 0
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu") and not line.startswith("cpu "):
                parts = line.split()
                if int(parts[0][3:]) in cores:
                    ticks += int(parts[8])
    return ticks / _TICKS


class RssSampler:
    """Samples the tree's RSS on a background thread and keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
