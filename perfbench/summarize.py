"""Medians and quartiles of a metric across runs.

    python3 perfbench/summarize.py results.jsonl [more.jsonl ...]

Each input line is the result object a run prints last (lines that are not
one are skipped, so a captured stdout works as is).  Prints, per metric,
the number of runs, the median, the quartiles as ``statistics.quantiles(n=4)``
gives them, and their distance as a share of the median: the spread a
regression bound is judged against.  Runs with ``correct`` false are
counted and left out.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartile_spread  # noqa: E402


def load(paths: list[str]) -> tuple[list[dict], int]:
    ok, bad = [], 0
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    r = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if not isinstance(r, dict) or "metrics" not in r:
                    continue
                if r["correct"]:
                    ok.append(r)
                else:
                    bad += 1
    return ok, bad


def main(paths: list[str]) -> None:
    runs, bad = load(paths)
    print(f"{len(runs)} correct runs, {bad} incorrect")
    if len(runs) < 2:
        return
    print(f"{'metric':34s} {'unit':8s} {'n':>3s} {'median':>12s} {'q1':>12s} {'q3':>12s} spread")
    for name, m in runs[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        med = median(vals)
        spread = f"{quartile_spread(vals):.3f}" if med else "-"
        print(f"{name:34s} {m['unit']:8s} {len(vals):3d} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread}")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
