"""Order statistics shared by the benchmark and its unit tests."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    """Median of a non-empty sample."""
    if not values:
        raise ValueError("median of an empty sample")
    return float(statistics.median(values))


def geomean(values: list[float]) -> float:
    """Geometric mean of a non-empty sample of positive values: the
    typical latency of a mix of operations, which, unlike the median,
    does not jump when two operations near the middle swap places."""
    if not values:
        raise ValueError("geometric mean of an empty sample")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them: the run-to-run spread the benchmark is judged by."""
    if len(values) < 2:
        raise ValueError("spread needs at least two values")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / median(values)
