"""Percentiles and spreads as the benchmark reports them."""

from __future__ import annotations

import math
import statistics

# a tail percentile is reported only when at least this many samples lie
# beyond it; fewer make it one or two unlucky statements
MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q``-quantile of ``n``."""
    return n - math.ceil(q * n)


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile, or None when fewer than MIN_BEYOND
    samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(values)[max(0, math.ceil(q * n) - 1)]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def rel_spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf
