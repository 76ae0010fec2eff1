"""Order statistics shared by the runner and the steadiness report."""

from __future__ import annotations

import math
import statistics

#: a tail percentile needs at least this many samples beyond it
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile p with at least ``TAIL_MIN_BEYOND`` of
    ``n`` samples beyond it under the nearest-rank rule, i.e. the
    largest p with ``n - ceil(p * n / 100) >= 10``; None when n is too
    small for any (n <= 10)."""
    p = 100 * (n - TAIL_MIN_BEYOND) // n if n > TAIL_MIN_BEYOND else 0
    while p > 0 and n - math.ceil(p * n / 100) < TAIL_MIN_BEYOND:
        p -= 1
    return p or None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs) / 100) - 1)]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def drift(values: list[float]) -> float | None:
    """Change of the median from the first to the second half of a
    series, as a share of the first half's median: a warm-up trend
    inside a run shows here before it shows as run-to-run noise."""
    h = len(values) // 2
    if h < 2:
        return None
    a, b = statistics.median(values[:h]), statistics.median(values[h:])
    return (b - a) / a if a else None
