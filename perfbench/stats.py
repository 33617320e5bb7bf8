"""Order statistics the benchmark reports.

Timings are reported as a median plus the highest percentile that still
has at least ten samples beyond it, so a tail figure is never read off a
handful of points.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float] | None:
    """(value, percentile) of the highest nearest-rank percentile with at
    least ``beyond`` samples above it, or None when there are too few.

    With n sorted samples the value at rank k (1-based) has n - k samples
    beyond it, so the highest admissible rank is n - beyond."""
    n = len(xs)
    k = n - beyond
    if k < 1:
        return None
    return sorted(xs)[k - 1], 100.0 * k / n


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ``ys`` against ``xs``; 0 when undefined."""
    n = len(xs)
    if n < 2:
        return 0.0
    mx = sum(xs) / n
    my = sum(ys) / n
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den

