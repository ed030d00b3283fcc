"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math

# Tail percentiles tried from the highest down; the tail is the highest
# one that leaves at least TAIL_BEYOND samples above it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest ladder percentile with at
    least ``TAIL_BEYOND`` samples strictly beyond its rank. With too
    few samples for any ladder step (under 40), the maximum is reported
    as p100: a lower percentile would sit at or below the median."""
    n = len(values)
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= TAIL_BEYOND:
            return pct, percentile(values, pct)
    return 100.0, max(values)

