"""Order statistics shared by the workloads and the result line."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values) -> tuple[float, float, int] | None:
    """Highest percentile with at least ``TAIL_MIN_BEYOND`` samples beyond
    it: returns (value, percentile, sample count), or None when the sample
    is too small to have one."""
    xs = sorted(values)
    n = len(xs)
    if n <= TAIL_MIN_BEYOND:
        return None
    i = n - TAIL_MIN_BEYOND - 1
    return float(xs[i]), 100.0 * (i + 1) / n, n
