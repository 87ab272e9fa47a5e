"""Small statistics the benchmark reports."""

from __future__ import annotations

import math


def tail(latencies: list[float], beyond: int = 10) -> tuple[float, int, int]:
    """The highest whole percentile with at least ``beyond`` operations
    above it, by nearest rank. Returns (value, percentile, sample count).

    With n samples sorted ascending, the P-th percentile is sample
    ``ceil(P * n / 100)`` (1-based). It has ``beyond`` samples above it
    when its rank is at most ``n - beyond``, so P is the largest integer
    with ``ceil(P * n / 100) <= n - beyond``. With ``beyond`` samples or
    fewer no percentile qualifies; the minimum (P = 0) is returned."""
    xs = sorted(latencies)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = n - beyond
    if k < 1:
        return xs[0], 0, n
    p = (100 * k) // n
    rank = max(1, math.ceil(p * n / 100))
    return xs[rank - 1], p, n
