"""Order statistics with the benchmark's reporting rule.

A median is the central estimate of a repeated measurement and is
always reported, with its sample count. A higher percentile is
reported only when at least ``MIN_BEYOND`` samples lie beyond it;
otherwise it is ``None`` — a p90 over eight triggers is the maximum in
disguise, and reporting it as a p90 would overstate what was seen.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def supported(n: int, q: float) -> bool:
    """True when a ``q``-th percentile (0-100) of ``n`` samples has at
    least MIN_BEYOND samples above it."""
    return q <= 50 or math.floor(n * (100 - q) / 100) >= MIN_BEYOND


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-th percentile, or None when the sample does
    not support it (see module docstring)."""
    n = len(values)
    if n == 0 or not supported(n, q):
        return None
    if q == 50:
        return median(values)
    s = sorted(values)
    return s[min(n - 1, math.ceil(q / 100 * n) - 1)]
