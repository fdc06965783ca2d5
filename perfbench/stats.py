"""Percentiles for latency samples."""

from __future__ import annotations

import statistics

TAIL_CANDIDATES = (99, 95, 90, 75, 50)  # percent


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 1] of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """Highest candidate percentile (in percent) with at least
    ``beyond`` of ``n`` samples above it, or None when even the median
    has fewer."""
    for p in TAIL_CANDIDATES:
        if n * (100 - p) >= beyond * 100:
            return p
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)
