"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: percentiles considered for a tail; the highest one that leaves at
#: least TAIL_BEYOND samples beyond it is reported
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, -(-len(s) * p // 100) - 1))
    return float(s[int(k)])


def tail(xs) -> tuple[float, float] | None:
    """``(p, value)`` for the highest percentile in TAIL_CANDIDATES with
    at least TAIL_BEYOND samples beyond it, or None when the sample is
    too small for any."""
    n = len(xs)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND:
            return p, percentile(xs, p)
    return None
