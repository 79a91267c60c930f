"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above a reported tail percentile


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[int, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (nearest-rank percentile, value); None while that sample would not lie
    above the median (fewer than 22 samples)."""
    xs = sorted(xs)
    n = len(xs)
    rank = n - TAIL_BEYOND  # 1-based; xs[rank - 1] has TAIL_BEYOND samples above it
    if rank <= (n + 1) / 2:
        return None
    return 100 * rank // n, xs[rank - 1]
