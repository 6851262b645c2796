"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples required above a reported percentile


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the nearest-rank ``pct``-th percentile of n."""
    return n - max(1, math.ceil(pct / 100.0 * n))


def needed(pct: float) -> int:
    """Smallest sample count that leaves MIN_BEYOND samples above ``pct``."""
    n = MIN_BEYOND + 1
    while samples_beyond(n, pct) < MIN_BEYOND:
        n += 1
    return n


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile.  Raises ValueError unless at least
    MIN_BEYOND samples lie beyond it, so a reported tail is never a
    single outlier."""
    n = len(values)
    if samples_beyond(n, pct) < MIN_BEYOND:
        raise ValueError(
            f"p{pct:g} needs {needed(pct)} samples for {MIN_BEYOND} beyond it; have {n}"
        )
    return sorted(values)[max(1, math.ceil(pct / 100.0 * n)) - 1]


def highest_percentile(n: int, choices=(99.9, 99, 95, 90, 75, 50)) -> float | None:
    """The highest of ``choices`` that n samples support, or None."""
    for pct in choices:
        if samples_beyond(n, pct) >= MIN_BEYOND:
            return pct
    return None


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
