"""Summary statistics for benchmark samples."""

from __future__ import annotations

import math
import statistics

#: A percentile is reported only when at least this many samples lie
#: beyond it; with fewer, the tail is a handful of outliers.
MIN_TAIL_SAMPLES = 10


def median(values) -> float | None:
    values = list(values)
    return statistics.median(values) if values else None


def percentile(values, q: float) -> float | None:
    """The *q*-quantile (0 < q < 1, nearest rank) of *values*, or None
    unless at least MIN_TAIL_SAMPLES samples lie strictly beyond it."""
    values = sorted(values)
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_TAIL_SAMPLES:
        return None
    return values[rank - 1]

