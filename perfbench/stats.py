"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile of ``samples``, or ``None``
    when fewer than ``MIN_BEYOND`` samples lie above it: a tail
    percentile read off a handful of samples is one sample, not a
    percentile."""
    if not 0 < p < 100:
        raise ValueError(f"percentile must lie in (0, 100), got {p}")
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def median(samples: list[float]) -> float:
    return statistics.median(samples)
