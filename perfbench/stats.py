"""Order statistics used by every metric the benchmark reports."""

from __future__ import annotations

import math
import statistics
from typing import NamedTuple

#: Tail percentiles tried from highest to lowest.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


class Tail(NamedTuple):
    percentile: float | None  # None when even the median lacks support
    value: float | None
    samples: int


def nearest_rank(sorted_values: list[float], percentile: float) -> float:
    """Nearest-rank percentile of already sorted values."""
    rank = max(1, math.ceil(percentile / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1]


def beyond(samples: int, percentile: float) -> int:
    """How many of ``samples`` values lie above the nearest-rank percentile."""
    return samples - max(1, math.ceil(percentile / 100.0 * samples))


def tail(values: list[float], min_beyond: int = 10) -> Tail:
    """The highest candidate percentile with at least ``min_beyond``
    samples beyond it, its value, and the sample count."""
    ordered = sorted(values)
    for p in TAIL_CANDIDATES:
        if ordered and beyond(len(ordered), p) >= min_beyond:
            return Tail(p, nearest_rank(ordered, p), len(ordered))
    return Tail(None, None, len(ordered))


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None
