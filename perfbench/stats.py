"""Order statistics and the result record every workload returns."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass
from typing import Optional, Sequence

TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    idx = max(math.ceil(p / 100.0 * len(s)) - 1, 0)
    return s[min(idx, len(s) - 1)]


def tail_percentile(n: int) -> Optional[int]:
    """The highest whole percentile whose nearest-rank sample still has
    at least TAIL_BEYOND samples above it, or None when that percentile
    would not lie above the median."""
    if n <= 2 * TAIL_BEYOND:
        return None
    return math.floor(100.0 * (n - TAIL_BEYOND) / n)


def tail(values: Sequence[float]) -> tuple:
    """(value, label) of the tail: the tail_percentile sample, or the
    maximum when a run has too few samples for tail_percentile."""
    p = tail_percentile(len(values))
    if p is None:
        return max(values), "max"
    return percentile(values, p), f"p{p}"


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def gmean(values: Sequence[float]) -> float:
    """Geometric mean: every sample moves it, none dominates it."""
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive samples")
    return math.exp(statistics.fmean(math.log(v) for v in values))


@dataclass
class Result:
    attempted: int
    failed: int
    metrics: dict  # end-to-end metric -> value
    table: list  # (name, value, unit, note) rows for the report
    per_layer: Optional[dict] = None  # traced runs only
