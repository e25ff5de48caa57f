"""Summary statistics for one benchmark run."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values: list[float], p: int) -> float:
    """The ``p``-th percentile (1 <= p <= 99), linearly interpolated
    between order statistics (``statistics.quantiles``, inclusive)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it, or None when ``n`` is too small for any."""
    for p in range(99, 0, -1):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= beyond:
            return float(p)
    return None


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it
    raised, or when its query's output failed the correctness check."""

    attempted: int = 0
    failed: int = 0

    def add(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
