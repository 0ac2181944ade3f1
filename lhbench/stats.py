"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie above the reported tail percentile


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, float, int]:
    """Highest percentile with at least ``TAIL_BEYOND`` samples above it.

    Returns (value, percentile, sample count). With too few samples for
    any such percentile the maximum is returned with percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 100.0, 0
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    rank = n - TAIL_BEYOND  # 1-based rank with exactly TAIL_BEYOND samples beyond
    return xs[rank - 1], 100.0 * rank / n, n


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(v) for v in xs) / len(xs))


def geomean_of_medians(samples_by_kind: dict[str, list[float]]) -> float:
    return geomean(median(v) for v in samples_by_kind.values() if v)
