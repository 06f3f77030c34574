"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: a tail percentile must have at least this many samples beyond it
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it, as ``(value, percentile)``.

    With n samples that is the nearest-rank percentile
    p = 100 * (n - b) / n, whose value is the sample with exactly b
    samples above it, b = ``TAIL_BEYOND``. Below 2 * TAIL_BEYOND
    samples that percentile would fall under the median (and under 11
    none exists); there b = max(1, n // 4), the upper quartile, which
    stays steadier from run to run than the maximum of a few samples."""
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(samples)
    if n == 1:
        return ordered[0], 100.0
    beyond = TAIL_BEYOND if n >= 2 * TAIL_BEYOND else max(1, n // 4)
    # nearest rank of p = 100 * (n - beyond) / n is n - beyond (1-based)
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n


def median(samples: list[float]) -> float:
    return statistics.median(samples)

