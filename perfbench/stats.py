"""Small pure helpers behind the benchmark's figures (tested in test_perfbench.py)."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Mapping, Sequence


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of closed intervals.

    Jobs of one query overlap (AQE stages, broadcasts), so their summed
    durations overstate the time any job was running; the union does not."""
    total, end = 0.0, None
    for lo, hi in sorted((lo, hi) for lo, hi in intervals if hi > lo):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to the window [lo, hi]; those outside it are dropped."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def sum_of_medians(samples: Mapping[str, Sequence[float]]) -> float:
    """Per-key median across passes, summed over keys.

    One slow pass of one query moves its own median only if it is the
    middle sample, so a stall in a single pass does not reach the total."""
    return sum(statistics.median(v) for v in samples.values() if v)


def median_index(values: Sequence[float]) -> int:
    """Index of the median sample (the lower middle one for an even count)."""
    order = sorted(range(len(values)), key=lambda i: values[i])
    return order[(len(values) - 1) // 2]


def quartile_spread(values: Sequence[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) as statistics.quantiles(n=4) gives them."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")
