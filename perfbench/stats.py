"""Arithmetic the benchmark reports: medians, the tail rule, interval
unions, failure shares and pass-to-pass trend.

Pure functions over plain numbers, so ``test_stats.py`` can pin them
without a Spark session.
"""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

# The tail is the highest percentile with at least this many samples
# strictly beyond it, so that one outlier cannot set it.
TAIL_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(samples: Sequence[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile of ``samples``
    that has at least ``beyond`` samples above it.

    That is the order statistic with exactly ``beyond`` samples ranked
    after it, at percentile ``100 * (n - beyond) / n``. Below
    ``2 * beyond`` samples that percentile would fall under the median,
    which is no tail; the maximum is returned instead, at percentile
    100, and the printed percentile shows the rule was not met."""
    n = len(samples)
    if n == 0:
        return 0.0, 0.0, 0
    ordered = sorted(samples)
    if n < 2 * beyond:
        return ordered[-1], 100.0, n
    k = n - beyond  # 1-based rank of the tail sample
    return ordered[k - 1], 100.0 * k / n, n


def union_length(intervals: Iterable[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to
    ``[lo, hi]`` when those are given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - union_length(children, start, end)


def failed_share(attempted: int, failed: int) -> float:
    if attempted <= 0:
        raise ValueError("no query runs attempted")
    return failed / attempted


def ok_share(queries: Iterable[str], failed: Iterable[str]) -> float:
    """Share of ``queries`` with no failed run. Counted per query, not per
    query run, so one failing query moves it by a whole query's share
    however many times the other queries ran."""
    queries = set(queries)
    if not queries:
        raise ValueError("no queries")
    return 1.0 - len(queries & set(failed)) / len(queries)


def trend(pass_times: Sequence[float]) -> float:
    """Median of the second half of the timed passes over the median of
    the first half, minus one: near 0 when the passes carry no trend,
    negative while they are still warming up. With an odd count the
    middle pass belongs to neither half."""
    half = len(pass_times) // 2
    if half == 0:
        return 0.0
    first = median(pass_times[:half])
    second = median(pass_times[len(pass_times) - half:])
    return second / first - 1.0 if first > 0 else 0.0
