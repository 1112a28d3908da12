"""Small statistics helpers shared by every workload (pure Python, so
the helper tests run without Spark)."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else float("nan")


def tail_percentile(values: list[float], beyond: int = 10):
    """The highest latency percentile that still has at least
    ``beyond`` samples above it.

    Returns ``(p, value, n)``: ``p`` is an integer percentile, and
    ``value`` is the nearest-rank sample at ``p`` (rank
    ``ceil(p * n / 100)``), so exactly ``n - rank >= beyond`` samples
    lie beyond it. With ``n <= beyond`` no percentile qualifies; the
    result is then ``(None, max, n)`` and callers label it "max".
    """
    n = len(values)
    if n == 0:
        return None, float("nan"), 0
    xs = sorted(values)
    if n <= beyond:
        return None, xs[-1], n
    p = (100 * (n - beyond)) // n
    while p > 0:
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= beyond:
            return p, xs[rank - 1], n
        p -= 1
    return 0, xs[0], n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
