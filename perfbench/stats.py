"""Order statistics shared by the workloads."""

from __future__ import annotations

import statistics

#: A tail percentile must leave at least this many samples beyond it.
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> tuple[float, float]:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it, as ``(percentile, value)``.

    With ``n`` samples sorted ascending, the value at index
    ``n - 1 - TAIL_MIN_BEYOND`` has exactly ``TAIL_MIN_BEYOND`` samples
    after it; its percentile is ``100 * (n - TAIL_MIN_BEYOND) / n``.
    With too few samples for any such percentile, returns the maximum
    as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    if n <= TAIL_MIN_BEYOND:
        return 100.0, s[-1]
    return 100.0 * (n - TAIL_MIN_BEYOND) / n, s[n - 1 - TAIL_MIN_BEYOND]
