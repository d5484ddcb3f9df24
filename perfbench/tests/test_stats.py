"""The tail-percentile rule: the highest percentile with at least ten
samples beyond it."""

from __future__ import annotations

import pytest

from perfbench.stats import TAIL_MIN_BEYOND, median, tail


@pytest.mark.parametrize("n, pct", [(100, 90.0), (200, 95.0), (1000, 99.0), (40, 75.0)])
def test_tail_leaves_ten_samples_beyond(n, pct):
    xs = list(range(n))
    p, v = tail(reversed(xs))
    assert p == pytest.approx(pct)
    assert sum(x > v for x in xs) == TAIL_MIN_BEYOND


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0)
    assert tail(range(TAIL_MIN_BEYOND)) == (100.0, TAIL_MIN_BEYOND - 1)
    assert tail([]) == (0.0, 0.0)


def test_tail_with_eleven_samples_is_the_minimum():
    p, v = tail(range(11))
    assert v == 0 and p == pytest.approx(100 / 11)


def test_median_of_nothing_is_zero():
    assert median([]) == 0.0
    assert median([3, 1, 2]) == 2
