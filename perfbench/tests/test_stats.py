"""The tail-percentile rule."""

from __future__ import annotations

import pytest

from perfbench.stats import tail


def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 1..30, shuffled order must not matter
    value, pct, n = tail(list(reversed(xs)))
    assert n == 30
    assert value == 20.0
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_of_exactly_eleven_is_the_smallest():
    value, pct, n = tail([float(i) for i in range(11)])
    assert value == 0.0 and n == 11


def test_tail_of_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        tail([])
