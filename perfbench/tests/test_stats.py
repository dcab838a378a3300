"""The tail-percentile rule: the highest percentile with at least ten
samples beyond it."""

from __future__ import annotations

import pytest

from perfbench.stats import tail


def test_too_few_samples_have_no_tail():
    assert tail([1.0] * 10) is None
    assert tail([]) is None


def test_eleven_samples_give_the_minimum_with_ten_beyond():
    values = list(range(11, 0, -1))
    pct, value = tail(values)
    assert value == 1
    assert pct == pytest.approx(100 / 11)


def test_tail_leaves_exactly_ten_samples_above():
    values = [float(v) for v in range(24)]
    pct, value = tail(values)
    assert sum(v > value for v in values) == 10
    assert value == 13.0
    assert pct == pytest.approx(100 * 14 / 24)


def test_hundred_samples_give_p90():
    pct, value = tail([float(v) for v in range(100)])
    assert (pct, value) == (90.0, 89.0)

