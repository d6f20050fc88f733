from __future__ import annotations

import pytest

import stats


@pytest.mark.parametrize("n,pct", [(100, 90), (250, 90), (99, 89), (40, 75), (33, 69), (20, 50)])
def test_tail_percentile_leaves_ten_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    values = list(range(1, n + 1))
    value, used, count = stats.tail(values)
    assert (used, count) == (pct, n)
    assert sum(v > value for v in values) >= 10


def test_tail_below_twenty_samples_is_the_max():
    assert stats.tail_percentile(10) is None
    assert stats.tail_percentile(11) == 9
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail(list(range(19))) == (18.0, 100.0, 19)


def test_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.nearest_rank(xs, 50) == 3
    assert stats.nearest_rank(xs, 100) == 5
    assert stats.nearest_rank(xs, 1) == 1
    assert stats.nearest_rank(list(range(1, 101)), 90) == 90


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 10) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )
