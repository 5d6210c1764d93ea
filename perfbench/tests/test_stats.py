import statistics

import pytest

import stats


def test_median_odd_and_even():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5


def test_median_rejects_empty():
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert stats.percentile(values, 90) == 90
    assert stats.percentile(values, 100) == 100
    assert stats.percentile([5.0], 50) == 5.0


def test_p90_leaves_ten_samples_above():
    values = [float(v) for v in range(200, 0, -1)]
    p = stats.p90(values)
    assert p == 180.0
    assert sum(1 for v in values if v > p) >= 10


def test_p90_needs_a_hundred_samples():
    with pytest.raises(ValueError):
        stats.p90([1.0] * 99)


def test_quartile_spread_matches_statistics_quantiles():
    values = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.6]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / q2)
    assert stats.quartile_spread([2.0, 2.0, 2.0]) == 0.0


def test_quartile_spread_of_zeros():
    assert stats.quartile_spread([0.0, 0.0, 0.0, 0.0]) == 0.0
