import pytest

from lhbench import stats


def test_p90_needs_ten_samples_beyond_it():
    assert stats.tail_percentile([1.0] * 99, 0.9) is None
    assert stats.tail_percentile(list(range(1, 101)), 0.9) == pytest.approx(90.1)


def test_tail_rule_scales_with_the_percentile():
    # p99 needs 1000 samples, p50 only 20
    assert stats.tail_percentile([0.0] * 999, 0.99) is None
    assert stats.tail_percentile([0.0] * 1000, 0.99) == 0.0
    assert stats.tail_percentile([0.0] * 19, 0.5) is None


def test_percentile_interpolates_and_refuses_empty():
    assert stats.percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert stats.percentile([0.0, 10.0], 0.25) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.0]
    q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / q2)


def test_median_and_mean_defaults():
    assert stats.median([]) == 0.0
    assert stats.mean([], default=-1.0) == -1.0
    assert stats.median([1.0, 2.0, 4.0, 8.0]) == 3.0


def test_geomean_weighs_each_key_alike():
    # one slow key moves the figure by its own share, not by its size
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([]) == 0.0
