"""Percentile, fail_ratio and spread arithmetic."""

import statistics

import pytest

import metrics


def test_percentile_interpolates_between_ranks():
    assert metrics.percentile([1, 2, 3, 4], 50) == 2.5
    assert metrics.percentile([4, 1, 3, 2], 0) == 1
    assert metrics.percentile([4, 1, 3, 2], 100) == 4
    # rank (n-1)*0.9 = 8.1 → 9 + 0.1*(10-9)
    assert metrics.percentile(list(range(1, 11)), 90) == pytest.approx(9.1)


def test_percentile_single_value_and_errors():
    assert metrics.percentile([7.5], 90) == 7.5
    with pytest.raises(ValueError):
        metrics.percentile([], 50)
    with pytest.raises(ValueError):
        metrics.percentile([1.0], 101)


def test_percentile_matches_statistics_median():
    xs = [0.31, 0.12, 0.95, 0.44, 0.5, 0.07, 0.66]
    assert metrics.percentile(xs, 50) == statistics.median(xs)


def test_fail_ratio():
    assert metrics.fail_ratio(0, 10) == 0.0
    assert metrics.fail_ratio(3, 12) == 0.25
    assert metrics.fail_ratio(5, 5) == 1.0
    with pytest.raises(ValueError):
        metrics.fail_ratio(0, 0)
    with pytest.raises(ValueError):
        metrics.fail_ratio(6, 5)
    with pytest.raises(ValueError):
        metrics.fail_ratio(-1, 5)


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.4]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert metrics.quartile_spread(xs) == pytest.approx((q3 - q1) / med)
    assert metrics.quartile_spread([5.0] * 10) == 0.0
    with pytest.raises(ValueError):
        metrics.quartile_spread([1.0])
    with pytest.raises(ValueError):
        metrics.quartile_spread([0.0, 0.0, 0.0])


def test_latency_summary():
    s = metrics.latency_summary([[0.1, 0.2], [0.3, 0.4]])
    assert s["n"] == 4
    assert s["p50_ms"] == pytest.approx(250.0)
    assert s["p90_ms"] == pytest.approx(370.0)
    # per-round rates 2/0.3 and 2/0.7; their median
    assert s["ops_per_s"] == pytest.approx((2 / 0.3 + 2 / 0.7) / 2)
    with pytest.raises(ValueError):
        metrics.latency_summary([])
    with pytest.raises(ValueError):
        metrics.latency_summary([[0.0]])


def test_latency_summary_rate_is_a_median_over_rounds():
    # one round four times slower leaves the rate of the other rounds
    steady = [[0.5, 0.5]] * 4
    s = metrics.latency_summary(steady + [[2.0, 2.0]])
    assert s["ops_per_s"] == pytest.approx(2.0)
    # empty rounds (every op failed before timing) are skipped
    assert metrics.latency_summary([[0.5, 0.5], []])["ops_per_s"] == 2.0
