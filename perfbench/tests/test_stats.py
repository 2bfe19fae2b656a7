"""Percentile and spread helpers (no SparkSession)."""

import statistics

import pytest

from loop import another_round
from stats import median, percentile, relative_spread


def test_tail_percentile_needs_ten_samples_beyond():
    assert percentile([float(i) for i in range(99)], 90) is None
    assert percentile([float(i) for i in range(100)], 90) == 89.0
    assert percentile([float(i) for i in range(999)], 99) is None
    assert percentile([float(i) for i in range(1000)], 99) == 989.0


def test_median_percentile_and_bounds():
    assert percentile([3.0, 1.0, 2.0], 50, min_beyond=1) == 2.0
    assert percentile([1.0, 2.0], 50) is None
    with pytest.raises(ValueError):
        percentile([1.0], 100)
    with pytest.raises(ValueError):
        median([])


def test_relative_spread_is_iqr_over_median():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, mid, q3 = statistics.quantiles(vals, n=4)
    assert relative_spread(vals) == pytest.approx((q3 - q1) / mid)


def test_runs_end_at_the_round_boundary_nearest_the_requested_length():
    assert another_round(elapsed_s=3.0, last_round_s=3.0, seconds=10) is True
    assert another_round(elapsed_s=9.0, last_round_s=3.0, seconds=10) is False
    # one round longer than the run: stop after it
    assert another_round(elapsed_s=14.0, last_round_s=14.0, seconds=10) is False
