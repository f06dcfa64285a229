"""Medians, quartiles and drift on fixed samples."""

import statistics

import pytest
from stats import drift_ratio, iqr, quartiles


def test_quartiles_match_statistics_module():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartiles(xs) == (q1, q3)
    assert iqr(xs) == q3 - q1


def test_single_value_has_no_spread():
    assert quartiles([2.5]) == (2.5, 2.5)
    assert iqr([2.5]) == 0


def test_drift_ratio_thirds():
    # first third [10, 12] -> 11, last third [15, 17] -> 16
    assert drift_ratio([10, 12, 13, 14, 15, 17]) == pytest.approx(16 / 11)
    # three passes: last over first
    assert drift_ratio([4.0, 5.0, 6.0]) == pytest.approx(1.5)
    # thirds round up: 4 passes -> first two and last two
    assert drift_ratio([2, 4, 9, 6, 8]) == pytest.approx(7 / 3)


def test_flat_series_has_no_drift():
    assert drift_ratio([3.0] * 7) == 1.0


def test_drift_needs_three_passes():
    with pytest.raises(ValueError):
        drift_ratio([1.0, 2.0])
