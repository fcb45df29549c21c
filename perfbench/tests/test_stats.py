"""Percentiles, the sample-count rule and span interval arithmetic."""

import statistics

import pytest

from perfbench import stats


def test_percentile_interpolates():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 0) == 1
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, tail", [
    (1, None), (19, None), (99, None),   # below 100: median only
    (100, 90.0), (999, 90.0),
    (1000, 99.0), (9999, 99.0),
    (10000, 99.9),
])
def test_tail_needs_ten_samples_beyond_it(n, tail):
    assert stats.reportable_tail(n) == tail


def test_summarize_reports_median_count_and_allowed_tail():
    few = stats.summarize(range(1, 51))
    assert few == {"n": 50, "p50": 25.5}
    many = stats.summarize(range(1, 101))
    assert many["n"] == 100 and many["p50"] == 50.5
    assert many["p90"] == pytest.approx(stats.percentile(range(1, 101), 90))
    assert "p99" not in many


def test_iqr_share_uses_statistics_quantiles():
    xs = [10, 11, 9, 10.5, 9.5, 10, 12, 8, 10, 10]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.iqr_share(xs) == pytest.approx((q3 - q1) / med)


def test_covered_merges_overlaps_and_keeps_gaps():
    assert stats.covered([]) == 0
    assert stats.covered([(0, 1), (2, 3)]) == 2
    assert stats.covered([(0, 2), (1, 3)]) == 3
    assert stats.covered([(1, 3), (0, 10), (4, 5)]) == 10
    assert stats.covered([(0, 1), (1, 2)]) == 2
