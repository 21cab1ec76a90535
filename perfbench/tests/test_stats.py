"""The percentile rule: a percentile needs ten samples beyond it."""

from __future__ import annotations

from perfbench import stats


def test_p90_needs_a_hundred_samples():
    assert stats.percentile(list(range(99)), 0.9) is None
    assert stats.percentile(list(range(100)), 0.9) == 89


def test_median_needs_twenty_samples_as_a_percentile():
    assert stats.percentile(list(range(19)), 0.5) is None
    assert stats.percentile(list(range(20)), 0.5) == 9


def test_summary_reports_the_sample_count():
    s = stats.summary([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0, "p90": None}
    assert stats.summary([float(i) for i in range(200)])["p90"] == 179.0


def test_quartile_spread_matches_statistics_quantiles():
    assert stats.quartile_spread([1.0] * 10) == 0.0
    assert round(stats.quartile_spread([8, 9, 10, 11, 12, 10, 10, 9, 11, 10]), 6) == 0.2
