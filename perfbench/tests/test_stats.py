import statistics

import pytest

from perfbench import stats


def test_percentile_matches_inclusive_quantiles():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert stats.percentile(xs, 25) == pytest.approx(q1)
    assert stats.percentile(xs, 50) == pytest.approx(q2) == pytest.approx(statistics.median(xs))
    assert stats.percentile(xs, 75) == pytest.approx(q3)
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 9.0
    assert stats.percentile([2.5], 90) == 2.5


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_quartile_spread_uses_exclusive_quartiles_over_median():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / 14.5)
    assert stats.quartile_spread([5.0] * 10) == 0.0


@pytest.mark.parametrize("n, want", [(9, None), (20, 50), (22, 50), (40, 75), (44, 75),
                                     (100, 90), (200, 95), (1000, 99)])
def test_supported_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_geomean():
    assert stats.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
