"""The tail-percentile rule and the steadiness arithmetic."""

import math
import statistics

import pytest

from stats import TAIL_MIN_BEYOND, drift, percentile, spread, tail_percentile


def _beyond(p, n):
    return n - math.ceil(p * n / 100)


@pytest.mark.parametrize("n", list(range(1, 300)))
def test_tail_percentile_is_the_highest_with_ten_beyond(n):
    p = tail_percentile(n)
    ok = [q for q in range(1, 100) if _beyond(q, n) >= TAIL_MIN_BEYOND]
    assert p == (max(ok) if ok else None)


def test_tail_percentile_examples():
    assert tail_percentile(10) is None
    assert tail_percentile(11) == 9
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99


def test_nearest_rank_percentile():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    # at n=11 the rule's p9 is the smallest value: ten lie beyond it
    lat = list(range(100, 111))
    assert percentile(lat, tail_percentile(len(lat))) == 100


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.4, 10.1, 12.0, 9.9, 10.0, 10.2, 10.3]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))


def test_drift_sign_and_size():
    assert drift([1, 1, 1, 2, 2, 2]) == pytest.approx(1.0)
    assert drift([2, 2, 1, 1]) == pytest.approx(-0.5)
    assert drift([1, 2, 3]) is None
