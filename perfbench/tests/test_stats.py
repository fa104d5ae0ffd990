"""The percentile rule: a tail percentile is reported only with at least
ten samples beyond it."""

import pytest

from perfbench.stats import percentile, supported, tail


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 50) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_p95_needs_200_samples():
    assert not supported(199, 95)
    assert supported(200, 95)
    assert tail([float(i) for i in range(199)], 95) is None
    assert tail([float(i) for i in range(200)], 95) == 189.0


def test_other_tails_follow_the_same_rule():
    assert supported(20, 50)
    assert not supported(999, 99)
    assert supported(1000, 99)
