import random

import pytest

from perfbench.stats import nearest_rank, tail_percentile


def _shuffled(n, seed=0):
    values = [float(i) for i in range(1, n + 1)]
    random.Random(seed).shuffle(values)
    return values


@pytest.mark.parametrize(
    "n, pct, value",
    [
        (24, 58.0, 14.0),  # rank 14 of 24: exactly 10 beyond; p59 would leave 9
        (40, 75.0, 30.0),
        (100, 90.0, 90.0),
        (1000, 99.0, 990.0),  # p99.5 would leave only 5 beyond
        (10000, 99.9, 9990.0),
    ],
)
def test_tail_is_highest_rung_with_ten_beyond(n, pct, value):
    got_pct, got_value, beyond = tail_percentile(_shuffled(n))
    assert (got_pct, got_value, beyond) == (pct, value, 10)


def test_small_sample_falls_back_to_median():
    assert tail_percentile(_shuffled(5)) == (50.0, 3.0, 2)
    assert tail_percentile(_shuffled(19)) == (50.0, 10.0, 9)


def test_twenty_samples_is_first_with_ten_beyond():
    assert tail_percentile(_shuffled(20)) == (50.0, 10.0, 10)


def test_nearest_rank_returns_a_measured_value():
    values = [0.5, 0.1, 0.9, 0.3]
    assert nearest_rank(values, 50) == 0.3
    assert nearest_rank(values, 100) == 0.9
    assert nearest_rank(values, 1) == 0.1


def test_empty_sample_is_an_error():
    with pytest.raises(ValueError):
        tail_percentile([])

