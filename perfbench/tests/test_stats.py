import pytest

import stats


def test_p90_needs_100_samples_for_ten_beyond():
    assert stats.beyond(99, 0.9) == 9
    assert stats.beyond(100, 0.9) == 10
    assert stats.beyond(20, 0.5) == 10


def test_percentile_is_nearest_rank_with_counted_tail():
    samples = [float(i) for i in range(1, 101)]
    p90 = stats.percentile(samples, 0.9)
    assert p90 == 90.0
    assert sum(s > p90 for s in samples) == stats.beyond(len(samples), 0.9) == 10


def test_tail_picks_highest_percentile_with_ten_beyond():
    assert stats.tail(list(range(100)))[0] == 0.9
    assert stats.tail(list(range(45)))[0] == 0.75
    assert stats.tail(list(range(25)))[0] == 0.5
    q, value = stats.tail([3.0, 1.0, 2.0] * 20)
    assert (q, value) == (0.75, 3.0)


def test_percentile_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)


def test_plateau_needs_min_rounds_and_a_flat_last_round():
    assert not stats.plateaued([10.0], 0.1, 2)
    assert not stats.plateaued([20.0, 8.0], 0.1, 2)  # still falling
    assert stats.plateaued([20.0, 8.0, 8.5], 0.1, 2)
    assert not stats.plateaued([8.0, 8.0], 0.1, 3)
