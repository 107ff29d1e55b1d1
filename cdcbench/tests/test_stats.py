"""The tail-percentile rule: at least ten samples beyond the percentile."""

import stats


def test_no_tail_below_forty_samples():
    assert stats.tail(list(range(39))) is None


def test_tail_climbs_the_ladder_with_sample_count():
    assert stats.tail(list(range(40)))[0] == 75.0
    assert stats.tail(list(range(99)))[0] == 75.0
    assert stats.tail(list(range(100)))[0] == 90.0
    assert stats.tail(list(range(200)))[0] == 95.0
    assert stats.tail(list(range(1000)))[0] == 99.0
    assert stats.tail(list(range(10000)))[0] == 99.9


def test_tail_leaves_at_least_ten_samples_beyond():
    for n in (40, 57, 100, 150, 200, 999, 1000, 4321):
        pct, value = stats.tail(list(range(n)))
        assert sum(v > value for v in range(n)) >= 10


def test_percentile_is_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1
