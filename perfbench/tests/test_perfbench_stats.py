import pytest

import stats


@pytest.mark.parametrize("n", [11, 12, 20, 30, 100])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    xs = list(range(n, 0, -1))  # unsorted on purpose
    value, pct, count = stats.tail(xs)
    assert count == n
    assert sum(x > value for x in xs) == stats.TAIL_BEYOND
    # one rank higher would leave only nine beyond
    assert sum(x > value + 1 for x in xs) == stats.TAIL_BEYOND - 1
    assert pct == pytest.approx(100 * (n - 10) / n)


def test_tail_of_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        stats.tail([])


def test_self_time_subtracts_covered_child_interval():
    # children overlap each other and one sticks out of the parent
    children = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(10.0 - 3.0 - 1.0)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == 0.0
    assert stats.self_time(5.0, 6.0, [(0.0, 1.0)]) == 1.0
