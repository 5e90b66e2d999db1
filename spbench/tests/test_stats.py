"""Percentile rule, warm-up end, outliers and span self time."""

from spbench import stats
from spbench.trace import Span, self_time, task_skew


def test_no_p90_below_100_samples():
    assert stats.p90_or_none([1.0] * 99) == {"n": 99, "value": None}
    r = stats.p90_or_none([float(i) for i in range(1, 101)])
    assert r == {"n": 100, "value": 90.0}


def test_settled_waits_until_times_stop_falling():
    falling = [5.0, 4.0, 3.5, 3.0, 2.6, 2.2]
    for n in range(len(falling) + 1):
        assert not stats.settled(falling[:n], 0.05)
    # no faster than the best so far by more than 5%: settled
    assert stats.settled(falling + [2.15], 0.05)
    assert stats.settled(falling + [2.4], 0.05)
    assert not stats.settled(falling + [2.0], 0.05)
    assert stats.settled([1.0, 1.0], 0.05)


def test_outliers_are_reported_not_dropped():
    xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.02, 0.98, 1.03, 9.0]
    out = stats.outliers(xs)
    assert [o["index"] for o in out] == [8]
    assert len(xs) == 9


def test_self_time_subtracts_union_of_children():
    parent = Span(0, "p", 0.0, 10.0)
    kids = [Span(1, "a", 1.0, 3.0, parent=0), Span(2, "b", 2.0, 4.0, parent=0),
            Span(3, "c", 6.0, 7.0, parent=0), Span(4, "d", 9.5, 12.0, parent=0)]
    # covered: [1,4] + [6,7] + [9.5,10] = 3 + 1 + 0.5
    assert self_time(parent, kids) == 10.0 - 4.5
    assert self_time(parent, []) == 10.0


def test_task_skew():
    assert task_skew([1.0, 1.0, 1.0]) == 1.0
    assert task_skew([1.0, 1.0, 4.0]) == 4.0
    assert task_skew([]) == 0.0
