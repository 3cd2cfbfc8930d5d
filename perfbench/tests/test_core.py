import pytest

from perfbench.core import (
    OpResult, PassLog, account, covered, percentile, run_pass,
    self_time, tail_percentile,
)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([7], 99) == 7


@pytest.mark.parametrize("n, want", [
    (19, None), (99, None),          # p90 would leave 9 samples beyond it
    (100, 90.0), (999, 90.0),        # p99 needs 1000
    (1000, 99.0), (9999, 99.0),
    (10000, 99.9), (50000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, want):
    xs = list(range(n))
    got = tail_percentile(xs)
    if want is None:
        assert got is None
        return
    p, value = got
    assert p == want
    assert sum(1 for x in xs if x > value) >= 10


def test_self_time_subtracts_children_once():
    # children overlap each other and stick out of the parent
    kids = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    assert covered(kids, 0.0, 10.0) == pytest.approx(4.0)
    assert self_time(0.0, 10.0, kids) == pytest.approx(6.0)
    assert self_time(0.0, 10.0, []) == pytest.approx(10.0)
    # a child nested in another child adds nothing
    assert self_time(0.0, 10.0, [(1.0, 5.0), (2.0, 3.0)]) == pytest.approx(6.0)


def test_failed_op_is_counted_and_the_pass_continues():
    def boom():
        raise RuntimeError("no")

    ticks = iter(range(100))
    results = run_pass(
        [(("a",), lambda: 1), (("b",), boom), (("c",), lambda: 3)],
        clock=lambda: next(ticks))
    assert [r.key for r in results] == [("a",), ("b",), ("c",)]
    assert results[1].error is not None and "RuntimeError" in results[1].error
    assert [r.seconds for r in results] == [1, 1, 1]
    assert results[2].value == 3
    # a wrong answer fails too; a raised op fails even if check passes
    attempted, failed = account(results, lambda r: r.value != 3)
    assert attempted == 3
    assert [r.key for r in failed] == [("b",), ("c",)]


def test_account_all_good():
    rs = [OpResult(("x",), 0.1, 1), OpResult(("y",), 0.1, 2)]
    assert account(rs, lambda r: True) == (2, [])


def test_each_op_runs_once_and_a_pass_wall_is_its_latency_sum():
    calls = []
    ticks = iter([0.0, 2.0, 2.5, 3.5]).__next__
    results = run_pass([(("a",), lambda: calls.append("a")),
                        (("b",), lambda: calls.append("b"))], clock=ticks)
    assert calls == ["a", "b"]
    assert PassLog(passes=[results]).walls == [3.0]

