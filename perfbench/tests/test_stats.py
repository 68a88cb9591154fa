import pytest

from stats import Tally, beyond, percentile, tail_level


def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 90) == 90
    assert percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, level",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_needs_ten_samples_beyond(n, level):
    assert tail_level(n) == level
    if level is not None:
        assert beyond(n, level) >= 10


def test_failed_op_is_charged_the_window():
    t = Tally()
    t.record(0.010, True)
    t.record(0.001, False, "boom")
    assert t.attempted == 2 and t.failed == 1 and t.error_rate == 0.5
    assert t.charged(3.0) == [0.010, 3.0]
    assert t.errors == ["boom"]


def test_wrong_answer_marked_after_the_fact():
    t = Tally()
    i = t.record(0.2, True)
    t.fail(i, "wrong rows")
    t.fail(i, "counted once")
    assert t.failed == 1 and t.errors == ["wrong rows"]
