import pytest

from spans import Span, covered, self_times


def _span(id, name, start, end, parent=None):
    return Span(id, name, start, end, parent, 1, "loop")


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(1, 3), (2, 5), (8, 10)]) == 6
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_of_nested_spans():
    spans = [
        _span(1, "bench.search", 0.0, 10.0),
        _span(2, "index_store.search.construct", 1.0, 3.0, 1),
        _span(3, "index_store.search.exec", 2.0, 5.0, 1),  # overlaps construct
        _span(4, "streaming.batch", 8.0, 12.0, 1),  # runs past its parent
        _span(5, "sources.read_trec", 3.0, 4.0, 3),  # grandchild
    ]
    got = self_times(spans)
    # parent: 10 - union(1..5, 8..10) = 10 - 6
    assert got["bench"] == pytest.approx(4.0)
    # construct 2 + exec (3 - its child 1)
    assert got["index_store"] == pytest.approx(4.0)
    assert got["streaming"] == pytest.approx(4.0)
    assert got["sources"] == pytest.approx(1.0)


def test_disabled_tracer_records_nothing():
    from spans import Tracer

    t = Tracer(False)
    with t.span("index_store.build_index") as s:
        assert s is None
    assert t.spans == [] and t.overhead_s == 0.0


def test_enabled_tracer_nests_without_spark():
    from spans import Tracer

    t = Tracer(True)
    op = t.new_op()
    with t.span("bench.build", op=op) as outer:
        with t.span("sources.read_trec") as inner:
            pass
    assert inner.parent == outer.id and inner.op == outer.op == op
    assert [s.name for s in t.spans] == ["sources.read_trec", "bench.build"]
