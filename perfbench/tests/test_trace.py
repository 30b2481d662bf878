"""Span self time and job-group tags."""

import pytest

from perfbench import trace


def span(sid, parent, start, end, name="operators.x", op=0):
    return {"id": sid, "name": name, "parent": parent, "op": op, "start": start, "end": end}


def test_self_time_with_overlapping_children():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 4.0), span(2, 0, 3.0, 6.0),
             span(3, 0, 8.0, 12.0), span(4, 1, 1.5, 2.0)]
    st = trace.self_times(spans)
    # children cover [1, 6] and [8, 10] of the parent (the last one is clipped)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_union_length_nested_and_disjoint():
    assert trace.union_length([(0, 5), (1, 2), (7, 8)], 0, 10) == pytest.approx(6.0)
    assert trace.union_length([], 0, 10) == 0.0


def test_tag_round_trip():
    assert trace.parse_tag(trace.tag(12, 345)) == (12, 345)
    assert trace.parse_tag(None) is None
    assert trace.parse_tag("someone-else") is None


class FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


def test_spans_nest_and_restore_the_parent_group():
    sc = FakeContext()
    t = trace.Tracer(sc)
    t.active, t.op = True, 4
    with t.span("op"):
        with t.span("operators.knn_join"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert sc.groups == ["pb:4:0", "pb:4:1", "pb:4:0", None]


def test_inactive_tracer_records_nothing():
    t = trace.Tracer(FakeContext())
    with t.span("op"):
        pass
    assert t.spans == []
