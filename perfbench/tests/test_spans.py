"""Span recording and self-time arithmetic."""

import pytest

import layers
from spans import Span, Tracer, covered_length, self_times


def test_covered_length_merges_and_clips():
    assert covered_length([], 0, 10) == 0
    assert covered_length([(1, 3), (2, 5)], 0, 10) == 4
    assert covered_length([(1, 2), (4, 6)], 0, 10) == 3
    # clipped to the parent's interval
    assert covered_length([(-5, 2), (8, 20)], 0, 10) == 4
    # outside entirely
    assert covered_length([(11, 12)], 0, 10) == 0
    # nested and touching intervals
    assert covered_length([(1, 9), (2, 3), (9, 10)], 0, 10) == 9


def test_self_time_subtracts_children_once():
    spans = [
        Span(1, "op", 0.0, 10.0, None, 1),
        Span(2, "snapshot.build", 1.0, 4.0, 1, 1),
        Span(3, "log.read_commit", 1.5, 2.0, 2, 1),
        Span(4, "log.read_commit", 2.5, 3.5, 2, 1),
        Span(5, "spark.collect", 5.0, 9.0, 1, 1),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 3 - 4)
    assert st[2] == pytest.approx(3 - 0.5 - 1.0)
    assert st[3] == pytest.approx(0.5)
    assert st[5] == pytest.approx(4.0)
    # self times add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_overlapping_children_are_not_double_counted():
    spans = [Span(1, "a", 0.0, 10.0, None, 1),
             Span(2, "b", 2.0, 6.0, 1, 1),
             Span(3, "b", 4.0, 8.0, 1, 1)]
    assert self_times(spans)[1] == pytest.approx(4.0)


class _Clock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        self.t += 1.0
        return self.t


class _Engine:
    def outer(self, x):
        return self.inner(x) + 1

    def inner(self, x):
        return x * 2

    @classmethod
    def make(cls, x):
        return cls().outer(x)


def test_tracer_wraps_records_parents_and_unwraps():
    t = Tracer(clock=_Clock())
    orig = _Engine.__dict__["inner"]
    t.wrap(_Engine, "outer", "outer")
    t.wrap(_Engine, "inner", "inner", lambda attrs, args, res: attrs.update(r=res))
    t.wrap(_Engine, "make", "make")
    assert _Engine().outer(3) == 7  # inactive: no spans
    assert t.spans == []
    t.active = True
    t.op_id = 42
    with t.span("op"):
        assert _Engine.make(3) == 7
    t.active = False
    names = {s.name: s for s in t.spans}
    assert set(names) == {"op", "make", "outer", "inner"}
    assert names["make"].parent == names["op"].id
    assert names["outer"].parent == names["make"].id
    assert names["inner"].parent == names["outer"].id
    assert names["inner"].attrs == {"r": 6}
    assert all(s.op_id == 42 for s in t.spans)
    t.unwrap_all()
    assert _Engine.__dict__["inner"] is orig
    assert isinstance(_Engine.__dict__["make"], classmethod)


def test_tracer_records_errors():
    t = Tracer(clock=_Clock())
    t.wrap(_Engine, "inner", "inner")
    t.active = True
    try:
        with pytest.raises(TypeError):
            _Engine().inner(None)
    finally:
        t.unwrap_all()
    assert t.spans[0].attrs["error"] == "TypeError"


def test_per_layer_normalises_by_traced_ops():
    spans = [
        Span(1, "op", 0.0, 1.0, None, 0),
        Span(2, "table.resolve", 0.0, 0.4, 1, 0),
        Span(3, "snapshot.build", 0.1, 0.3, 2, 0, {"files": 10}),
        Span(4, "log.read_commit", 0.1, 0.2, 3, 0),
        Span(5, "spark.collect", 0.5, 0.9, 1, 0),
        Span(6, "op", 2.0, 3.0, None, 1),
        Span(7, "changes.plan", 2.0, 2.2, 6, 1),
        Span(8, "spark.collect", 2.2, 3.0, 6, 1),
        Span(9, "log.commit", 2.0, 2.1, 7, 1, {"adds": 2, "dv_files": 1,
                                              "dv_bytes": 40}),
        Span(10, "op", 5.0, 6.0, None, 99),  # not a traced op: ignored
    ]
    ops = [{"id": 0, "kind": "lookup", "jobs": 1, "tasks": 4},
           {"id": 1, "kind": "cdf", "jobs": 3, "tasks": 6}]
    out = layers.per_layer(spans, ops)
    assert out["log.read_commit.ms"] == pytest.approx(100 / 2)
    assert out["snapshot.build.ms"] == pytest.approx(100 / 2)
    assert out["table.resolve.ms"] == pytest.approx(200 / 2)
    assert out["spark.collect.ms"] == pytest.approx((400 + 800) / 2)
    assert out["changes.collect.ms"] == pytest.approx(800 / 2)
    assert out["changes.plan.ms"] == pytest.approx(100 / 2)
    assert out["op.self.ms"] == pytest.approx((200 + 0) / 2)
    assert out["log.read_commit.calls"] == 0.5
    assert out["snapshot.files"] == 10
    assert out["writer.files_per_commit"] == 2
    assert out["dv.files_written"] == 0.5
    assert out["dv.bytes_written"] == 20
    assert out["spark.jobs_per_op"] == 2
    assert out["spark.tasks_per_op"] == 5
    assert out["trace.spans_per_op"] == 4.5
    # the .ms metrics add up to the mean traced op latency
    total = sum(v for k, v in out.items()
                if k.endswith(".ms") and k != "changes.collect.ms")
    assert total == pytest.approx(1000.0)
