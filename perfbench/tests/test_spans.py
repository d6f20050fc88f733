from __future__ import annotations

import pytest

from spans import Span, Tracer, layer_self_times, self_times


def _span(i, parent, layer, start, end):
    return Span(i, parent, "r1", layer, layer, start, end)


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "plans", 1.0, 4.0),
        _span(2, 1, "catalog", 2.0, 3.0),
        _span(3, 0, "exec", 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 3 - 4)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(4)
    by_layer = layer_self_times(spans)
    assert sum(by_layer.values()) == pytest.approx(10.0)
    assert by_layer == pytest.approx({"bench": 3, "plans": 2, "catalog": 1, "exec": 4})


def test_overlapping_children_count_once():
    spans = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "a", 1.0, 5.0),
        _span(2, 0, "b", 3.0, 6.0),
    ]
    assert self_times(spans)[0] == pytest.approx(10 - 5)


def test_tracer_nests_and_shares_request_ids():
    t = Tracer(True)
    with t.span("bench", "req", request="r7"):
        with t.span("plans", "build"):
            pass
        with pytest.raises(ValueError):
            with t.span("exec", "collect"):
                raise ValueError
    outer, build, collect = t.spans
    assert build.parent == outer.id and collect.parent == outer.id
    assert {s.request for s in t.spans} == {"r7"}
    assert collect.failed and not build.failed
    assert outer.end >= collect.end >= collect.start >= build.end


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("bench", "req", request="r1") as s:
        assert s is None
    assert t.spans == []
