"""Self time from nested spans, and that tracing off records nothing."""

from __future__ import annotations

import pytest

from perfbench.trace import Span, Tracer, self_time


def spans(*rows):
    return [Span(name, start, end, parent) for name, start, end, parent in rows]


def test_self_time_subtracts_children():
    s = spans(("pass", 0.0, 10.0, None), ("a", 1.0, 3.0, 0), ("b", 4.0, 8.0, 0))
    assert self_time(s, 0) == pytest.approx(4.0)
    assert self_time(s, 1) == pytest.approx(2.0)


def test_overlapping_children_are_counted_once():
    s = spans(("pass", 0.0, 10.0, None), ("a", 1.0, 5.0, 0), ("b", 3.0, 6.0, 0))
    assert self_time(s, 0) == pytest.approx(5.0)


def test_grandchildren_belong_to_their_parent():
    s = spans(("pass", 0.0, 10.0, None), ("a", 2.0, 6.0, 0), ("a.x", 3.0, 5.0, 1))
    assert self_time(s, 0) == pytest.approx(6.0)
    assert self_time(s, 1) == pytest.approx(2.0)


def test_child_outside_parent_is_clipped():
    s = spans(("pass", 0.0, 4.0, None), ("late", 3.0, 9.0, 0))
    assert self_time(s, 0) == pytest.approx(3.0)


def test_tracer_nesting_and_off_switch():
    t = Tracer("r", enabled=True)
    with t.span("outer", spark=False):
        with t.span("inner", spark=False):
            pass
    assert [(s.name, s.parent, s.run_id) for s in t.spans] == [("outer", None, "r"), ("inner", 0, "r")]
    off = Tracer("r", enabled=False)
    with off.span("outer") as sp:
        assert sp is None
    assert off.spans == []
