"""Span self-time arithmetic and the Spark event-log rollup."""

import os

import pytest

from perfbench import trace

DATA = os.path.join(os.path.dirname(__file__), "data")


def _span(start, end, parent=None):
    return trace.Span("s", start, end, parent=parent)


def test_self_time_no_children():
    assert trace.self_time(_span(0, 5), []) == 5


def test_self_time_disjoint_children():
    parent = _span(0, 10)
    assert trace.self_time(parent, [_span(1, 3), _span(6, 7)]) == 7


def test_self_time_overlapping_children_count_once():
    parent = _span(0, 10)
    assert trace.self_time(parent, [_span(1, 5), _span(4, 6), _span(5.5, 6)]) == 5


def test_self_time_clips_children_to_parent():
    parent = _span(2, 10)
    assert trace.self_time(parent, [_span(0, 4), _span(9, 12), _span(11, 13)]) == 5


def test_tracer_nesting_without_spark():
    tr = trace.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    outer, a, b = tr.spans
    assert outer.parent is None and a.parent == 0 and b.parent == 0
    assert tr.groups_under(0) == {outer.group, a.group, b.group}
    assert tr.self_seconds(0) == pytest.approx(outer.seconds - a.seconds - b.seconds)


def test_parse_recorded_event_log():
    """A log recorded from a small local[2] run: an untagged warm-up job,
    a job group "g-agg" (a shuffle aggregation: 2 jobs), and a job group
    "g-udf" running an Arrow UDF on Python workers."""
    with open(os.path.join(DATA, "eventlog_small.jsonl"), encoding="utf-8") as f:
        stats = trace.parse_event_log(f)
    assert set(stats) == {"", "g-agg", "g-udf"}
    assert stats["g-agg"].jobs >= 1
    assert stats["g-agg"].shuffle_bytes > 0
    assert stats["g-udf"].python_s > 0
    assert stats["g-agg"].python_s == 0
    for st in stats.values():
        assert st.task_s >= 0 and st.spill_bytes >= 0
    total = trace.GroupStats()
    for st in stats.values():
        total = total.add(st)
    assert total.jobs == sum(st.jobs for st in stats.values())
