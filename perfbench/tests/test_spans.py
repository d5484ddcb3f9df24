"""Span recording and self-time arithmetic."""

from __future__ import annotations

import threading

import pytest

from perfbench.spans import Span, Tracer, layer_summary, load, self_times


def _sp(i, parent, name, start, end):
    return Span(id=i, parent=parent, name=name, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [_sp(1, None, "api", 0.0, 10.0), _sp(2, 1, "cache", 2.0, 5.0), _sp(3, 1, "cache", 6.0, 7.0)]
    assert self_times(spans) == {1: 6.0, 2: 3.0, 3: 1.0}


def test_overlapping_children_count_once():
    # Two children running at once on other threads cover [1, 6] once.
    spans = [_sp(1, None, "p", 0.0, 10.0), _sp(2, 1, "c", 1.0, 5.0), _sp(3, 1, "c", 3.0, 6.0)]
    assert self_times(spans)[1] == pytest.approx(5.0)


def test_child_outliving_parent_is_clipped():
    spans = [_sp(1, None, "p", 0.0, 4.0), _sp(2, 1, "c", 3.0, 9.0)]
    assert self_times(spans)[1] == pytest.approx(3.0)


def test_grandchildren_only_reduce_their_parent():
    spans = [_sp(1, None, "a", 0.0, 10.0), _sp(2, 1, "b", 0.0, 8.0), _sp(3, 2, "c", 0.0, 8.0)]
    assert self_times(spans) == {1: 2.0, 2: 0.0, 3: 8.0}


def test_layer_summary_sums_per_name():
    spans = [_sp(1, None, "api", 0.0, 10.0), _sp(2, 1, "cache", 2.0, 5.0), _sp(3, None, "api", 20.0, 21.0)]
    s = layer_summary(spans)
    assert s["api"] == {"calls": 2, "total_s": 11.0, "self_s": 8.0}
    assert s["cache"] == {"calls": 1, "total_s": 3.0, "self_s": 3.0}


def test_tracer_links_parents_per_thread_and_inherits_request(tmp_path):
    t = Tracer(True)
    with t.span("outer", req="r1"):
        with t.span("inner"):
            pass

        def other():
            with t.span("elsewhere"):
                pass

        th = threading.Thread(target=other)
        th.start()
        th.join(timeout=10)
        assert not th.is_alive()
    by = {s.name: s for s in t.spans}
    assert by["inner"].parent == by["outer"].id and by["inner"].req == "r1"
    assert by["elsewhere"].parent is None and by["elsewhere"].req is None
    assert by["outer"].start <= by["inner"].start <= by["inner"].end <= by["outer"].end
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    assert sorted(s.name for s in load(str(path))) == ["elsewhere", "inner", "outer"]


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []
