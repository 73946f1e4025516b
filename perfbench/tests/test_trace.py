"""Self-time arithmetic of the span tracer."""

import pytest

from perfbench.trace import Span, Tracer, covered, layer_self_times, self_times


def spans(*rows):
    return [Span(i, name, start, end, parent, "r") for i, (name, start, end, parent) in enumerate(rows)]


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(4, 4), (6, 5)]) == 0  # empty and inverted


def test_self_time_is_duration_minus_children():
    s = spans(
        ("op", 0.0, 10.0, None),
        ("pipeline.run_pipeline", 0.5, 9.5, 0),
        ("pipeline.staging", 1.0, 2.0, 1),
        ("pipeline.decisions_write", 2.5, 6.0, 1),
        ("pipeline.decisions_write", 6.5, 8.0, 1),
    )
    t = self_times(s)
    assert t[0] == pytest.approx(1.0)
    assert t[1] == pytest.approx(9.0 - 1.0 - 3.5 - 1.5)
    assert t[3] == pytest.approx(3.5)
    layers = layer_self_times(s)
    assert layers["pipeline.decisions_write"] == pytest.approx(5.0)
    # the self times of a tree add up to the root's duration
    assert sum(t.values()) == pytest.approx(10.0)


def test_overlapping_children_are_not_counted_twice():
    s = spans(("p", 0.0, 4.0, None), ("a", 0.0, 3.0, 0), ("b", 1.0, 4.0, 0))
    assert self_times(s)[0] == pytest.approx(0.0)


def test_child_spilling_past_parent_is_clipped():
    # status-store times have millisecond resolution and may pass the parent's end
    s = spans(("p", 0.0, 2.0, None), ("a", 1.5, 2.001, 0))
    assert self_times(s)[0] == pytest.approx(1.5)


def test_tracer_nests_and_disabled_records_nothing():
    tr = Tracer("run")
    with tr.span("op") as root:
        with tr.span("child") as child:
            pass
    assert tr.spans[child].parent == root and tr.spans[root].parent is None
    assert all(r["run_id"] == "run" and "self_s" in r for r in tr.records())
    off = Tracer("run", enabled=False)
    with off.span("op") as sid:
        assert sid is None
    assert off.spans == []
