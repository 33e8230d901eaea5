import os

import pytest

import spans
from spans import Span, Tracer, self_times, tail

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def test_tail_leaves_ten_samples_beyond():
    xs = [float(x) for x in range(100)]
    value, pct, beyond = tail(xs)
    assert (value, pct, beyond) == (89.0, 90.0, 10)
    assert sum(x > value for x in xs) == 10


def test_tail_twenty_one_samples_is_the_minimum_with_ten_beyond():
    xs = [float(x) for x in range(21)]
    value, pct, beyond = tail(xs)
    assert (value, beyond) == (10.0, 10)
    assert pct == pytest.approx(100 * 11 / 21)


def test_tail_falls_back_to_max_below_the_median():
    assert tail([float(x) for x in range(20)]) == (19.0, 100.0, 0)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert tail([]) == (0.0, 100.0, 0)


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    root = Span(1, "iteration", 0, None, 0.0, 10.0)
    a = Span(2, "a", 0, 1, 1.0, 4.0)
    b = Span(3, "b", 0, 1, 3.0, 5.0)  # overlaps a: the union is 1..5
    c = Span(4, "c", 0, 1, 9.0, 12.0)  # runs past the parent: clipped at 10
    grand = Span(5, "g", 0, 2, 2.0, 3.0)
    st = self_times([root, a, b, c, grand])
    assert st[1] == pytest.approx(10 - 4 - 1)
    assert st[2] == pytest.approx(3 - 1)
    assert st[3] == pytest.approx(2)
    assert st[5] == pytest.approx(1)


def test_tracer_self_times_sum_to_iteration_wall():
    tr = Tracer(True)
    with tr.span("iteration", 7) as root:
        with tr.span("a", 7):
            with tr.span("a.inner", 7):
                pass
        with tr.span("b", 7):
            pass
    assert [s.parent for s in tr.spans] == [None, root.id, tr.spans[1].id, root.id]
    assert {s.iteration for s in tr.spans} == {7}
    st = self_times(tr.spans)
    assert sum(st.values()) == pytest.approx(root.dur)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("iteration", 0) as s:
        assert s is None
    assert tr.spans == []
    df = object()
    assert tr.force(df) is df


def test_event_log_charges_jobs_to_their_span():
    """tiny_eventlog.jsonl: a real Spark 4.1 event log (trimmed to the
    fields the parser reads) of a Tracer run: span 1 'iteration' holds
    span 2 (a mapInArrow count) and span 3 (a groupBy collect); a last
    job ran with no span open."""
    got = spans.parse_event_log(os.path.join(DATA, "tiny_eventlog.jsonl"))
    assert set(got) == {2, 3}
    arrow, agg = got[2], got[3]
    assert arrow["jobs"] == 2 and agg["jobs"] == 2
    assert arrow["tasks"] == 3 and agg["tasks"] == 3
    assert arrow["python_s"] > 0 and arrow["python_bytes"] > 0
    assert agg["python_s"] == 0
    assert agg["shuffle_write_mb"] > 0
    assert arrow["failed_tasks"] == agg["failed_tasks"] == 0
    assert arrow["task_busy_s"] >= arrow["python_s"] > 0
