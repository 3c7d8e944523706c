import pytest

from spans import Span, Tracer, coverage, self_times


def _clock(times):
    it = iter(times)
    return lambda: next(it)


def test_self_time_subtracts_children():
    spans = [Span("job", 0.0, 10.0, None, "r"),
             Span("a", 1.0, 4.0, 0, "r"),
             Span("b", 4.0, 9.0, 0, "r"),
             Span("b.child", 5.0, 6.5, 2, "r")]
    assert self_times(spans) == pytest.approx([2.0, 3.0, 3.5, 1.5])
    # every span below the root: 3 + 3.5 + 1.5 = 8 of 10 s
    assert coverage(spans, 0) == pytest.approx(0.8)


def test_self_time_counts_overlapping_children_once():
    spans = [Span("p", 0.0, 10.0, None, "r"),
             Span("c1", 1.0, 5.0, 0, "r"),
             Span("c2", 3.0, 7.0, 0, "r"),
             Span("c3", 12.0, 13.0, 0, "r")]  # outside the parent: clipped away
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_tracer_nests_and_reports_innermost_span():
    seen = []
    t = Tracer("run1", on_change=seen.append, clock=_clock([0.0, 1.0, 3.0, 6.0]))
    with t.span("job"):
        with t.span("layer"):
            pass
    assert [(s.name, s.start, s.end, s.parent, s.run_id) for s in t.spans] == [
        ("job", 0.0, 6.0, None, "run1"), ("layer", 1.0, 3.0, 0, "run1")]
    assert seen == ["job", "layer", "job", None]


def test_tracer_closes_span_when_the_call_raises():
    t = Tracer("r", clock=_clock([0.0, 2.0]))
    with pytest.raises(RuntimeError):
        with t.span("boom"):
            raise RuntimeError
    assert t.spans[0].duration == 2.0
