import pytest

from perfbench import tracing
from perfbench.tracing import Span, Tracer, covered, self_times, settled_rss_mb


def test_covered_merges_overlaps_and_clips_to_window():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6)
    assert covered([(4, 6), (0, 2)], 0, 10) == pytest.approx(4)
    assert covered([(11, 12), (3, 3)], 0, 10) == 0
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_only_direct_children():
    spans = [
        Span(0, "op", "a", None, 0.0, 10.0),
        Span(1, "build", "a", 0, 1.0, 3.0),
        Span(2, "action", "a", 0, 2.0, 5.0),  # overlaps build: counted once
        Span(3, "stage", "a", 2, 2.5, 4.5),   # grandchild of op
        Span(4, "late", "a", 0, 8.0, 12.0),   # runs past its parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(3 - 2)
    assert st[3] == pytest.approx(2)
    assert st[4] == pytest.approx(4)


def test_tracer_nests_spans_and_shares_the_operation_id():
    t = Tracer(True)
    with t.span("op", op_id="007:q"):
        with t.span("build"):
            with t.span("stage"):
                pass
    with t.span("other", op_id="008:r"):
        pass
    by_name = {s.name: s for s in t.spans}
    assert by_name["build"].op_id == by_name["stage"].op_id == "007:q"
    assert by_name["build"].parent == by_name["op"].span_id
    assert by_name["stage"].parent == by_name["build"].span_id
    assert by_name["other"].parent is None and by_name["other"].op_id == "008:r"
    exported = t.export()
    assert {e["name"] for e in exported} == {"op", "build", "stage", "other"}
    assert all("self_s" in e for e in exported)


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("op", op_id="x") as s:
        with t.span("child"):
            pass
    assert s is None and t.spans == []


def test_settled_rss_waits_until_the_resident_set_stops_falling(monkeypatch):
    # the JVM's heap being returned to the OS after a collection, then
    # a small rise once it has stopped
    readings = iter([3000, 3000, 2400, 1500, 900, 901] + [900] * 50)
    monkeypatch.setattr(tracing, "rss_mb", lambda pid: next(readings))
    assert settled_rss_mb([1], interval_s=0.01, quiet_s=0.05) == 900
