import pytest

from spans import Span, SpanRecorder, self_times


def span(name, start, end, span_id, parent=None):
    return Span(name, start, end, span_id, parent, "run")


def test_self_time_subtracts_children():
    spans = [
        span("root", 0.0, 10.0, 0),
        span("a", 1.0, 3.0, 1, parent=0),
        span("b", 5.0, 9.0, 2, parent=0),
        span("a.child", 1.5, 2.0, 3, parent=1),
    ]
    st = self_times(spans)
    assert st["root"] == pytest.approx(10 - 2 - 4)
    assert st["a"] == pytest.approx(2 - 0.5)
    assert st["b"] == pytest.approx(4)
    assert st["a.child"] == pytest.approx(0.5)


def test_self_time_merges_overlapping_children():
    # two concurrent children covering [1, 6] must be subtracted once
    spans = [
        span("root", 0.0, 10.0, 0),
        span("x", 1.0, 4.0, 1, parent=0),
        span("y", 2.0, 6.0, 2, parent=0),
    ]
    assert self_times(spans)["root"] == pytest.approx(10 - 5)


def test_self_time_clips_children_to_parent():
    spans = [span("root", 0.0, 2.0, 0), span("late", 1.0, 5.0, 1, parent=0)]
    assert self_times(spans)["root"] == pytest.approx(1.0)


def test_self_time_sums_repeated_names():
    spans = [span("job", 0.0, 1.0, 0), span("job", 2.0, 4.0, 1)]
    assert self_times(spans)["job"] == pytest.approx(3.0)


def test_recorder_nests_and_pauses():
    rec = SpanRecorder("run")
    with rec.span("outer"):
        with rec.span("inner"):
            pass
        with rec.paused():
            with rec.span("hidden"):
                pass
        rec.add("added", 0.0, 0.0)
    names = {s.name: s for s in rec.spans}
    assert set(names) == {"outer", "inner", "added"}
    assert names["inner"].parent == names["outer"].span_id
    assert names["added"].parent == names["outer"].span_id
    assert names["outer"].parent is None
    assert names["outer"].end >= names["inner"].end


def test_disabled_recorder_records_nothing():
    rec = SpanRecorder("run", enabled=False)
    with rec.span("x"):
        pass
    rec.add("y", 0.0, 1.0)
    assert rec.spans == []


def test_worker_rss_counts_only_pyspark_descendants():
    import os
    import subprocess
    import sys

    from spans import _descendants, python_worker_rss_bytes

    assert python_worker_rss_bytes() == 0
    # a child whose command line names the PySpark daemon module
    child = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(30)", "pyspark.daemon"]
    )
    try:
        assert child.pid in _descendants(os.getpid())
        assert python_worker_rss_bytes() > 0
    finally:
        child.kill()
        child.wait(timeout=10)
    assert python_worker_rss_bytes() == 0
