"""Unit tests for the benchmark's span and statistics helpers.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


def test_self_time_subtracts_children():
    spans = [
        Span("root", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 5.0, 6.0, parent=0),
        Span("a.child", 2.0, 3.0, parent=1),
    ]
    assert tracing.self_times(spans) == pytest.approx([6.0, 2.0, 1.0, 1.0])


def test_self_time_counts_overlapping_children_once():
    # children submitted from a thread pool overlap in time
    spans = [
        Span("root", 0.0, 10.0),
        Span("t1", 1.0, 5.0, parent=0),
        Span("t2", 3.0, 7.0, parent=0),
        Span("t3", 6.5, 6.8, parent=0),
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    spans = [Span("root", 0.0, 2.0), Span("late", 1.0, 5.0, parent=0)]
    assert tracing.self_times(spans)[0] == pytest.approx(1.0)


def test_span_without_children_is_all_self():
    assert tracing.self_times([Span("x", 3.0, 3.5)]) == pytest.approx([0.5])


@pytest.mark.parametrize("n,p", [
    (1, 50.0), (5, 50.0), (19, 50.0), (20, 50.0), (99, 50.0),
    (100, 90.0), (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9),
])
def test_reported_percentile_keeps_ten_samples_beyond(n, p):
    assert measure.reported_percentile(n) == p


def test_percentile_interpolates_and_p50_is_median():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert measure.percentile(xs, 50) == 3.0
    assert measure.percentile([1.0, 2.0], 50) == 1.5
    assert measure.percentile(list(range(101)), 90) == 90.0


def test_latency_summary_reports_sample_count():
    s = measure.latency_summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["reported_percentile"] == 90.0
    assert s["p50"] == 49.5


@pytest.mark.parametrize("text,value", [
    ("18 ms", 0.018),
    ("0 ms", 0.0),
    ("total (min, med, max (stageId: taskId))\n9.2 s (2.2 s, 2.3 s, 2.4 s "
     "(stage 2.0: task 5))", 9.2),
    ("total (min, med, max (stageId: taskId))\n81.3 KiB (20.3 KiB, 20.3 KiB, "
     "20.3 KiB (stage 2.0: task 7))", 81.3 * 1024),
    ("1.5 min", 90.0),
    ("0.0 B", 0.0),
])
def test_parse_sql_metric(text, value):
    assert tracing.parse_metric(text) == pytest.approx(value)


def test_tracer_off_records_nothing():
    t = tracing.Tracer(enabled=False)
    res, wall = t.call("hnsw.build_hnsw", lambda: 7)
    assert res == 7 and wall >= 0.0 and t.spans == []


def test_tracer_per_call_means_and_zero_for_absent_calls():
    t = tracing.Tracer(enabled=True)
    with t.span("phase.timed"):
        t.call("hnsw.hnsw_search_df", lambda: None)
        t.call("hnsw.hnsw_search_df", lambda: None)
    t.phase = "warmup"
    t.call("knn.knn_join", lambda: None)
    per = t.per_call()
    assert set(per) == {f"{c}.{m}" for c in tracing.CALLS for m in tracing.MEASURES}
    assert per["knn.knn_join.wall_s"] == 0.0  # warm-up calls are excluded
    assert per["hnsw.hnsw_insert.jobs"] == 0.0
    assert t.call_counts() == {"hnsw.hnsw_search_df": 2, "knn.knn_join": 1}
    dump = t.dump()
    assert dump[1]["parent"] == 0 and dump[0]["self_s"] <= dump[0]["end"] - dump[0]["start"]


def test_rss_sampler_sees_this_process_and_stops():
    s = measure.RssSampler().start()
    peak = s.stop()
    assert peak > 1.0 and s.samples >= 1
    assert not s._thread.is_alive()
