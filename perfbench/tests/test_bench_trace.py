"""Span self-time arithmetic and event-log attribution."""

import json

import pytest

from perfbench import trace
from perfbench.trace import Span


def test_self_time_on_a_hand_built_tree():
    # pass [0, 10]: extract [1, 4] with child mentions [2, 3];
    # stats [5, 9] with children [5, 6] and [7, 8.5]
    spans = [
        Span(0, "pass", None, 0, 0.0, 10.0),
        Span(1, "extract", 0, 0, 1.0, 4.0),
        Span(2, "mentions", 1, 0, 2.0, 3.0),
        Span(3, "stats", 0, 0, 5.0, 9.0),
        Span(4, "stats.a", 3, 0, 5.0, 6.0),
        Span(5, "stats.b", 3, 0, 7.0, 8.5),
    ]
    st = trace.self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 1.5, 4: 1.0, 5: 1.5})
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_by_name_sums_repeats_and_filters_iterations():
    spans = [
        Span(0, "pass", None, 0, 0.0, 4.0),
        Span(1, "counts.append", 0, 0, 0.0, 1.0),
        Span(2, "counts.append", 0, 0, 2.0, 3.0),
        Span(3, "pass", None, 1, 10.0, 11.0),
    ]
    assert trace.self_time_by_name(spans, 0) == pytest.approx({"pass": 2.0, "counts.append": 2.0})
    assert trace.self_time_by_name(spans, 1) == pytest.approx({"pass": 1.0})


def test_tracer_nests_and_counts():
    t = trace.Tracer()
    t.iteration = 0
    with t.span("pass"):
        with t.span("stats.a"):
            t.count("rows", 3)
            t.count("rows", 4)
            t.max("live", 2)
            t.max("live", 1)
        assert t.current() == "pass"
    a = t.spans[1]
    assert (a.parent, a.counts) == (0, {"rows": 7, "live": 2})
    assert t.current() is None
    assert trace.counts_by_name(t.spans)["stats.a"]["rows"] == 7


def test_task_metrics_groups_tasks_by_job_group(tmp_path):
    def task(stage, run_ms, gc_ms, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms, "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "stats.a"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [3], "Properties": {}},
        task(1, 100, 10, 7), task(1, 100, 0, 0), task(2, 400, 0, 1), task(3, 999, 0, 0),
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = trace.task_metrics(tmp_path)
    assert list(m) == ["stats.a"]
    a = m["stats.a"]
    assert a["tasks"] == 3 and a["run_s"] == pytest.approx(0.6) and a["gc_s"] == pytest.approx(0.01)
    assert a["shuffle_write_bytes"] == 8 and a["spill_bytes"] == 15
    assert a["task_skew"] == pytest.approx(4.0)
