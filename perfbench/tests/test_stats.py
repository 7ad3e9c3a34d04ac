"""The benchmark's own statistics: the tail-percentile rule, interval
unions and driver gap, span self time, and event-log parsing against a
recorded fixture (a trimmed event log of one warped cube build and the
first job of its no-op rebuild).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench.tracing import (GroupStats, Tracer, driver_gap, median,
                               parse_event_log, read_event_log,
                               tail_percentile, union_length)

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


def test_tail_percentile_requires_ten_samples_beyond():
    assert tail_percentile(range(19)) is None          # p50 has 9 above
    assert tail_percentile(range(20)) == (50.0, 9)      # p50 has 10 above
    assert tail_percentile(range(1, 101)) == (90.0, 90)
    assert tail_percentile(range(1, 1001)) == (99.0, 990)
    assert tail_percentile(range(1, 10001)) == (99.9, 9990)


def test_tail_percentile_counts_only_samples_strictly_above():
    # 15 ties at the median value: only 9 samples lie above it
    assert tail_percentile([1.0] * 15 + [2.0] * 9) is None
    assert tail_percentile([1.0] * 15 + [2.0] * 10) == (50.0, 1.0)


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_union_length_merges_and_clips():
    assert union_length([]) == 0.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 2), (2, 3)]) == 3.0
    assert union_length([(0, 10)], 2, 5) == 3.0
    assert union_length([(0, 1), (8, 12)], 2, 10) == 2.0
    assert union_length([(3, 3), (5, 4)]) == 0.0


def test_driver_gap_is_wall_minus_union_of_jobs():
    # span 0..10; jobs 1..3 and 2..4 overlap (union 3 s); 9..12 is
    # clipped to 1 s; 20..21 lies outside the span
    jobs = [(1, 3), (2, 4), (9, 12), (20, 21)]
    assert driver_gap(0, 10, jobs) == pytest.approx(10 - 4)
    assert driver_gap(0, 10, []) == 10


def test_tracer_self_time_subtracts_children():
    t = Tracer()
    with t.span("op", "op:0"):
        with t.span("child"):
            pass
        with t.span("child"):
            with t.span("grandchild"):
                pass
    op, c1, c2, g = t.spans
    # fix the clock so the arithmetic is exact
    op.start, op.end = 0.0, 10.0
    c1.start, c1.end = 1.0, 3.0
    c2.start, c2.end = 2.0, 6.0
    g.start, g.end = 4.0, 5.0
    assert [s.op for s in t.spans] == ["op:0"] * 4
    assert (c1.parent, c2.parent, g.parent) == (op.id, op.id, c2.id)
    assert t.self_time(op) == pytest.approx(5.0)      # 10 - |[1, 6]|
    assert t.self_time(c2) == pytest.approx(3.0)
    assert t.self_times() == pytest.approx(
        {"op": 5.0, "child": 2.0 + 3.0, "grandchild": 1.0})


def test_event_log_fixture():
    stats, intervals = read_event_log(FIXTURES)
    assert set(stats) == {"op-1", "op-2"}
    build = stats["op-1"]
    assert (build.jobs, build.stages, build.tasks, build.task_failures) == (2, 2, 6, 0)
    assert build.executor_run_s == pytest.approx(9.957)
    assert build.executor_cpu_s == pytest.approx(0.824352402)
    assert build.shuffle_write_mb == pytest.approx(120719 / 2**20)
    assert build.shuffle_read_mb == 0.0
    assert intervals["op-1"] == [(1792194043.969, 1792194044.402),
                                 (1792194045.019, 1792194047.684)]
    rebuild = stats["op-2"]
    assert (rebuild.jobs, rebuild.stages, rebuild.tasks) == (1, 1, 1)
    # the build op's span: 1 s before its first job until 1 s after its last
    gap = driver_gap(1792194042.969, 1792194048.684, intervals["op-1"])
    assert gap == pytest.approx(5.715 - 0.433 - 2.665)


def _ev(**kw):
    return json.dumps(kw)


def test_event_log_failures_shuffle_read_and_foreign_jobs():
    lines = [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 7, "Submission Time": 1000,
            "Properties": {"spark.jobGroup.id": "q:0"}}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 8, "Submission Time": 1000,
            "Properties": {}}),                            # no group: not an op
        _ev(Event="SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": 3},
            "Properties": {"spark.jobGroup.id": "q:0"}}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 3, "Task End Reason": {"Reason": "ExceptionFailure"},
            "Task Info": {"Failed": True},
            "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 250,
                             "Disk Bytes Spilled": 2**20,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 2**19,
                                                      "Local Bytes Read": 2**19}}}),
        _ev(Event="SparkListenerTaskEnd", **{
            "Stage ID": 3, "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Failed": False}, "Task Metrics": {}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 99,   # stage of no op
            "Task End Reason": {"Reason": "Success"}, "Task Metrics": {}}),
        _ev(Event="SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 3}}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 7, "Completion Time": 3500}),
        _ev(Event="SparkListenerJobEnd", **{"Job ID": 8, "Completion Time": 3500}),
        _ev(Event="SomethingNew"),
        "",
    ]
    stats, intervals = parse_event_log(lines)
    assert stats == {"q:0": GroupStats(
        jobs=1, stages=1, tasks=2, task_failures=1, executor_run_s=0.5,
        gc_s=0.25, shuffle_read_mb=1.0, spill_mb=1.0)}
    assert intervals == {"q:0": [(1.0, 3.5)]}
