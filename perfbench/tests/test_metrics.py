"""Pure helpers of the benchmark: the tail rule, span self time and the
Spark event-log parser."""

from __future__ import annotations

import json

from perfbench.metrics import parse_event_log, self_time_by_name, self_times, tail, tail_index


def test_tail_rule_keeps_ten_samples_beyond():
    assert tail_index(10) is None
    assert tail_index(11) == 0
    assert tail_index(40) == 29
    assert tail(list(range(10))) is None
    value, pct = tail([float(x) for x in range(40, 0, -1)])
    assert (value, pct) == (30.0, 75.0)  # 31..40 lie beyond it


def _span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent, "batch": None}


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("batch", 0.0, 10.0),
        _span("plan", 1.0, 3.0, parent=0),
        _span("exec", 2.5, 7.0, parent=0),  # overlaps plan: covered is 1..7
        _span("kernel", 3.0, 4.0, parent=2),
        _span("batch", 20.0, 21.0),
    ]
    assert self_times(spans) == [4.0, 2.0, 3.5, 1.0, 1.0]
    assert self_time_by_name(spans)["batch"] == (5.0, 2)


def _ev(kind, **fields):
    return json.dumps({"Event": kind, **fields})


CANNED = [
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
                                    "Properties": {"spark.jobGroup.id": "b0"}}),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 0}}),
    _ev("SparkListenerTaskEnd", **{
        "Stage ID": 0,
        "Task Metrics": {
            "Executor Run Time": 1500, "Executor CPU Time": 250_000_000, "JVM GC Time": 20,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 4096},
        },
        "Task Info": {"Accumulables": [
            {"ID": 1, "Name": "data sent to Python workers", "Update": "600", "Value": "600"},
            {"ID": 2, "Name": "data returned from Python workers", "Update": "40", "Value": "40"},
        ]},
    }),
    _ev("SparkListenerTaskEnd", **{
        "Stage ID": 1,
        "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 50_000_000, "JVM GC Time": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 96, "Local Bytes Read": 4000},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
        },
        "Task Info": {"Accumulables": []},
    }),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 1}}),
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2], "Properties": {}}),
    _ev("SparkListenerStageCompleted", **{"Stage Info": {"Stage ID": 2}}),
    _ev("SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {"Executor Run Time": 7}}),
    "",
]


def test_event_log_totals_per_job_group():
    groups = parse_event_log(CANNED)
    assert groups["b0"] == {
        "jobs": 1, "stages": 2, "tasks": 2,
        "shuffle_write_bytes": 4096, "shuffle_read_bytes": 4096,
        "executor_run_s": 2.0, "executor_cpu_s": 0.3, "gc_s": 0.02,
        "bytes_to_worker": 600, "bytes_from_worker": 40,
    }
    assert (groups[""]["jobs"], groups[""]["tasks"], groups[""]["executor_run_s"]) == (1, 1, 0.007)


def test_event_log_order_of_files_does_not_matter():
    assert parse_event_log(CANNED[2:5] + CANNED[:2] + CANNED[5:]) == parse_event_log(CANNED)
