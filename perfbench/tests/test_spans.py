"""Fold and self-time arithmetic of the benchmark's tracing, on a
hand-built span tree and a tiny event log.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import spans  # noqa: E402


def _span(i, parent, start, end, name="s"):
    return {"id": i, "name": name, "parent": parent, "pass": 0, "start": start, "end": end,
            "group": f"g{i}", "rows": None}


def test_self_time_subtracts_union_of_children():
    tree = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 6.0),   # overlaps span 1: the union 1..6 counts once
        _span(3, 2, 2.5, 3.5),   # grandchild: only its parent's self time shrinks
        _span(4, 0, 9.0, 12.0),  # runs past the parent's end: clipped at 10
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(4.0 - 1.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def _task_end(stage, launch, shuffle_bytes=0, py=()):
    acc = [{"ID": 1, "Name": name, "Update": str(v), "Value": str(v), "Metadata": "sql"} for name, v in py]
    acc.append({"ID": 9, "Name": "internal.metrics.executorRunTime", "Update": 5, "Value": 5})
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Accumulables": acc},
            "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes}}}


def test_fold_event_log_by_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                                                                "Submission Time": 1000}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0,
                                                                "Submission Time": 2000}},
        _task_end(0, 1500, shuffle_bytes=2_000_000,
                  py=[(spans.PY_SENT, 1_000_000), (spans.PY_RETURNED, 500_000)]),
        _task_end(0, 1250, shuffle_bytes=1_000_000),
        _task_end(1, 2100),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0,
                                                                "Submission Time": 3000}},
        _task_end(2, 3000),
    ]
    lines = [json.dumps(e) for e in events] + ["", '{"Event": "SparkListenerTaskEnd", "Sta']
    fold = spans.fold_event_log(lines)
    g1 = fold["g1"]
    assert g1["jobs"] == 1 and g1["tasks"] == 3
    assert g1["queue_s"] == pytest.approx(0.5 + 0.25 + 0.1)
    assert g1["shuffle_mb"] == pytest.approx(3.0)
    assert g1["py_mb"] == pytest.approx(1.5)
    assert fold[None]["jobs"] == 1 and fold[None]["tasks"] == 1 and fold[None]["queue_s"] == 0.0


def test_tracer_nesting_without_spark():
    tr = spans.Tracer()
    with tr.span("outer", pass_id=3):
        with tr.span("inner") as inner:
            inner["rows"] = 7
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["pass"] == 3 and inner["rows"] == 7
    assert outer["group"] is None and outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
