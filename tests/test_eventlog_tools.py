"""Tests for the BENCH event-log analysis tools (stdlib-only, no Spark).

`bench.py --scaling` prints the app ids of its N and 4N children, and
BENCH/analyze_eventlog.py and BENCH/pair_stage_report.py decompose the
two event logs per stage; a parsing or matching regression there
silently corrupts that decomposition, so the tools get the same
known-answer treatment as the engine: a synthetic two-app event-log
pair with hand-computable walls and task sums.
"""
from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "BENCH"))

from analyze_eventlog import load  # noqa: E402
import pair_stage_report as psr  # noqa: E402


def _write_app(dirpath: str, app_id: str, scale: float) -> None:
    """One SQL execution (Window plan) with 2 tasks, plus one
    AQE-wrapper-only execution that must not affect the signature.
    Task walls scale by `scale` so the 8-vs-32 ratios are exact."""
    plan = {
        "nodeName": "AdaptiveSparkPlan",  # stripped from signature
        "children": [
            {
                "nodeName": "Window",
                "children": [
                    {"nodeName": "Exchange", "children": []},
                    # runtime wrapper: differs between core counts
                    {"nodeName": "ShuffleQueryStage", "children": []},
                ],
            }
        ],
    }
    t0 = 1_000_000
    evs = [
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": 0,
            "time": t0,
            "sparkPlanInfo": plan,
        },
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Stage IDs": [0],
            "Properties": {"spark.sql.execution.id": "0"},
            "Submission Time": t0,
        },
        {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
        },
    ]
    for i, wall_ms in enumerate((1000, 3000)):
        evs.append(
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": 0,
                "Stage Attempt ID": 0,
                "Task Info": {
                    "Launch Time": t0,
                    "Finish Time": t0 + int(wall_ms * scale),
                },
                "Task Metrics": {},
            }
        )
    evs += [
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 0,
                "Stage Attempt ID": 0,
                "Stage Name": "count at NativeMethodAccessorImpl.java:0",
                "Number of Tasks": 2,
                "Submission Time": t0,
                "Completion Time": t0 + int(3000 * scale),
            },
        },
        {
            "Event": "SparkListenerJobEnd",
            "Job ID": 0,
            "Completion Time": t0 + int(3000 * scale),
        },
        {
            "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd",
            "executionId": 0,
            "time": t0 + int(4000 * scale),
        },
    ]
    path = os.path.join(dirpath, f"eventlog_v2_{app_id}")
    with open(path, "w") as f:
        for e in evs:
            f.write(json.dumps(e) + "\n")


@pytest.fixture()
def elog_pair(tmp_path, monkeypatch):
    _write_app(str(tmp_path), "app8", scale=4.0)
    _write_app(str(tmp_path), "app32", scale=1.0)
    monkeypatch.setattr(psr, "ELOG_DIR", str(tmp_path))
    return str(tmp_path)


def test_load_accepts_plain_file(elog_pair):
    evs = load(os.path.join(elog_pair, "eventlog_v2_app8"))
    assert any(e.get("Event") == "SparkListenerTaskEnd" for e in evs)


def test_execution_mins_signature_strips_aqe_wrappers(elog_pair):
    mins = psr.execution_mins("app8")
    assert len(mins) == 1
    (sig, m), = mins.items()
    # AdaptiveSparkPlan / ShuffleQueryStage must NOT appear in the key
    assert sig == "Exchangex1|Windowx1"
    assert m["window"] is True
    assert m["n_tasks"] == 2
    assert m["task_sum_s"] == pytest.approx(16.0)  # (1s+3s) * 4
    assert m["wall_s"] == pytest.approx(16.0)  # 4000ms * 4


def test_compare_matches_by_signature_and_flags_ordered_pass(elog_pair):
    out = psr.compare("app8", "app32")
    assert out["unmatched_sigs"] == []
    (row,) = out["stages"]
    assert row["ordered_pass"] is True
    assert row["wall_speedup"] == pytest.approx(4.0)
    # identical per-row work at both counts -> cost_ratio 4/16 = 0.25
    assert row["cost_ratio"] == pytest.approx(0.25)
    assert row["max_task_32"] == pytest.approx(3.0)
    assert row["label"] == "Window+Exchange"


def test_compare_reports_unmatched_signatures(elog_pair, tmp_path):
    # an app whose only execution has a different algebra must not match
    plan_evs_path = os.path.join(str(tmp_path), "eventlog_v2_alien")
    with open(os.path.join(str(tmp_path), "eventlog_v2_app8")) as f:
        lines = [json.loads(l) for l in f]
    for e in lines:
        if "sparkPlanInfo" in e:
            e["sparkPlanInfo"] = {"nodeName": "HashAggregate", "children": []}
    with open(plan_evs_path, "w") as f:
        for e in lines:
            f.write(json.dumps(e) + "\n")
    out = psr.compare("alien", "app32")
    assert out["stages"] == []
    assert len(out["unmatched_sigs"]) == 2
