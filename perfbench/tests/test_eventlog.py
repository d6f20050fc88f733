"""Parsing an uncompressed Spark event log into the exec.* metrics."""

from __future__ import annotations

import json

import pytest

from harness import exec_rollup
from spans import find_event_log, parse_event_log


def _task(stage, run, deser, gc, launch, finish, sw=0, sr=(0, 0), spill=(0, 0), failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed, "Killed": False},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor Deserialize Time": deser,
            "JVM GC Time": gc,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Read Metrics": {"Remote Bytes Read": sr[0], "Local Bytes Read": sr[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "perfbench"},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "r0000/collect"}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    _task(0, 100, 10, 5, 1000, 1120, sw=4096),
    _task(0, 80, 20, 0, 1000, 1110, sw=1024, spill=(7, 3)),
    _task(1, 50, 5, 1, 1200, 1260, sr=(100, 300)),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Job Result": {"Result": "JobSucceeded"}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {"spark.jobGroup.id": "r0000/build"}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
    _task(2, 30, 3, 0, 900, 940, failed=True),
    {"Event": "SparkListenerJobEnd", "Job ID": 1,
     "Job Result": {"Result": "JobFailed", "Exception": {"Message": "x"}}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 3}},
    _task(3, 1, 1, 0, 0, 1),
]


@pytest.fixture
def log(tmp_path):
    path = tmp_path / "local-1"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return [str(path)]


def test_groups_jobs_stages_tasks(log):
    groups = parse_event_log(log)
    assert set(groups) == {"r0000/collect", "r0000/build", ""}
    c = groups["r0000/collect"]
    assert (c.jobs, c.failed_jobs, c.stages, c.tasks) == (1, 0, 2, 3)
    assert (c.task_run_ms, c.task_deserialize_ms, c.gc_ms) == (230, 35, 6)
    assert (c.shuffle_write_bytes, c.shuffle_read_bytes, c.spill_bytes) == (5120, 400, 10)
    assert c.task_wall_ms == 120 + 110 + 60
    b = groups["r0000/build"]
    assert (b.jobs, b.failed_jobs, b.tasks, b.failed_tasks) == (1, 1, 1, 1)
    assert groups[""].jobs == 1


def test_exec_rollup_means_per_request(log):
    groups = parse_event_log(log)
    out = {}
    exec_rollup(out, groups, ["r0000/build", "r0000/collect"], n=2, cpus=4, busy_window_s=0.5)
    assert out["exec.jobs"] == 1.0
    assert out["exec.stages"] == 1.5
    assert out["exec.tasks"] == 2.0
    assert out["exec.task_run_ms"] == 130.0
    assert out["exec.shuffle_write_bytes"] == 2560.0
    assert out["exec.failed"] == 2.0  # one failed job, one failed task
    assert out["exec.core_busy_frac"] == pytest.approx((290 + 40) / 1000 / (4 * 0.5))


def test_rolling_log_parts_are_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-9"
    d.mkdir()
    lines = [json.dumps(e) for e in EVENTS]
    # part 10 sorts before part 2 as text; the parser orders numerically
    (d / "events_2_local-9").write_text("\n".join(lines[:8]) + "\n")
    (d / "events_10_local-9").write_text("\n".join(lines[8:]) + "\n")
    (d / "appstatus_local-9").write_text("")
    paths = find_event_log(str(tmp_path), "local-9")
    assert [p.rsplit("/", 1)[1] for p in paths] == ["events_2_local-9", "events_10_local-9"]
    assert parse_event_log(paths)["r0000/build"].failed_jobs == 1


def test_groups_left_out_of_gids_are_not_counted(tmp_path):
    # a benchmark-side job group (the correctness check's query) is
    # parsed but never reaches exec.*
    check = [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
         "Properties": {"spark.jobGroup.id": "r0000/check"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 4}},
        _task(4, 500, 50, 9, 2000, 2600),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Job Result": {"Result": "JobSucceeded"}},
    ]
    path = tmp_path / "local-2"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS + check) + "\n")
    groups = parse_event_log([str(path)])
    assert groups["r0000/check"].tasks == 1
    out = {}
    exec_rollup(out, groups, ["r0000/collect"], n=1, cpus=4, busy_window_s=1.0)
    assert (out["exec.jobs"], out["exec.tasks"], out["exec.task_run_ms"]) == (1.0, 3.0, 230.0)
    assert out["exec.gc_ms"] == 6.0
    assert out["exec.core_busy_frac"] == pytest.approx((120 + 110 + 60) / 1000 / 4)
