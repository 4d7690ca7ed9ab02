"""The event-log reader on a tiny hand-written log."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402


def _task(stage: int, run: int, cpu_ns: int, sw: int = 0, rows: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": 1_000, "Finish Time": 1_000 + run + 7, "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": 2,
            "Result Serialization Time": 1,
            "JVM GC Time": 3,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 11},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Output Metrics": {"Bytes Written": 100, "Records Written": rows},
        },
    }


def _log(tmp_path) -> str:
    events = [
        {"Event": "SparkListenerApplicationStart"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000, "Stage IDs": [0, 1],
         "Properties": {eventlog.SPAN_PROP: "s2"}},
        _task(0, 40, 30_000_000, sw=64),
        _task(1, 20, 10_000_000, rows=3),
        _task(1, 20, 10_000_000, rows=4),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10_300},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_500, "Stage IDs": [2, 1],
         "Properties": {}},
        _task(2, 5, 1_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 10_600},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # Spark's rolling layout: the log split over numbered files.
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:4]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[4:]) + "\n")
    return str(tmp_path)


def test_jobs_carry_span_and_task_counters(tmp_path):
    jobs = eventlog.read_jobs(_log(tmp_path))
    assert [j.job_id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert (j0.span, j1.span) == ("s2", None)
    assert (j0.start_ms, j0.end_ms) == (10_000, 10_300)
    c = j0.counters
    assert c["jobs"] == 1 and c["stages"] == 2 and c["tasks"] == 3
    assert c["executor_run_ms"] == 80 and c["executor_cpu_ms"] == 50
    assert c["gc_ms"] == 9 and c["spill_bytes"] == 15
    assert c["shuffle_read_bytes"] == 33 and c["shuffle_write_bytes"] == 64
    assert c["output_rows"] == 7 and c["output_bytes"] == 300
    # launch→finish minus run, deserialize and serialize: 7 - 2 - 1 per task.
    assert c["scheduler_delay_ms"] == 12
    # Stage 1 ran under job 0; job 1 only skipped it.
    assert j1.counters["stages"] == 1 and j1.counters["tasks"] == 1


def test_span_counters_include_children_and_driver_time(tmp_path):
    jobs = eventlog.read_jobs(_log(tmp_path))
    spans = [
        {"id": "s1", "name": "outer", "parent": None, "start_ms": 9_900, "end_ms": 10_900},
        {"id": "s2", "name": "inner", "parent": "s1", "start_ms": 9_950, "end_ms": 10_400},
    ]
    out = eventlog.span_counters(spans, jobs)
    assert out["s2"]["jobs"] == 1 and out["s1"]["jobs"] == 1
    assert out["s1"]["tasks"] == 3
    assert out["s2"]["driver_ms"] == 450 - 300
    assert out["s1"]["driver_ms"] == 1_000 - 300
