"""Read an uncompressed Spark JSON event log and total its work per span.

Each traced call sets the ``perfbench.span`` local property before it
submits Spark jobs, so every ``SparkListenerJobStart`` carries the id
of the innermost span open in the submitting thread. Tasks are tied to
jobs through their stage ids. The reader returns one ``Job`` per job,
with its span id, interval and task counters; ``span_counters`` then
sums them per span, including every descendant span's jobs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "scheduler_delay_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "output_rows",
)


@dataclass
class Job:
    job_id: int
    span: str | None
    start_ms: int
    end_ms: int
    stage_ids: set[int] = field(default_factory=set)
    counters: dict[str, float] = field(default_factory=dict)


def _task_counters(ev: dict) -> dict[str, float]:
    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
    run = m.get("Executor Run Time", 0)
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    # Spark UI's definition: wall time of the task not spent running,
    # (de)serializing or shipping its result.
    delay = (finish - launch) - run - m.get("Executor Deserialize Time", 0) - m.get(
        "Result Serialization Time", 0
    ) - info.get("Getting Result Time", 0)
    sr, sw, out = (
        m.get("Shuffle Read Metrics", {}),
        m.get("Shuffle Write Metrics", {}),
        m.get("Output Metrics", {}),
    )
    return {
        "tasks": 1,
        "executor_run_ms": run,
        "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "scheduler_delay_ms": max(delay, 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "output_bytes": out.get("Bytes Written", 0),
        "output_rows": out.get("Records Written", 0),
    }


def _event_files(path: str) -> list[str]:
    """The files of one application's log, in order: a plain log file,
    or Spark's rolling layout (``eventlog_v2_<app>/events_<n>_<app>``),
    found under ``path`` when it is the log directory."""
    if not os.path.isdir(path):
        return [path]
    (name,) = [n for n in os.listdir(path) if not n.startswith(".")]
    path = os.path.join(path, name)
    if not os.path.isdir(path):
        return [path]
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]


def _events(path: str):
    for fp in _event_files(path):
        with open(fp) as f:
            for line in f:
                yield json.loads(line)


def read_jobs(path: str) -> list[Job]:
    """Jobs of one application's event log under ``path``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, dict[str, float]] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job = Job(jid, props.get(SPAN_PROP), ev["Submission Time"], ev["Submission Time"])
            job.stage_ids = set(ev.get("Stage IDs", []))
            for sid in job.stage_ids:
                stage_job.setdefault(sid, jid)
            jobs[jid] = job
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            acc = stage_tasks.setdefault(ev["Stage ID"], {})
            for k, v in _task_counters(ev).items():
                acc[k] = acc.get(k, 0) + v
    for sid, acc in stage_tasks.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is None:
            continue
        job.counters["stages"] = job.counters.get("stages", 0) + 1
        for k, v in acc.items():
            job.counters[k] = job.counters.get(k, 0) + v
    for job in jobs.values():
        job.counters["jobs"] = 1
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_counters(spans: list[dict], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """Counters per span id, each including the jobs of its descendant
    spans, plus ``driver_ms``: the span's wall time not covered by any
    of those jobs (plan building, metadata, Python)."""
    children: dict[str, list[str]] = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append(s["id"])
    by_span: dict[str, list[Job]] = {}
    for job in jobs:
        if job.span is not None:
            by_span.setdefault(job.span, []).append(job)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        todo, mine = [s["id"]], []
        while todo:
            sid = todo.pop()
            mine.extend(by_span.get(sid, []))
            todo.extend(children.get(sid, []))
        acc = {k: 0.0 for k in COUNTERS}
        for job in mine:
            for k, v in job.counters.items():
                acc[k] += v
        lo, hi = s["start_ms"], s["end_ms"]
        busy = _union_ms([(max(j.start_ms, lo), min(j.end_ms, hi)) for j in mine if j.end_ms > lo and j.start_ms < hi])
        acc["driver_ms"] = max(hi - lo - busy, 0.0)
        out[s["id"]] = acc
    return out
