"""Per-layer metrics of a traced run.

Layers are named by module. Each span's wall time (``<span>_ms``) and
the Spark counters of the jobs submitted inside it, child spans
included (``<span>.<counter>``, read from the run's event log), are
totalled over the measured part of the run and divided by the unit of
work the span serves, which its unit names: ingest spans per 1,000
changes applied (``/kchange``), lookup spans per lookup, registry and
catalog spans per entry executed. A layer the workload does not reach
reports 0. The span dump with every span's
counters, and for ``warehouse_queries`` the per-entry build/exec
record, are written side by side under ``.perfbench_work/trace/``.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench import eventlog
from perfbench.workloads import END_TO_END, WALL, dump_json

TIMED_SPANS = (
    "sources.changes.read",
    "streaming.ingest.parse",
    "operators.document.flatten",
    "operators.document.conform",
    "operators.upsert.checkpoint_write",
    "warehouse.process_batch",
    "warehouse.merge_type",
    "warehouse.prune",
    "warehouse.publish",
    "warehouse.commit",
    "warehouse.lookup_build",
    "warehouse.lookup_exec",
    "catalog.load_table",
    "plans.build",
    "plans.exec",
)
# Spans whose Spark counters are reported (the 128-metric cap keeps
# the ones a change to one layer is most likely to move).
COUNTED_SPANS = (
    "sources.changes.read",
    "streaming.ingest.parse",
    "warehouse.process_batch",
    "operators.upsert.checkpoint_write",
    "warehouse.lookup_exec",
    "plans.build",
    "plans.exec",
)
SPARK_COUNTERS = eventlog.COUNTERS + ("driver_ms",)
LISTENER = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.latest_offset_ms": "latestOffset",
}


def _per(span: str) -> str:
    """The unit of work a span's totals are divided by."""
    if span.startswith("warehouse.lookup"):
        return "lookup"
    if span.startswith(("plans.", "catalog.")):
        return "entry"
    return "kchange"


def _unit(counter: str, span: str) -> str:
    kind = "ms" if counter.endswith("ms") else ("bytes" if counter.endswith("_bytes") else "count")
    return f"{kind}/{_per(span)}"


UNITS: dict[str, str] = {f"{s}_ms": _unit("ms", s) for s in TIMED_SPANS}
UNITS.update({k: "ms/batch" for k in LISTENER})
UNITS.update(
    {
        "warehouse.files_added": "count/commit",
        "warehouse.files_carried": "count/commit",
        "warehouse.rows_written_per_change": "ratio",
        "catalog.load_table_calls": "count/entry",
        "catalog.memo_hit_ratio": "ratio",
    }
)
for _s in COUNTED_SPANS:
    for _c in SPARK_COUNTERS:
        UNITS[f"{_s}.{_c}"] = _unit(_c, _s)
UNITS.update({f"traced.{k}": u for k, u in END_TO_END.items()})
UNITS.update({f"traced.wall.{k}": u for k, u in WALL.items()})


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(bench, res, out_prefix: str) -> dict[str, float]:
    spans = bench.tracer.dump() if bench.tracer else []
    jobs = eventlog.read_jobs(bench.event_dir)
    counters = eventlog.span_counters(spans, jobs)
    by_name: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    units = {
        "kchange": res.layers.get("changes", 0) / 1000,
        "lookup": len(by_name["warehouse.lookup_exec"]),
        "entry": len(by_name["plans.build"]),
    }

    def per_unit(span: str, values) -> float:
        n = units[_per(span)]
        return sum(values) / n if n else 0.0

    out = {k: 0.0 for k in UNITS}
    for name in TIMED_SPANS:
        out[f"{name}_ms"] = per_unit(name, (s["end_ms"] - s["start_ms"] for s in by_name[name]))
    for name in COUNTED_SPANS:
        for c in SPARK_COUNTERS:
            out[f"{name}.{c}"] = per_unit(name, (counters[s["id"]][c] for s in by_name[name]))

    batches = res.layers.get("listener", [])
    for key, field in LISTENER.items():
        out[key] = statistics.median(b.get(field, 0) for b in batches) if batches else 0.0

    added = [s["attrs"].get("files_added", 0) for s in by_name["warehouse.publish"]]
    total = [s["attrs"].get("files_total", 0) for s in by_name["warehouse.commit"]]
    if total and len(added) == len(total):
        out["warehouse.files_added"] = _mean(added)
        out["warehouse.files_carried"] = _mean(t - a for t, a in zip(total, added))
    changes = res.layers.get("changes", 0)
    if changes:
        written = sum(counters[s["id"]]["output_rows"] for s in by_name["warehouse.merge_type"])
        out["warehouse.rows_written_per_change"] = written / changes
    loads = by_name["catalog.load_table"]
    if loads:
        out["catalog.load_table_calls"] = per_unit("catalog.load_table", [len(loads)])
        out["catalog.memo_hit_ratio"] = _mean(1.0 if s["attrs"].get("hit") else 0.0 for s in loads)
    for k in END_TO_END:
        out[f"traced.{k}"] = res.metrics[k]
    for k in WALL:
        out[f"traced.wall.{k}"] = res.wall[k]

    dump_json(f"{out_prefix}-spans.json", [{**s, "spark": counters[s["id"]]} for s in spans])
    if "entries" in res.layers:
        entries = res.layers["entries"]
        for name, rec in entries.items():
            for phase in ("build", "exec"):
                mine = [s for s in by_name[f"plans.{phase}"] if s["attrs"].get("entry") == name]
                for c in SPARK_COUNTERS:
                    rec[f"{phase}.{c}"] = _mean(counters[s["id"]][c] for s in mine)
        dump_json(f"{out_prefix}-entries.json", entries)
    return out
