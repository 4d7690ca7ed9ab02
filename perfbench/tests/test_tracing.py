"""A wrapped span's jobs are attributed in the event log, including jobs
submitted from the streaming micro-batch thread."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog, gen  # noqa: E402
from perfbench.tracing import Tracer, install_package_spans  # noqa: E402


@pytest.fixture(scope="module")
def traced_run(tmp_path_factory):
    from couchwarehouse_spark.session import get_spark
    from couchwarehouse_spark.streaming.ingest import monitor_warehouse
    from couchwarehouse_spark.warehouse import Warehouse

    tmp = tmp_path_factory.mktemp("trace")
    logs = tmp / "eventlog"
    logs.mkdir()
    spark = get_spark(
        app_name="perfbench-trace-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logs}",
            "spark.eventLog.compress": "false",
        },
    )
    pre = gen.orders_feed(1, 200)
    pages = gen.sync_pages(1, pre, 2, 50)
    gen.write_lines(str(tmp / "pre.jsonl"), pre.lines)
    gen.stage_pages(pages.pages, str(tmp / "stage"), str(tmp / "feed"))

    import couchwarehouse_spark.plans.relational as relational

    tracer = Tracer(spark)
    install_package_spans(tracer)
    wrapped_during = hasattr(relational.load_table, "__wrapped__")
    try:
        wh = Warehouse(spark, str(tmp / "wh"), "orders")
        with tracer.span("bench.spool"):
            wh.spool(str(tmp / "pre.jsonl"))
        with tracer.span("bench.stream"):
            q = monitor_warehouse(wh, str(tmp / "feed"), str(tmp / "ckpt"), max_files_per_trigger=1)
            q.awaitTermination(120)
        rows = wh.table().count()
    finally:
        tracer.uninstall()
        spark.stop()
    jobs = eventlog.read_jobs(str(logs))
    return tracer.dump(), jobs, rows, len(pages.expected), wrapped_during


def _jobs_of(spans, jobs, name):
    ids = {s["id"] for s in spans if s["name"] == name}
    return [j for j in jobs if j.span in ids]


def test_streaming_thread_jobs_are_attributed(traced_run):
    spans, jobs, rows, want, _ = traced_run
    assert rows == want
    parse = [s for s in spans if s["name"] == "streaming.ingest.parse"]
    assert len(parse) == 2  # one per micro-batch
    # The micro-batch spans open on the stream's callback thread and
    # hang under the span the main thread holds open.
    stream = next(s for s in spans if s["name"] == "bench.stream")
    assert all(s["parent"] == stream["id"] for s in parse)
    assert len(_jobs_of(spans, jobs, "streaming.ingest.parse")) >= 2
    assert len(_jobs_of(spans, jobs, "operators.upsert.checkpoint_write")) >= 3


def test_batch_lane_spans_are_attributed(traced_run):
    spans, jobs, _, _, _ = traced_run
    assert _jobs_of(spans, jobs, "sources.changes.read")
    assert _jobs_of(spans, jobs, "warehouse.process_batch") or _jobs_of(spans, jobs, "warehouse.merge_type")
    counters = eventlog.span_counters(spans, jobs)
    spool = next(s for s in spans if s["name"] == "bench.spool")
    assert counters[spool["id"]]["jobs"] >= 3
    assert counters[spool["id"]]["output_rows"] >= 200


def test_uninstall_restores_the_package(traced_run):
    from couchwarehouse_spark import catalog, warehouse
    from couchwarehouse_spark.plans import relational

    assert traced_run[-1], "load_table was not wrapped where the plans resolve it"

    assert not hasattr(warehouse.Warehouse.__dict__["_process_batch"], "__wrapped__")
    assert not hasattr(warehouse.merge_batch, "__wrapped__")
    assert relational.load_table is catalog.load_table
