"""Structured-Streaming ingest: the continuous analog of the batch
spool (D1/D2/D3; SURVEY.md §2.D).

The reference's two modes map directly (reference index.js:75-170):

* **spool** (one long poll to now) → ``Trigger.AvailableNow`` — drain
  everything currently in the landing zone, then stop;
* **monitor** (repeated longpolls) → processing-time trigger — keep
  tailing as new feed pages land.

Either way a micro-batch goes through the SAME envelope parse and the
SAME ``Warehouse._process_batch`` as the batch spool: it is read with
``sources.changes.ENVELOPE_SCHEMA`` and parsed by
``sources.changes.parse_changes`` with the warehouse's own
``doc_transform`` and ``feed_schema`` — ``foreachBatch`` is the
reference's ``'batch'`` event (reference index.js:105-125) with
exactly-once bookkeeping from the streaming checkpoint (D2:
offsets/commits under ``checkpointLocation``; the warehouse's own
CheckpointStore mirrors the reference's couchwarehouse_checkpoints
table on top).

The feed source here is a JSON-lines landing directory (what a real
deployment's HTTP tailer writes page by page).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from couchwarehouse_spark.sources.changes import ENVELOPE_SCHEMA, parse_changes
from couchwarehouse_spark.warehouse import Warehouse

# The stream's doc parse, resolved by this name at each micro-batch
# (perfbench/tracing.py wraps it here as the stream's parse layer).
_parse_docs = parse_changes


def read_changes_stream(
    spark: SparkSession, feed_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over a changes-feed landing directory (R1/R2).

    ``max_files_per_trigger`` is the rate-limit knob — the reference's
    "slow mode" (R3, reference index.js:92-100: paged ``get`` instead
    of one long ``spool`` so the sink keeps up). Backpressure in
    Spark is exactly this micro-batch sizing.
    """
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(feed_dir)


def _sync_batch(warehouse: Warehouse, batch_df: DataFrame) -> None:
    """One micro-batch: parse it with the warehouse's hooks, merge it,
    and advance the warehouse checkpoint. An empty batch merges
    nothing and leaves the checkpoint alone."""
    env = _parse_docs(warehouse.spark, batch_df, warehouse.doc_transform, warehouse.feed_schema)
    last = warehouse._process_batch(env)
    if last is not None:
        warehouse.checkpoints.write(warehouse.db_name, last)


def monitor_warehouse(
    warehouse: Warehouse,
    feed_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Continuous sync: stream the feed directory into the warehouse.

    ``available_now=True`` = the spool semantics (drain and stop,
    reference index.js:75-140); ``False`` = monitor mode (keep
    tailing, reference index.js:143-170). The streaming checkpoint
    gives offset-exact resume (D2); the merge inside
    ``_process_batch`` is idempotent by seq (latest-wins), so
    foreachBatch's at-least-once becomes effectively-once (D3).
    """
    stream = read_changes_stream(
        warehouse.spark, feed_dir, max_files_per_trigger=max_files_per_trigger
    )
    writer = stream.writeStream.foreachBatch(
        lambda batch_df, _batch_id: _sync_batch(warehouse, batch_df)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
