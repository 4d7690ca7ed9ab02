"""Progress / observability (R18).

The reference shows a download progress bar sized by a ``since=now``
probe of the feed head, prints dots in monitor mode, and tells the
user how to query each target (reference index.js:79-131, 218-229;
lib/sqlite.js:172-179). Spark-side equivalents:

* ``IngestProgress`` — a ``StreamingQueryListener`` accumulating
  per-batch row counts and emitting the reference's dot-per-batch
  heartbeat (opt-in print).
* ``feed_position`` — the probe: max seq currently in the landing
  zone vs the warehouse checkpoint → how far behind the sync is
  (the progress-bar numerator/denominator).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from couchwarehouse_spark.operators.document import extract_seq_number, seq_number_col
from couchwarehouse_spark.sources.changes import ENVELOPE_SCHEMA


class IngestProgress(StreamingQueryListener):
    """Accumulates micro-batch input counts; optional dot heartbeat
    (the reference's monitor-mode dots, index.js:149-151)."""

    def __init__(self, heartbeat: bool = False):
        self.batches = 0
        self.rows = 0
        self.heartbeat = heartbeat

    def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.batches += 1
        self.rows += event.progress.numInputRows
        if self.heartbeat:
            print(".", end="", flush=True)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def feed_position(spark: SparkSession, feed_dir: str) -> int:
    """Max sequence number currently in the landing zone — the
    reference's ``since=now&limit=1`` probe (index.js:218-229) sizing
    the progress bar."""
    head = (
        spark.read.schema(ENVELOPE_SCHEMA)
        .json(feed_dir)
        .agg(F.max(seq_number_col("seq")).alias("n"))
        .collect()
    )
    return int(head[0]["n"] or 0)


def sync_lag(spark: SparkSession, feed_dir: str, warehouse) -> tuple[int, int]:
    """(warehouse seq, feed head seq) — the progress-bar position."""
    ckpt = warehouse.checkpoints.read(warehouse.db_name)
    done = extract_seq_number(ckpt) if ckpt else 0
    return done, feed_position(spark, feed_dir)
