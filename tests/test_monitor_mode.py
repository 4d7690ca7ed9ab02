"""Monitor mode (R2): processing-time trigger keeps tailing the
landing zone; progress listener (R18) observes the batches.
"""

from __future__ import annotations

import json
import os
import random
import time

from couchwarehouse_spark.streaming.ingest import monitor_warehouse
from couchwarehouse_spark.streaming.progress import IngestProgress, sync_lag
from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import envelope, order_doc


def _write_page(feed_dir, name, envs):
    os.makedirs(feed_dir, exist_ok=True)
    tmp = os.path.join(feed_dir, f".{name}.tmp")
    with open(tmp, "w") as f:
        for e in envs:
            f.write(json.dumps(e) + "\n")
    os.rename(tmp, os.path.join(feed_dir, name))


def test_monitor_tails_new_pages(spark, tmp_path):
    rng = random.Random(31)
    feed_dir = str(tmp_path / "feed")
    _write_page(feed_dir, "p1.json", [envelope(i + 1, order_doc(i, rng)) for i in range(5)])

    listener = IngestProgress()
    spark.streams.addListener(listener)
    wh = Warehouse(spark, str(tmp_path / "wh"), "monitordata")
    q = monitor_warehouse(
        wh,
        feed_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=False,
        processing_time="1 seconds",
    )
    def table_count():
        """Poll helper: before the first commit the table has no
        manifest, and reading it raises FileNotFoundError — 'not there
        yet'. Any other read fault fails the test."""
        try:
            return wh.table().count()
        except FileNotFoundError:
            return -1

    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            if table_count() == 5:
                break
            time.sleep(1)
        assert wh.table().count() == 5

        # New page lands while the query runs — monitor picks it up.
        # Poll the CHECKPOINT (written after the merge) so the stop
        # below can't race the tail of batch processing.
        _write_page(feed_dir, "p2.json", [envelope(6, order_doc(100, rng))])
        deadline = time.time() + 90
        while time.time() < deadline:
            if sync_lag(spark, feed_dir, wh)[0] == 6:
                break
            time.sleep(1)
        assert wh.table().count() == 6
    finally:
        q.stop()
        spark.streams.removeListener(listener)

    # R18: listener saw input rows; lag probe agrees with checkpoint.
    assert listener.rows >= 6
    done, head = sync_lag(spark, feed_dir, wh)
    assert head == 6 and done == 6


def test_start_and_stop_lifecycle(spark, tmp_path):
    """Warehouse.start(monitor=True) hands back the active query and
    Warehouse.stop() shuts it down (reference exports {start, stop},
    reference index.js:257-260)."""
    rng = random.Random(41)
    feed_dir = str(tmp_path / "feed")
    _write_page(feed_dir, "p1.json", [envelope(i + 1, order_doc(i, rng)) for i in range(4)])
    wh = Warehouse(spark, str(tmp_path / "wh"), "lifecycledata")
    q = wh.start(feed_dir, monitor=True, processing_time="1 seconds")
    assert q.isActive
    assert wh.table().count() == 4  # spool phase drained the page
    wh.stop()
    assert not q.isActive
    wh.stop()  # idempotent


def test_mixed_field_batch_is_lossless(spark, tmp_path):
    """A micro-batch whose FIRST doc lacks a field another doc carries
    must still land that field's value (first-doc-only inference would
    null it and latest-wins would persist the loss)."""
    rng = random.Random(51)
    feed_dir = str(tmp_path / "feed")
    # Batch 1 freezes the schema from full docs (has 'total').
    _write_page(feed_dir, "p1.json", [envelope(i + 1, order_doc(i, rng)) for i in range(3)])
    wh = Warehouse(spark, str(tmp_path / "wh"), "lossdata")
    q = wh.start(feed_dir, monitor=True, processing_time="1 seconds")
    try:
        import time as _t

        deadline = _t.time() + 60
        while _t.time() < deadline and _count(wh) != 3:
            _t.sleep(0.5)
        assert _count(wh) == 3

        # Batch 2: first doc drops 'total'; second doc updates doc 0's
        # total — the update must survive schema inference.
        slim = order_doc(10, rng)
        slim.pop("total", None)
        upd = order_doc(0, rng)
        upd["total"] = 999.5
        upd["_rev"] = "2-zz"
        _write_page(feed_dir, "p2.json", [envelope(4, slim), envelope(5, upd)])
        deadline = _t.time() + 60
        while _t.time() < deadline and _count(wh) != 4:
            _t.sleep(0.5)
        assert _count(wh) == 4  # 3 originals + 1 new doc; the 4th envelope updates doc 0
        row = {r["id"]: r for r in wh.table().collect()}
        assert row["order00000"]["total"] == 999.5
    finally:
        q.stop()


def _count(wh):
    """Row count, or -1 while the table has no committed manifest."""
    try:
        return wh.table().count()
    except FileNotFoundError:
        return -1
