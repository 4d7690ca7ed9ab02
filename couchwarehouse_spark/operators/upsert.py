"""Latest-wins upsert, tombstone delete, checkpointing (R11/R12/R14/R19).

The reference loads each changes batch in one transaction with
``REPLACE INTO`` / ``ON CONFLICT (id) DO UPDATE`` per row
(reference lib/sqlite.js:55-121, lib/postgresql.js:60-126) and turns
``deleted`` changes into ``DELETE FROM t WHERE id = ?``
(lib/sqlite.js:95-98). Checkpoints append ``(tablename, seq)`` rows
and resume from the latest one (lib/sqlite.js:138-170).

Design (no row-at-a-time anything):

* **latest-wins** — over a table, ``latest_wins``: ``row_number()
  OVER (PARTITION BY id ORDER BY seq DESC) = 1``, one shuffle on the
  document id. Over a micro-batch, which the merge holds on the
  driver as Arrow columns, ``latest_rows``: one stable sort by (id,
  seq descending) and a kernel mask of each id's first row.
* **delete propagation** — tombstones join the batch's upserts as
  ``(id, seq, deleted=true)`` rows in the same latest-wins
  (``merge_batch``), so a delete loses to a later re-create.
* **merge** — merge-on-read (``Warehouse._merge_conformed``): the
  batch is collected once, and on the driver its winning rows are
  appended, one id-sorted part file per bucket they hash to, while
  the stored versions they supersede — and the rows its tombstones
  delete — are recorded in the manifest's dead set, which every
  reader drops. No shuffle and no Spark write job. A bucket already
  at ``MAX_FILES_PER_BUCKET`` files is folded: pyarrow reads its live
  rows, ``merge_batch`` merges them with the batch's rows for that
  bucket, and it is rewritten as one file, one bucket at a time.
  Idempotent by seq: a replayed batch's rows lose to the stored ones
  and change nothing.
* **checkpoint** — the reference's log is only ever read at its last
  row, so each table keeps one JSON file holding its latest seq,
  replaced atomically (temp file, fsync, rename). No Spark job writes
  or reads it.
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pyarrow as pa

SEQ_COL = "_cw_seq"  # numeric change-sequence attached by the ingest layer


def latest_wins(
    df: DataFrame, key: str | list[str] = "id", seq: str = SEQ_COL
) -> DataFrame:
    """Keep only each key's highest-seq row (R11's upsert semantics).
    A list ``key`` is a composite key of those columns.

    ``row_number`` (not ``rank``) guarantees exactly one survivor per
    key even on seq ties; ties break arbitrarily-but-deterministically
    via the extra monotonic tiebreak column when present.
    """
    order = [F.col(seq).desc()]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("_cw_rn", F.row_number().over(w))
        .filter(F.col("_cw_rn") == 1)
        .drop("_cw_rn")
    )


def apply_deletes(state: DataFrame, tombstone_ids: DataFrame, key: str = "id") -> DataFrame:
    """Anti-join delete propagation (R12; reference lib/sqlite.js:95-98).

    ``tombstone_ids`` holds one column named ``key``. Broadcast: a
    batch's tombstones are tiny next to table state.
    """
    return state.join(F.broadcast(tombstone_ids), on=key, how="left_anti")


DELETED_COL = "_cw_deleted"


def latest_rows(
    table: pa.Table, key: str | list[str] = "id", seq: str = SEQ_COL
) -> pa.Table:
    """Each ``key``'s highest-``seq`` row of an Arrow table, sorted by
    ``key``: one stable sort by (key, seq descending), then a kernel
    mask of the rows that open a run of equal keys — no per-row Python.
    A list ``key`` is a composite key, sorted column by column. NULL
    keys form one run. On a seq tie the row that comes first in
    ``table`` wins."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = [key] if isinstance(key, str) else list(key)
    order = table.sort_by([(k, "ascending") for k in keys] + [(seq, "descending")])
    if order.num_rows < 2:
        return order
    opens = None
    for k in keys:
        col = order[k]
        prev, cur = col.slice(0, len(col) - 1), col.slice(1)
        # NULL-safe "differs": NULL next to a value differs, two NULLs don't.
        differs = pc.if_else(
            pc.and_(pc.is_valid(prev), pc.is_valid(cur)),
            pc.not_equal(prev, cur),
            pc.xor(pc.is_null(prev), pc.is_null(cur)),
        )
        opens = differs if opens is None else pc.or_(opens, differs)
    return order.filter(pa.chunked_array([[True], *opens.chunks], pa.bool_()))


def merge_batch(
    state: pa.Table | None,
    upserts: pa.Table,
    tombstones: pa.Table | None,
    key: str = "id",
    seq: str = SEQ_COL,
) -> pa.Table:
    """One changes-batch merge, on Arrow tables: seq-ordered upserts
    and deletes.

    Matches the reference's per-batch semantics (lib/sqlite.js:57-112)
    while staying correct under replay and re-creation: tombstones are
    unioned in as ``(key, seq, deleted=true)`` rows and compete in the
    same latest-wins (``latest_rows``), so a delete at seq 40 loses to
    a re-created doc at seq 50 (CouchDB emits exactly this sequence
    when a doc is deleted and recreated). A plain anti-join would
    delete the recreated row; this doesn't.

    ``state`` rows keep their stored seq and come first, so merging is
    idempotent: replaying an already-applied batch changes nothing.
    Columns a side lacks (a tombstone carries only its key and seq)
    read as NULLs. The result is sorted by ``key``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def flagged(t: pa.Table, deleted: bool) -> pa.Table:
        return t.append_column(DELETED_COL, pa.repeat(deleted, t.num_rows))

    parts = [flagged(upserts, False)]
    if tombstones is not None:
        parts.append(flagged(tombstones, True))
    if state is not None:
        parts.insert(0, flagged(state, False))
    winners = latest_rows(pa.concat_tables(parts, promote_options="default"), key, seq)
    return winners.filter(pc.invert(winners[DELETED_COL])).drop_columns([DELETED_COL])


def snapshot_diff(
    old: DataFrame, new: DataFrame, key: str = "id", seq: str = SEQ_COL
) -> DataFrame:
    """Change-data-capture between two table states (ETL-kernel
    companion to the merge): every key classified as ``insert`` (only
    in ``new``), ``delete`` (only in ``old``) or ``update`` (in both
    with a different seq — the seq IS the version stamp the merge
    maintains, so no column-by-column compare is needed). Unchanged
    keys are dropped. This is the change feed a downstream consumer
    (the reference's ES/JDBC sinks, an audit log, an incremental
    materialized view) applies to follow the warehouse.

    Scale: one full-outer join on the key — both sides are table
    states with the same bucket layout, and the output is only the
    changed keys. Seq comparison, not row comparison: O(1) per key
    regardless of column count.
    """
    o = old.select(F.col(key).alias("_k"), F.col(seq).alias("_seq_old"))
    n = new.select(F.col(key).alias("_k"), F.col(seq).alias("_seq_new"))
    joined = o.join(n, "_k", "full_outer")
    change = (
        F.when(F.col("_seq_old").isNull(), F.lit("insert"))
        .when(F.col("_seq_new").isNull(), F.lit("delete"))
        .when(F.col("_seq_old") != F.col("_seq_new"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.col("_k").alias(key),
            "change_type",
            F.col("_seq_old").alias("old_seq"),
            F.col("_seq_new").alias("new_seq"),
        )
    )


def cdc_payload(
    diff: DataFrame, new_state: DataFrame, key: str = "id"
) -> DataFrame:
    """Join a ``snapshot_diff`` back to the new state: one row per
    CHANGED key carrying the new column values (NULLs for deletes)
    plus boolean ``_cw_deleted`` — exactly the shape both live sinks
    apply directly (``SQLiteSink.insert_bulk(deleted_col=...)``
    REPLACE/DELETEs it; ``push_bulk_http(deleted_col=...)`` turns it
    into index/delete bulk actions). This is the incremental follow:
    a 0.1%-churn batch ships 0.1% of the state, not a re-export.

    Scale: one key join between the (small) changed-key set and the
    new state — AQE broadcasts the diff side while it fits.
    """
    marked = diff.select(
        F.col(key),
        (F.col("change_type") == "delete").alias(DELETED_COL),
    )
    return marked.join(new_state, key, "left")


def write_json_atomic(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON, all or nothing: the
    object is written to a temp file in the same directory, fsynced,
    then renamed over ``path``. A crash mid-write leaves the old file
    intact plus a ``*.tmp`` that no reader opens."""
    import uuid

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        raise


class CheckpointStore:
    """Per-table resume points (R14), one JSON file each.

    Mirrors ``couchwarehouse_checkpoints`` (reference lib/sqlite.js:11,
    138-170), which appends ``(tablename, seq)`` rows and resumes from
    the latest. Only the latest row is ever read, so here each table
    keeps just that: ``<path>/<quoted tablename>.json``, replaced
    atomically by ``write`` and read back by ``read`` (None when the
    table has no checkpoint). Neither submits a Spark job.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _file(self, tablename: str) -> str:
        return os.path.join(self.path, quote(tablename, safe="") + ".json")

    def write(self, tablename: str, seq: str) -> None:
        write_json_atomic(self._file(tablename), {"tablename": tablename, "seq": seq})

    def read(self, tablename: str) -> str | None:
        try:
            with open(self._file(tablename)) as f:
                return json.load(f)["seq"]
        except FileNotFoundError:
            return None

    def reset(self) -> None:
        """R19 — forget all checkpoints (next run starts from seq 0)."""
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
