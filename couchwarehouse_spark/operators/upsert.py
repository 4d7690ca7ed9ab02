"""Latest-wins upsert, tombstone delete, checkpointing (R11/R12/R14/R19).

The reference loads each changes batch in one transaction with
``REPLACE INTO`` / ``ON CONFLICT (id) DO UPDATE`` per row
(reference lib/sqlite.js:55-121, lib/postgresql.js:60-126) and turns
``deleted`` changes into ``DELETE FROM t WHERE id = ?``
(lib/sqlite.js:95-98). Checkpoints append ``(tablename, seq)`` rows
and resume from the latest one (lib/sqlite.js:138-170).

Spark-first design (no row-at-a-time anything):

* **latest-wins** — ``row_number() OVER (PARTITION BY id ORDER BY
  seq DESC) = 1``: one shuffle on the document id (high-cardinality,
  no skew), each id's state fits trivially in a window partition.
* **delete propagation** — tombstones join the batch's upserts as
  ``(id, seq, deleted=true)`` rows in the same latest-wins window
  (``merge_batch``), so a delete loses to a later re-create.
* **merge** — merge-on-read (``Warehouse._merge_conformed``): a
  batch appends only its winning rows to the buckets they hash to
  and records the stored versions they supersede — and the rows its
  tombstones delete — in the manifest's dead set, which every reader
  drops. The batch's rows pass through ``merge_batch``'s one shuffle,
  by bucket; a bucket already at ``MAX_FILES_PER_BUCKET`` files is
  folded: its live rows join that shuffle and it is rewritten as one
  file. Idempotent by seq: a replayed batch's rows lose to the stored
  ones and change nothing.
* **checkpoint** — the reference's log is only ever read at its last
  row, so each table keeps one JSON file holding its latest seq,
  replaced atomically (temp file, fsync, rename). No Spark job writes
  or reads it.
"""

from __future__ import annotations

import json
import os
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


def merge_batch(
    state: DataFrame | None,
    upserts: DataFrame,
    tombstones: DataFrame | None,
    key: str | list[str] = "id",
    seq: str = SEQ_COL,
) -> DataFrame:
    """One changes-batch merge: seq-ordered upserts and deletes.

    Matches the reference's per-batch semantics (lib/sqlite.js:57-112)
    while staying correct under replay and re-creation: tombstones are
    unioned in as ``(key, seq, deleted=true)`` rows and compete in the
    same latest-wins window, so a delete at seq 40 loses to a
    re-created doc at seq 50 (CouchDB emits exactly this sequence when
    a doc is deleted and recreated). A plain anti-join would delete
    the recreated row; this doesn't.

    ``state`` rows keep their stored seq, so merging is idempotent:
    replaying an already-applied batch changes nothing. A list ``key``
    is a composite key; the rows are hash-partitioned by its leading
    column, the window's one shuffle, so every row sharing that column
    (a warehouse bucket) lands in one task.
    """
    keys = [key] if isinstance(key, str) else list(key)
    merged = upserts.withColumn(DELETED_COL, F.lit(False))
    if tombstones is not None:
        tomb = tombstones.select(*keys, seq).withColumn(DELETED_COL, F.lit(True))
        merged = merged.unionByName(tomb, allowMissingColumns=True)
    if state is not None:
        merged = state.withColumn(DELETED_COL, F.lit(False)).unionByName(
            merged, allowMissingColumns=True
        )
    winners = latest_wins(merged.repartition(keys[0]), key=keys, seq=seq)
    return winners.filter(~F.col(DELETED_COL)).drop(DELETED_COL)


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
