"""Per-batch egress shared by the sqlite and Elasticsearch followers:
the reference writes each changes batch to its target once
(lib/sqlite.js:60-110, lib/elasticsearch.js:16-44) and resumes from a
checkpoint kept in that target (lib/sqlite.js:138-170, the
``couchwarehousemeta`` doc of lib/elasticsearch.js:52-76).

A target records the table version it mirrors, its *position*: the
committed version plus that manifest's ``ts``, so a ``reset``
warehouse, whose versions restart at 1, never matches a position
recorded before the reset. The position is written only after its
rows land: a crash between the two leaves a stale position, and the
next merge or ``sync`` re-exports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from couchwarehouse_spark.operators.upsert import DELETED_COL, SEQ_COL, latest_wins


def batch_winners(conformed: DataFrame, tombstones: DataFrame) -> DataFrame:
    """Each id's latest row in one batch, live or tombstone (flagged by
    ``DELETED_COL``): the merge's seq-ordered union, so a delete-then-
    recreate resolves to the recreate and a stale tombstone never
    removes a newer row."""
    live = conformed.withColumn(DELETED_COL, F.lit(False))
    tomb = tombstones.select("id", SEQ_COL).withColumn(DELETED_COL, F.lit(True))
    merged = live.unionByName(tomb, allowMissingColumns=True)
    return latest_wins(merged, key="id", seq=SEQ_COL).drop(SEQ_COL)


def _position(wh, doc_type: str, version: int | None = None) -> tuple | None:
    """(version, ts) of a retained table version (default head), or None."""
    try:
        m = wh._load_manifest(wh._table_path(doc_type), version)
    except (ValueError, OSError):
        return None
    return (m["version"], m["ts"]) if m else None


class Mirror:
    """A warehouse follower (``Warehouse.followers``) mirroring each
    table into one target. Subclasses implement ``read_position(wh,
    doc_type)`` → the recorded (version, ts) or None, and ``write(wh,
    doc_type, rows, position, seq, reset)``: drop the target's table
    when ``reset``, apply ``rows`` (None: none; ``DELETED_COL`` true:
    delete by id), then record ``position`` and the feed ``seq``."""

    def _mirrors(self, wh, doc_type: str, pos: tuple | None, version: int) -> bool:
        """Does a target at ``pos`` hold table ``version``'s rows (0:
        before the first commit)?"""
        if pos is None:
            return version == 0
        return _position(wh, doc_type, pos[0]) == pos and wh.rows_unchanged(
            doc_type, pos[0], version
        )

    def _export(self, wh, doc_type: str, version: int, seq: str | None) -> None:
        rows = wh.table(doc_type, version=version).withColumn(DELETED_COL, F.lit(False))
        self.write(wh, doc_type, rows, _position(wh, doc_type, version), seq, reset=True)

    def __call__(self, wh, doc_type: str, conformed: DataFrame, tombstones: DataFrame,
                 version: int, seq: str | None) -> None:
        """Follow the merge that committed ``version``: apply the batch's
        winners when the target holds the version the merge read, else
        export the table. ``seq`` None (outside a feed batch) records
        the warehouse's feed checkpoint."""
        seq = seq if seq is not None else wh.checkpoints.read(wh.db_name)
        if self._mirrors(wh, doc_type, self.read_position(wh, doc_type), version - 1):
            rows = batch_winners(conformed, tombstones)
            self.write(wh, doc_type, rows, _position(wh, doc_type, version), seq, reset=False)
        else:
            self._export(wh, doc_type, version, seq)

    def sync(self, wh, doc_type: str) -> None:
        """Bring the target to the table's head outside a merge (when
        attached, after maintenance ops): one full export, unless every
        version since its position left rows unchanged — then only the
        position moves."""
        head = _position(wh, doc_type)
        pos = self.read_position(wh, doc_type)
        if head is None or pos == head:
            return
        seq = wh.checkpoints.read(wh.db_name)
        if self._mirrors(wh, doc_type, pos, head[0]):
            self.write(wh, doc_type, None, head, seq, reset=False)
        else:
            self._export(wh, doc_type, head[0], seq)
