"""SQLite sink — a REAL round-trip to the reference's default target
(reference lib/sqlite.js): ``CREATE TABLE IF NOT EXISTS`` from the
discovered schema (:23-52), per-change ``REPLACE INTO`` upserts and
``DELETE ... WHERE id=?`` tombstones (:60-110), and the
``couchwarehouse_checkpoints`` table (:11, :138-170).

Transport is the stdlib ``sqlite3`` module on the DRIVER — exactly
the reference's topology (one Node process, one better-sqlite3
handle). The egress iterates ``df.toLocalIterator()`` so at most one
Spark partition is resident in driver memory at a time; SQLite is a
single-writer embedded file, so a distributed writer cannot beat a
single connection anyway. For genuinely parallel relational egress
the JDBC adapter (``sinks.jdbc``) is the scale lane; this sink's job
is per-row parity with the reference's primary backend, verifiable
in-container.

Type mapping (reference lib/sqlite.js:13-21 ``couchTypeToSQL``):
string→TEXT, number→REAL, boolean→INTEGER(0/1), anything
non-scalar arrives pre-flattened to JSON TEXT by the flatten step.
"""

from __future__ import annotations

import json
import sqlite3
from collections.abc import Mapping
from typing import Any

from pyspark.sql import DataFrame

from couchwarehouse_spark.operators.upsert import DELETED_COL
from couchwarehouse_spark.sinks.follow import Mirror

CHECKPOINT_TABLE = "couchwarehouse_checkpoints"

LOGICAL_TO_SQLITE = {
    "string": "TEXT",
    "number": "REAL",
    "boolean": "INTEGER",
}


def sqlite_create_table_sql(
    table: str, schema: Mapping[str, str], reset: bool = False
) -> list[str]:
    """The reference's DDL, dialect-exact: ``id TEXT PRIMARY KEY``
    plus one column per discovered field (reference
    lib/sqlite.js:23-52)."""
    cols = []
    for name, logical in schema.items():
        sql_type = LOGICAL_TO_SQLITE.get(logical, "TEXT")
        if name == "id":
            cols.append(f'"{name}" {sql_type} PRIMARY KEY')
        else:
            cols.append(f'"{name}" {sql_type}')
    stmts = []
    if reset:
        stmts.append(f'DROP TABLE IF EXISTS "{table}"')
    stmts.append(f'CREATE TABLE IF NOT EXISTS "{table}" ({", ".join(cols)})')
    return stmts


def _to_sqlite_value(v: Any) -> Any:
    import datetime
    import decimal

    if isinstance(v, bool):
        return int(v)  # reference stores booleans as 0/1
    if v is None or isinstance(v, (str, int, float, bytes)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    try:
        return json.dumps(v)  # arrays/structs that escaped the flatten
    except TypeError:
        return str(v)


class SQLiteSink:
    """Driver-side SQLite egress with the reference's exact statement
    shapes. Usable standalone or as a ``foreachBatch`` target."""

    def __init__(self, path: str):
        self.path = path
        self.con = sqlite3.connect(path)
        self.con.execute(
            f'CREATE TABLE IF NOT EXISTS "{CHECKPOINT_TABLE}" '
            "(tablename TEXT, seq TEXT, timestamp INTEGER DEFAULT (strftime('%s','now')))"
        )
        # A follower's position (sinks.follow), added to older files.
        have = {r[1] for r in self.con.execute(f'PRAGMA table_info("{CHECKPOINT_TABLE}")')}
        for col, sql_type in (("version", "INTEGER"), ("version_ts", "REAL")):
            if col not in have:
                self.con.execute(f'ALTER TABLE "{CHECKPOINT_TABLE}" ADD COLUMN {col} {sql_type}')
        self.con.commit()

    # -- DDL (R10) ----------------------------------------------------
    def create_table(
        self, table: str, schema: Mapping[str, str], reset: bool = False
    ) -> None:
        for stmt in sqlite_create_table_sql(table, schema, reset=reset):
            self.con.execute(stmt)
        self.con.commit()

    # -- bulk upsert (reference insertBulk, lib/sqlite.js:60-110) -----
    def insert_bulk(
        self,
        table: str,
        df: DataFrame,
        schema: Mapping[str, str],
        key: str = "id",
        deleted_col: str | None = None,
    ) -> int:
        """Apply a (flattened, conformed) DataFrame as REPLACE INTO
        rows; rows with ``deleted_col`` true become DELETE-by-id.
        Missing schema fields land as NULL (lib/sqlite.js:90-92).
        One transaction per call = one changes batch, like the
        reference. Returns rows applied."""
        fields = list(schema)
        placeholders = ", ".join("?" for _ in fields)
        quoted = ", ".join(f'"{f}"' for f in fields)
        replace_sql = f'REPLACE INTO "{table}" ({quoted}) VALUES ({placeholders})'
        delete_sql = f'DELETE FROM "{table}" WHERE "{key}" = ?'
        n = 0
        cols = [c for c in fields if c in df.columns]
        select = cols + ([deleted_col] if deleted_col else [])
        with self.con:  # one transaction per batch
            for row in df.select(*select).toLocalIterator():
                d = row.asDict()
                if deleted_col and d.get(deleted_col):
                    self.con.execute(delete_sql, (d.get(key),))
                else:
                    self.con.execute(
                        replace_sql,
                        tuple(_to_sqlite_value(d.get(f)) for f in fields),
                    )
                n += 1
        return n

    # -- checkpoints (R14, lib/sqlite.js:138-170) ---------------------
    def write_checkpoint(
        self, tablename: str, seq: str | None, position: tuple | None = None
    ) -> None:
        """Append a checkpoint row: the feed's ``seq`` token and, for a
        follower, the (version, ts) of the table version it mirrors."""
        version, ts = position or (None, None)
        with self.con:
            self.con.execute(
                f'INSERT INTO "{CHECKPOINT_TABLE}" (tablename, seq, version, version_ts) '
                "VALUES (?, ?, ?, ?)",
                (tablename, None if seq is None else str(seq), version, ts),
            )

    def _latest_checkpoint(self, tablename: str) -> tuple | None:
        return self.con.execute(
            f'SELECT seq, version, version_ts FROM "{CHECKPOINT_TABLE}" '
            "WHERE tablename = ? ORDER BY rowid DESC LIMIT 1",
            (tablename,),
        ).fetchone()

    def read_checkpoint(self, tablename: str) -> str | None:
        row = self._latest_checkpoint(tablename)
        return row[0] if row else None

    def read_position(self, tablename: str) -> tuple | None:
        """(version, ts) recorded by the newest checkpoint row, or None."""
        row = self._latest_checkpoint(tablename)
        return (row[1], row[2]) if row and row[1] is not None else None

    def query(self, sql: str, params: tuple = ()) -> list[tuple]:
        return list(self.con.execute(sql, params))

    def close(self) -> None:
        self.con.close()


class _SQLiteMirror(Mirror):
    def __init__(self, path: str):
        self.path = path

    def read_position(self, wh, doc_type: str) -> tuple | None:
        sink = SQLiteSink(self.path)
        try:
            return sink.read_position(wh.table_name(doc_type))
        finally:
            sink.close()

    def write(self, wh, doc_type, rows, position, seq, reset) -> None:
        schema = {"id": "string", **wh.schemas[doc_type]}
        table = wh.table_name(doc_type)
        sink = SQLiteSink(self.path)
        try:
            sink.create_table(table, schema, reset=reset)
            if rows is not None:
                sink.insert_bulk(table, rows, schema, deleted_col=DELETED_COL)
            sink.write_checkpoint(table, seq, position)
        finally:
            sink.close()


def sqlite_follower(path: str) -> Mirror:
    """Warehouse follower: mirror every merged micro-batch into a
    SQLite file (the reference's per-batch insertBulk, lib/sqlite.js:
    60-110), recording the table version it mirrors in each batch's
    ``couchwarehouse_checkpoints`` row (see ``sinks.follow``).

    Usage::

        wh = Warehouse(spark, dir, "mydb",
                       followers=[sqlite_follower("./mydb.sqlite")])
        wh.spool(feed)          # or monitor_warehouse(...) — streaming
    """
    return _SQLiteMirror(path)
