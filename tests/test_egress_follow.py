"""Egress followers (``sinks/follow.py``): the ``--sqlite``/``--es``
targets follow every merged batch, record the table version they
mirror, and catch up with one full export when that version is not
the one a merge read — after a maintenance op, a ``--reset``, a new
target or a follower that failed after its merge committed.
"""

from __future__ import annotations

import random
import sqlite3

import pytest
from pyspark.sql import functions as F

from couchwarehouse_spark.cli import main
from couchwarehouse_spark.sinks.sqlite import SQLiteSink, sqlite_follower
from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import envelope, order_doc, write_feed
from .test_live_sinks import fake_es  # noqa: F401  (fixture)


def _table_rows(spark, wh_dir: str, db: str) -> dict:
    wh = Warehouse(spark, wh_dir, db)
    return {r["id"]: r["customerEmail"] for r in wh.table().select("id", "customerEmail").collect()}


def _sqlite_rows(path: str, table: str) -> dict:
    con = sqlite3.connect(path)
    try:
        return dict(con.execute(f'SELECT id, customerEmail FROM "{table}"'))
    finally:
        con.close()


def _docs(n: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    return [order_doc(i, rng) for i in range(n)]


def _run(feed: str, db: str, wh_dir: str, *flags: str) -> None:
    assert main(["--feed", feed, "--database", db, "--warehouse-dir", wh_dir,
                 "--quiet", *flags]) == 0


def test_cli_sqlite_follows_delete_where(spark, tmp_path):
    """An existing --sqlite file, then a run whose --delete-where
    removes rows: the file drops them too."""
    docs = _docs(6, 41)
    feed = write_feed(str(tmp_path / "feed"), [envelope(i + 1, d) for i, d in enumerate(docs)])
    wh_dir, out = str(tmp_path / "wh"), str(tmp_path / "out.sqlite")
    _run(feed, "fdel", wh_dir, "--sqlite", out)
    _run(feed, "fdel", wh_dir, "--sqlite", out, "--delete-where", "id IN ('order00001', 'order00004')")
    rows = _table_rows(spark, wh_dir, "fdel")
    assert len(rows) == 4
    assert _sqlite_rows(out, "fdel") == rows


def test_cli_sqlite_follows_reset(spark, tmp_path):
    """A --reset run with a smaller feed leaves the sqlite file equal to
    the new, smaller table: the reset warehouse's version 1 is not the
    version 1 the file recorded."""
    docs = _docs(6, 43)
    wh_dir, out = str(tmp_path / "wh"), str(tmp_path / "out.sqlite")
    big = write_feed(str(tmp_path / "big"), [envelope(i + 1, d) for i, d in enumerate(docs)])
    small = write_feed(str(tmp_path / "small"), [envelope(i + 1, d) for i, d in enumerate(docs[:2])])
    _run(big, "freset", wh_dir, "--sqlite", out)
    _run(small, "freset", wh_dir, "--sqlite", out, "--reset")
    rows = _table_rows(spark, wh_dir, "freset")
    assert len(rows) == 2
    assert _sqlite_rows(out, "freset") == rows


def test_cli_es_follows_delete_where(spark, tmp_path, fake_es):
    """The ES target after --delete-where holds the table's ids: the
    index is deleted and re-exported, and the position doc names the
    table's head version."""
    fake, url = fake_es
    docs = _docs(6, 47)
    feed = write_feed(str(tmp_path / "feed"), [envelope(i + 1, d) for i, d in enumerate(docs)])
    wh_dir = str(tmp_path / "wh")
    _run(feed, "fesdel", wh_dir, "--es", url)
    _run(feed, "fesdel", wh_dir, "--es", url, "--delete-where", "id IN ('order00000', 'order00005')")
    rows = _table_rows(spark, wh_dir, "fesdel")
    assert len(rows) == 4
    assert fake.live_ids("couchwarehouse") == set(rows)
    assert fake.docs["/couchwarehousemeta/_doc/couchwarehouse"]["version"] == 2


def test_cli_sqlite_applies_only_each_page(spark, tmp_path, monkeypatch):
    """After a 200-doc preload, each run that adds a 20-change page
    applies at most 20 rows to the sqlite file, not the table."""
    applied: list[int] = []
    insert_bulk = SQLiteSink.insert_bulk

    def counted(self, *args, **kwargs):
        n = insert_bulk(self, *args, **kwargs)
        applied.append(n)
        return n

    monkeypatch.setattr(SQLiteSink, "insert_bulk", counted)
    rng = random.Random(53)
    wh_dir, out = str(tmp_path / "wh"), str(tmp_path / "out.sqlite")
    preload = write_feed(str(tmp_path / "p0"), [envelope(i + 1, order_doc(i, rng)) for i in range(200)])
    _run(preload, "fpage", wh_dir, "--sqlite", out)
    assert sum(applied) == 200
    for n in (1, 2, 3):
        page = (
            [envelope(1000 * n + i, order_doc(i * 13 + n, rng)) for i in range(12)]
            + [envelope(1000 * n + 20 + i, order_doc(200 + 10 * n + i, rng)) for i in range(4)]
            + [envelope(1000 * n + 40 + i, None, doc_id=f"order{i * 31 + n:05d}", deleted=True)
               for i in range(4)]
        )
        applied.clear()
        _run(write_feed(str(tmp_path / f"p{n}"), page), "fpage", wh_dir, "--sqlite", out)
        assert 0 < sum(applied) <= 20, applied
    assert _sqlite_rows(out, "fpage") == _table_rows(spark, wh_dir, "fpage")


def test_cli_sqlite_attached_to_caught_up_warehouse(spark, tmp_path):
    """A new --sqlite target on an existing warehouse whose feed has no
    new change gets one full export with the feed's seq."""
    docs = _docs(5, 59)
    feed = write_feed(str(tmp_path / "feed"), [envelope(i + 1, d) for i, d in enumerate(docs)])
    wh_dir, out = str(tmp_path / "wh"), str(tmp_path / "out.sqlite")
    _run(feed, "fnew", wh_dir)
    _run(feed, "fnew", wh_dir, "--sqlite", out)
    assert _sqlite_rows(out, "fnew") == _table_rows(spark, wh_dir, "fnew")
    sink = SQLiteSink(out)
    assert sink.read_checkpoint("fnew") == "5-g1AAAA0005"
    sink.close()


def test_sqlite_follower_converges_after_a_failed_batch(spark, tmp_path, monkeypatch):
    """A follower that raises after its merge committed leaves the
    target behind; the next run of the same batch re-exports it."""
    docs = _docs(6, 61)
    out = str(tmp_path / "out.sqlite")
    wh = Warehouse(spark, str(tmp_path / "wh"), "ffail", followers=[sqlite_follower(out)])
    wh.spool(write_feed(str(tmp_path / "f1"), [envelope(i + 1, d) for i, d in enumerate(docs[:4])]))
    page = write_feed(str(tmp_path / "f2"), [
        envelope(10, dict(docs[0], customerEmail="new@x.com")),
        envelope(11, None, doc_id=docs[1]["_id"], deleted=True),
        envelope(12, docs[4]),
        envelope(13, docs[5]),
    ])
    insert_bulk = SQLiteSink.insert_bulk

    def fail_once(self, *args, **kwargs):
        monkeypatch.setattr(SQLiteSink, "insert_bulk", insert_bulk)
        raise OSError("target unavailable")

    monkeypatch.setattr(SQLiteSink, "insert_bulk", fail_once)
    with pytest.raises(OSError, match="target unavailable"):
        wh.spool(page)
    assert len(_sqlite_rows(out, "ffail")) == 4  # behind: the merge committed
    wh.spool(page)
    rows = {r["id"]: r["customerEmail"] for r in wh.table().collect()}
    assert len(rows) == 5
    assert _sqlite_rows(out, "ffail") == rows


def test_merge_into_follows_to_head(spark, tmp_path):
    """merge_into on a Warehouse with a sqlite follower mirrors its rows,
    leaves the target at head and carries the feed's seq forward."""
    docs = _docs(4, 67)
    out = str(tmp_path / "out.sqlite")
    wh = Warehouse(spark, str(tmp_path / "wh"), "fmerge", followers=[sqlite_follower(out)])
    wh.spool(write_feed(str(tmp_path / "f1"), [envelope(i + 1, d) for i, d in enumerate(docs)]))
    sink = SQLiteSink(out)
    seq = sink.read_checkpoint("fmerge")
    sink.close()
    upd = wh.table().filter(F.col("id") == docs[2]["_id"]).withColumn(
        "customerEmail", F.lit("merged@x.com")
    )
    assert wh.merge_into(upd) == 1
    rows = {r["id"]: r["customerEmail"] for r in wh.table().collect()}
    assert rows[docs[2]["_id"]] == "merged@x.com"
    assert _sqlite_rows(out, "fmerge") == rows
    sink = SQLiteSink(out)
    head = wh._load_manifest(wh._table_path("_default"))
    assert sink.read_position("fmerge") == (head["version"], head["ts"])
    assert sink.read_checkpoint("fmerge") == seq == "4-g1AAAA0004"
    sink.close()


def test_sync_after_compact_moves_only_the_position(spark, tmp_path):
    """A compact leaves rows unchanged: sync records the new head
    version without applying a row."""
    docs = _docs(8, 71)
    out = str(tmp_path / "out.sqlite")
    follower = sqlite_follower(out)
    wh = Warehouse(spark, str(tmp_path / "wh"), "fcompact", n_buckets=2, followers=[follower])
    for n in range(3):
        wh.spool(write_feed(str(tmp_path / f"f{n}"), [
            envelope(10 * n + i + 1, d) for i, d in enumerate(docs[n:n + 4])
        ]))
    assert wh.compact() > 0
    sink = SQLiteSink(out)
    before = sink.query('SELECT count(*) FROM "couchwarehouse_checkpoints"')[0][0]
    follower.sync(wh, "_default")
    head = wh._load_manifest(wh._table_path("_default"))
    assert head["op"] == "compact"
    assert sink.read_position("fcompact") == (head["version"], head["ts"])
    assert sink.query('SELECT count(*) FROM "couchwarehouse_checkpoints"')[0][0] == before + 1
    sink.close()
    assert _sqlite_rows(out, "fcompact") == {
        r["id"]: r["customerEmail"] for r in wh.table().collect()
    }


def test_mv_stays_incremental_across_analyze(spark, tmp_path, monkeypatch):
    """analyze() commits a version that leaves rows unchanged, so the
    next merge refreshes the materialized view from the batch's keys:
    every table read in the follower is a versioned one, never the
    full-recompute read of the current table."""
    from couchwarehouse_spark.sinks.materialized import read_mv, sum_count_mv_follower

    rng = random.Random(73)
    mv_follower = sum_count_mv_follower("rev", "status", "total")
    reads: list = []
    active: list = []

    def traced(*args):
        active.append(True)
        try:
            mv_follower(*args)
        finally:
            active.pop()

    wh = Warehouse(spark, str(tmp_path / "wh"), "fmv", n_buckets=4, followers=[traced])
    wh.spool(write_feed(str(tmp_path / "f1"), [envelope(i + 1, order_doc(i, rng)) for i in range(20)]))
    wh.analyze()
    table = Warehouse.table

    def spy(self, doc_type="_default", version=None, as_of_ts=None):
        if active:
            reads.append(version)
        return table(self, doc_type, version, as_of_ts)

    monkeypatch.setattr(Warehouse, "table", spy)
    wh.spool(write_feed(str(tmp_path / "f2"), [
        envelope(30, order_doc(3, rng, extra={"status": "moved"})),
        envelope(31, None, doc_id="order00005", deleted=True),
    ]))
    monkeypatch.undo()
    assert reads and None not in reads
    full = {
        r["status"]: (r["n"], r["s"])
        for r in wh.table().groupBy("status").agg(
            F.count("*").alias("n"), F.sum("total").alias("s")
        ).collect()
    }
    mv = {r["status"]: (r["mv_count"], r["mv_sum"]) for r in read_mv(wh, "rev").collect()}
    assert set(mv) == set(full)
    for k, (n, total) in full.items():
        assert mv[k][0] == n and abs(mv[k][1] - total) < 1e-6


def test_sqlite_follower_adds_evolved_columns(spark, tmp_path, monkeypatch):
    """Under ``evolve_schema`` a batch that adds a column is applied to
    the sqlite file in place — the table gains the column — with no
    full export."""
    docs = _docs(4, 81)
    out = str(tmp_path / "out.sqlite")
    wh = Warehouse(spark, str(tmp_path / "wh"), "fevo", evolve_schema=True,
                   followers=[sqlite_follower(out)])
    wh.spool(write_feed(str(tmp_path / "f1"), [envelope(i + 1, d) for i, d in enumerate(docs[:3])]))
    resets = []
    write = type(wh.followers[0]).write

    def spy(self, wh, doc_type, rows, position, seq, reset):
        resets.append(reset)
        return write(self, wh, doc_type, rows, position, seq, reset)

    monkeypatch.setattr(type(wh.followers[0]), "write", spy)
    wh.spool(write_feed(str(tmp_path / "f2"), [envelope(4, dict(docs[3], newcol="nc"))]))
    assert resets == [False]
    assert "newcol" in wh.schemas["_default"]
    table = wh.table()
    con = sqlite3.connect(out)
    try:
        quoted = ", ".join(f'"{c}"' for c in table.columns)
        got = con.execute(f'SELECT {quoted} FROM "fevo"').fetchall()
    finally:
        con.close()
    assert len(got) == 4
    as_sqlite = [tuple(int(v) if isinstance(v, bool) else v for v in r) for r in table.collect()]
    assert sorted(as_sqlite) == sorted(got)
