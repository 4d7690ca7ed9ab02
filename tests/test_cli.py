"""CLI (couchwarehouse_spark.cli) — the reference's bin surface
(reference bin/couchwarehouse.bin.js:6-21) driven end-to-end over a
fixture feed: spool, split routing, Mango --query, --transform,
--reset, and the --sql passthrough."""

from __future__ import annotations

import random

from couchwarehouse_spark.cli import build_parser, main

from .fixtures import envelope, order_doc, user_doc, write_feed


def _mixed_feed(path: str) -> str:
    rng = random.Random(7)
    envs = [envelope(i + 1, order_doc(i, rng)) for i in range(8)]
    envs += [envelope(100 + i, user_doc(i, rng)) for i in range(3)]
    return write_feed(path, envs)


def test_parser_mirrors_reference_options():
    p = build_parser()
    a = p.parse_args(
        ["-f", "feed", "-d", "mydb", "-r", "-s", "type", "-q", "{}", "--quiet"]
    )
    assert a.feed == "feed" and a.database == "mydb"
    assert a.reset and a.split == "type" and a.query == "{}"


def test_cli_spools_and_queries(spark, tmp_path, capsys):
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    rc = main(
        [
            "--feed", feed,
            "--database", "clidb",
            "--warehouse-dir", wh_dir,
            "--split", "type",
            "--sql", "SELECT count(*) AS n FROM clidb_order",
            "--reset",  # verbose stays on: exercises message()
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "spooled through seq" in out
    assert "table 'clidb_order' ready" in out  # message(), on the package logger
    assert "8" in out  # the --sql result shows the 8 orders


def test_cli_mango_query_filters(spark, tmp_path, capsys):
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    rc = main(
        [
            "--feed", feed,
            "--database", "clifil",
            "--warehouse-dir", wh_dir,
            "--split", "type",
            "--query", '{"status": "paid"}',
            "--sql", "SELECT count(*) AS n FROM clifil_order",
            "--reset",
        ]
    )
    assert rc == 0
    # orders cycle paid/dispatched/returned → 3 of 8 are 'paid'
    assert "3" in capsys.readouterr().out


def test_cli_transform_hook(spark, tmp_path, capsys):
    feed = _mixed_feed(str(tmp_path / "feed"))
    tf = tmp_path / "tf.py"
    tf.write_text(
        "def transform(doc):\n"
        "    doc['upper_status'] = doc.get('status', '').upper()\n"
        "    return doc\n"
    )
    rc = main(
        [
            "--feed", feed,
            "--database", "clitf",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--split", "type",
            "--transform", str(tf),
            "--sql",
            "SELECT count(*) AS n FROM clitf_order WHERE upper_status = 'PAID'",
            "--reset",
        ]
    )
    assert rc == 0
    assert "3" in capsys.readouterr().out


def test_cli_rejects_bad_selector(tmp_path):
    import pytest

    with pytest.raises(SystemExit):
        main(["-f", "x", "-d", "y", "--query", "{not json"])


def test_cli_compact_flag(spark, tmp_path, capsys):
    """--compact runs compaction over every discovered doc type after
    the spool (a no-op on an unfragmented fresh table) and the
    warehouse stays queryable."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    rc = main(
        [
            "--feed", feed,
            "--database", "compactdb",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--split", "type",
            "--compact",
            "--sql", "SELECT count(*) AS n FROM compactdb_order",
            "--reset",
        ]
    )
    assert rc == 0
    assert "8" in capsys.readouterr().out


def test_cli_compact_flag_compacts_after_pages(spark, tmp_path, capsys):
    """After a spool and three pages of updates every touched bucket
    holds several files and dead rows; --compact rewrites each to one
    file of live rows."""
    import json
    import os

    rng = random.Random(3)
    wh_dir = str(tmp_path / "wh")
    pages = [[envelope(i + 1, order_doc(i, rng)) for i in range(40)]] + [
        [envelope(100 * n + i, order_doc(i * n, rng)) for i in range(10)] for n in (1, 2, 3)
    ]
    for n, envs in enumerate(pages):
        feed = write_feed(str(tmp_path / f"p{n}"), envs)
        args = ["--feed", feed, "--database", "cpages", "--warehouse-dir", wh_dir, "--quiet"]
        assert main(args + (["--compact"] if n == 3 else [])) == 0
    vdir = os.path.join(wh_dir, "cpages", "_cw_versions")
    with open(os.path.join(vdir, max(os.listdir(vdir)))) as f:
        head = json.load(f)
    assert head["op"] == "compact"
    assert head["dead"] == {} and all(len(fs) == 1 for fs in head["buckets"].values())
    assert main(["--feed", feed, "--database", "cpages", "--warehouse-dir", wh_dir,
                 "--quiet", "--sql", "SELECT count(*) AS n FROM cpages"]) == 0
    assert "40" in capsys.readouterr().out


def test_cli_zorder_flag(spark, tmp_path, capsys):
    """--zorder rewrites every discovered type's buckets ordered by
    the given columns as a new version; the warehouse stays queryable
    with identical content."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    rc = main(
        [
            "--feed", feed,
            "--database", "zdb",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--split", "type",
            "--zorder", "total,customerId",
            "--sql", "SELECT count(*) AS n FROM zdb_order",
            "--reset",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "z-ordered" in out
    assert "8" in out


def test_cli_rebucket_flag(spark, tmp_path, capsys):
    """--rebucket N resizes every table's id-hash layout; content and
    queryability are unchanged."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    rc = main(
        [
            "--feed", feed,
            "--database", "rbdb",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--split", "type",
            "--rebucket", "3",
            "--sql", "SELECT count(*) AS n FROM rbdb_order",
            "--reset",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "rebucketed 2 table(s) to 3 buckets" in out  # order + user types
    assert "8" in out


def test_cli_clone_flag(spark, tmp_path, capsys):
    """--clone SRC:DST snapshots a table zero-copy; both stay queryable."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    rc = main(
        [
            "--feed", feed,
            "--database", "clonedb",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--split", "type",
            "--clone", "order:order_dev",
            "--sql", "SELECT count(*) AS n FROM clonedb_order_dev",
            "--reset",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "cloned clonedb_order -> clonedb_order_dev" in out
    assert "8" in out


def test_library_start_query_stop_api(spark, tmp_path):
    """Reference export parity (index.js:257-260): start() spools and
    returns a queryable warehouse; monitor mode is stoppable via
    stop(); query() is real (the reference documents but never
    exports it)."""
    import couchwarehouse_spark as cw

    feed = _mixed_feed(str(tmp_path / "feed"))
    wh = cw.start(
        "apidb", feed,
        warehouse_dir=str(tmp_path / "wh"),
        split="type", verbose=False, spark=spark,
    )
    assert wh.query("SELECT count(*) AS n FROM apidb_order").first()["n"] == 8
    # Monitor lifecycle: start tailing a feed DIRECTORY (streaming
    # file source contract), then stop() terminates it.
    import os
    import shutil

    feed_dir = str(tmp_path / "feeddir")
    os.makedirs(feed_dir)
    shutil.copy(feed, os.path.join(feed_dir, "page0.jsonl"))
    wh2 = cw.start(
        "apimon", feed_dir,
        warehouse_dir=str(tmp_path / "wh2"),
        monitor=True, verbose=False, spark=spark,
    )
    assert wh2._active_query is not None and wh2._active_query.isActive
    assert cw._ACTIVE_WH is wh2
    cw.stop()
    assert cw._ACTIVE_WH is None
    assert wh2._active_query is None


def test_cli_jdbc_egress_assembles_dialect_write(spark, tmp_path, monkeypatch):
    """--jdbc routes every warehouse table through the JDBC writer
    with dialect column DDL (the reference's postgresql/mysql
    databaseType). No driver jar exists in this container, so the
    write call itself is captured and its options asserted."""
    import random

    import couchwarehouse_spark.sinks.jdbc as jdbc_sink
    from couchwarehouse_spark.cli import main

    from .fixtures import envelope, order_doc, write_feed

    calls = []

    def fake_write(df, url, table, user=None, password=None,
                   mode="append", schema=None):
        calls.append({
            "rows": df.count(), "cols": df.columns, "url": url,
            "table": table, "user": user, "mode": mode,
            "types": jdbc_sink.jdbc_column_types(schema),
        })

    monkeypatch.setattr(jdbc_sink, "write_jdbc", fake_write)
    rng = random.Random(41)
    feed = write_feed(
        str(tmp_path / "feed"),
        [envelope(i + 1, order_doc(i, rng)) for i in range(6)],
    )
    rc = main([
        "--feed", feed, "--database", "clijd",
        "--warehouse-dir", str(tmp_path / "wh"),
        "--jdbc", "jdbc:postgresql://h/db", "--jdbc-user", "u", "--quiet",
    ])
    assert rc == 0
    assert len(calls) == 1
    call = calls[0]
    assert call["rows"] == 6 and call["table"] == "clijd"
    assert call["url"] == "jdbc:postgresql://h/db"
    assert call["user"] == "u" and call["mode"] == "overwrite"
    assert call["cols"][0] == "id" and "_cw_seq" not in call["cols"]
    assert call["types"].startswith("id STRING")


def test_library_concurrent_monitors_each_stoppable(spark, tmp_path):
    """Two concurrent start(monitor=True) calls must not orphan the
    first monitor: each Warehouse owns its handles, stop(wh) / wh.stop()
    targets one, and the zero-arg stop() targets the most recent."""
    import os
    import shutil

    import couchwarehouse_spark as cw

    feed = _mixed_feed(str(tmp_path / "feed"))
    whs = []
    for name in ("mona", "monb"):
        feed_dir = str(tmp_path / f"feed_{name}")
        os.makedirs(feed_dir)
        shutil.copy(feed, os.path.join(feed_dir, "page0.jsonl"))
        whs.append(cw.start(
            name, feed_dir,
            warehouse_dir=str(tmp_path / f"wh_{name}"),
            monitor=True, verbose=False, spark=spark,
        ))
    a, b = whs
    # Starting b did NOT orphan a: its query is still tracked + active.
    assert a._active_query is not None and a._active_query.isActive
    assert b._active_query is not None and b._active_query.isActive
    cw.stop(a)  # targeted stop of the NON-latest monitor
    assert a._active_query is None
    assert b._active_query is not None and b._active_query.isActive
    cw.stop()  # zero-arg: latest
    assert b._active_query is None
    cw.stop()  # idempotent no-op


def test_cli_maintenance_vacuum_and_history(spark, tmp_path, capsys):
    """--vacuum and --history maintenance verbs: two spools produce two
    manifest versions; --vacuum 1 retains only the newest and --history
    prints the remaining commit log."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    base = [
        "--feed", feed,
        "--database", "maintdb",
        "--warehouse-dir", wh_dir,
    ]
    assert main([*base, "--reset", "--quiet"]) == 0
    # Second run re-reads the same feed; checkpoint makes it a no-op
    # spool, so fabricate a second version with a fresh envelope.
    rng = random.Random(9)
    upd = order_doc(0, rng)
    upd["status"] = "amended"
    feed2 = write_feed(str(tmp_path / "feed2"), [envelope(200, upd)])
    # --vacuum-min-age 0: this test IS the sole writer; the default is
    # a 10-minute grace that would (correctly) keep the just-written
    # superseded files.
    assert main(["--feed", feed2, "--database", "maintdb",
                 "--warehouse-dir", wh_dir, "--vacuum", "1",
                 "--vacuum-min-age", "0", "--history"]) == 0
    out = capsys.readouterr().out
    assert "vacuumed" in out and "history of maintdb" in out
    # Only the newest version survives the vacuum.
    from couchwarehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, wh_dir, "maintdb")
    versions = [r["version"] for r in wh.history().collect()]
    assert len(versions) == 1


def test_cli_restore_flag(spark, tmp_path, capsys):
    """--restore N rolls every table back to version N as a new commit
    BEFORE the (empty) spool, Delta RESTORE semantics."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    base = ["--feed", feed, "--database", "restdb", "--warehouse-dir", wh_dir]
    assert main([*base, "--reset", "--quiet"]) == 0
    rng = random.Random(11)
    upd = order_doc(0, rng)
    upd["status"] = "bad-batch"
    feed2 = write_feed(str(tmp_path / "feed2"), [envelope(300, upd)])
    assert main(["--feed", feed2, "--database", "restdb",
                 "--warehouse-dir", wh_dir, "--quiet"]) == 0

    feed3 = write_feed(str(tmp_path / "feed3"), [])  # maintenance-only run
    assert main(["--feed", feed3, "--database", "restdb",
                 "--warehouse-dir", wh_dir, "--restore", "1"]) == 0
    out = capsys.readouterr().out
    assert "restored" in out

    from couchwarehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, wh_dir, "restdb")
    for doc_type in wh.schemas:
        ops = {r["version"]: r["op"] for r in wh.history(doc_type).collect()}
        assert ops[max(ops)] == "restore"


def test_cli_mv_flag(spark, tmp_path, capsys):
    """--mv NAME:GROUP:VALUE attaches the incremental MV follower and
    prints the maintained aggregate after spooling."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    assert main(["--feed", feed, "--database", "mvclidb",
                 "--warehouse-dir", wh_dir, "--reset",
                 "--mv", "rev:status:total"]) == 0
    out = capsys.readouterr().out
    assert "materialized view rev" in out

    from couchwarehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, wh_dir, "mvclidb")
    mv = {r["status"]: r["mv_count"] for r in wh.materialized("rev").collect()}
    from pyspark.sql import functions as F

    full = {
        r["status"]: r["n"]
        for r in wh.table().groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert mv == full

    # Bad spec fails loudly, not silently.
    assert main(["--feed", feed, "--database", "mvclidb",
                 "--warehouse-dir", wh_dir, "--mv", "nope"]) == 1


def test_cli_analyze_flag(spark, tmp_path, capsys):
    """--analyze commits per-file column stats as a metadata-only
    version and prints the folded table statistics."""
    feed = _mixed_feed(str(tmp_path / "feed"))
    rc = main(
        [
            "--feed", feed,
            "--database", "adb",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--analyze",
            "--reset",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "analyzed" in out
    assert "ndv_upper_bound" in out  # describe_stats header printed


def test_cli_constraint_quarantine_flag(spark, tmp_path, capsys):
    """--constraint + --quarantine diverts violating rows to the
    dead-letter dir while the rest of the batch merges."""
    import json as _json
    import os as _os

    feed_dir = str(tmp_path / "feed")
    _os.makedirs(feed_dir)
    envs = [
        {"seq": "1-x", "id": "a", "doc": {"_id": "a", "total": 5.0}},
        {"seq": "2-x", "id": "b", "doc": {"_id": "b", "total": -1.0}},
    ]
    with open(_os.path.join(feed_dir, "feed.jsonl"), "w") as f:
        for e in envs:
            f.write(_json.dumps(e) + "\n")
    rc = main(
        [
            "--feed", feed_dir,
            "--database", "cdb",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--constraint", "positive_total:total > 0",
            "--quarantine",
            "--sql", "SELECT count(*) AS n FROM cdb",
            "--reset",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "CHECK constraint positive_total" in out
    from couchwarehouse_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), "cdb")
    assert wh.table().count() == 1
    assert wh.quarantined().count() == 1


def test_cli_delete_where_flag(spark, tmp_path, capsys):
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    rc = main(
        [
            "--feed", feed,
            "--database", "deldb",
            "--warehouse-dir", wh_dir,
            "--split", "type",
            "--reset",
            "--delete-where", "status = 'returned'",
            "--sql", "SELECT count(*) AS n FROM deldb_order WHERE status = 'returned'",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "deleted" in out
    assert "| 0   |" in out or "|0" in out.replace(" ", "")


def test_cli_update_where_flag(spark, tmp_path, capsys):
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    rc = main(
        [
            "--feed", feed,
            "--database", "upddb",
            "--warehouse-dir", wh_dir,
            "--split", "type",
            "--reset",
            "--update-where", "status = 'paid'::status='settled'",
            "--sql", "SELECT count(*) AS n FROM upddb_order WHERE status = 'settled'",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "updated" in out


def test_cli_update_where_rejects_bad_syntax(spark, tmp_path):
    import pytest as _pt

    feed = _mixed_feed(str(tmp_path / "feed"))
    with _pt.raises(SystemExit):
        main(
            [
                "--feed", feed,
                "--database", "baddb",
                "--warehouse-dir", str(tmp_path / "wh"),
                "--reset",
                "--update-where", "status = 'paid'",  # no :: assignments
            ]
        )


def test_cli_update_where_expr_with_commas(spark, tmp_path, capsys):
    feed = _mixed_feed(str(tmp_path / "feed"))
    rc = main(
        [
            "--feed", feed,
            "--database", "upd2db",
            "--warehouse-dir", str(tmp_path / "wh"),
            "--split", "type",
            "--reset",
            "--update-where",
            "status = 'paid'::status=concat('settled', '-', currency),currency='XXX'",
            "--sql",
            "SELECT count(*) AS n FROM upd2db_order WHERE currency = 'XXX'",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "updated" in out


def test_cli_fsck_flag(spark, tmp_path, capsys):
    feed = _mixed_feed(str(tmp_path / "feed"))
    wh_dir = str(tmp_path / "wh")
    rc = main(
        [
            "--feed", feed,
            "--database", "fsckdb",
            "--warehouse-dir", wh_dir,
            "--split", "type",
            "--reset",
            "--fsck",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "fsck" in out and "ok=True" in out
