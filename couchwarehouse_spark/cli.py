"""Command-line entry point — the reference CLI, Spark-shaped.

Mirrors ``reference bin/couchwarehouse.bin.js:6-21`` option for
option: ``--database``, ``--reset``, ``--split``, ``--transform``,
``--query`` (Mango selector), ``--verbose``, and ``--url`` /
``$COUCH_URL`` (the reference's CouchDB URL option). With ``--url``
the CLI tails ``{url}/{db}/_changes`` over HTTP into the ``--feed``
landing dir (``sources.http_changes``) before — and, under
``--monitor``, concurrently with — the Spark pipeline; without it
``--feed`` is a pre-spooled directory. One delta vs the reference:
``--databaseType`` becomes per-target flags: the warehouse itself is
the default target (parquet tables + Spark SQL), ``--sqlite PATH``
adds the reference's sqlite target and ``--es URL`` / ``$ESCONFIG``
the elasticsearch target (live ``_bulk``): both follow each merged
batch, spool or ``--monitor``, and catch up once when attached and
after the maintenance flags (``sinks/follow.py``); postgresql/mysql
ride the JDBC adapter (``sinks/jdbc.py``) where a driver jar exists.

Usage::

    python -m couchwarehouse_spark --feed ./landing --database mydb \\
        --warehouse-dir ./wh --split type --query '{"status":"paid"}' \\
        --sql 'SELECT count(*) FROM mydb_order'
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import logging
import os
import sys
import threading
from collections.abc import Callable


def _load_doc_transform(path: str) -> Callable[[dict], dict]:
    """Load a user transform module exposing ``transform(doc) -> doc``
    (the reference's ``--transform ./f.js``, reference
    index.js:198-200, in Python)."""
    spec = importlib.util.spec_from_file_location("cw_user_transform", path)
    if spec is None or spec.loader is None:
        raise SystemExit(f"couchwarehouse: cannot load transform {path!r}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    fn = getattr(mod, "transform", None)
    if not callable(fn):
        raise SystemExit(
            f"couchwarehouse: {path!r} must define transform(doc) -> doc"
        )
    return fn


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="couchwarehouse-spark",
        description="Spool a CouchDB-style changes feed into queryable Spark tables.",
    )
    p.add_argument("--feed", "-f", required=True,
                   help="directory of spooled changes-feed JSON lines")
    p.add_argument("--url", "-u", default=os.environ.get("COUCH_URL"),
                   help="CouchDB base URL (default $COUCH_URL); when set, "
                        "tail {url}/{db}/_changes into --feed over HTTP "
                        "before (and, with --monitor, while) processing")
    p.add_argument("--database", "--db", "-d",
                   default=os.environ.get("COUCH_DATABASE") or None,
                   required=not os.environ.get("COUCH_DATABASE"),
                   help="database name (default $COUCH_DATABASE)")
    p.add_argument("--warehouse-dir", "-w", default="./couchwarehouse",
                   help="directory holding the warehouse tables")
    p.add_argument("--reset", "-r", action="store_true",
                   help="ignore previously loaded data and start again")
    p.add_argument("--split", "-s", default=None,
                   help="doc field that routes documents into per-type tables")
    p.add_argument("--evolve-schema", action="store_true",
                   help="let later batches ADD columns (null-backfilled, "
                        "versioned — Delta mergeSchema) instead of the "
                        "reference's frozen-schema drop")
    p.add_argument("--query", "-q", default=None,
                   help="Mango selector JSON filtering the feed")
    p.add_argument("--transform", "-t",
                   default=os.environ.get("COUCH_TRANSFORM"),
                   help="path to a Python file defining transform(doc) -> doc "
                        "(default $COUCH_TRANSFORM)")
    p.add_argument("--monitor", action="store_true",
                   help="after spooling, keep tailing the feed continuously")
    p.add_argument("--processing-time", default="10 seconds",
                   help="monitor-mode trigger interval")
    p.add_argument("--sql", default=None,
                   help="SQL to run against the warehouse after spooling (R17)")
    p.add_argument("--compact", action="store_true",
                   help="after spooling, compact fragmented buckets into a "
                        "new table version")
    p.add_argument("--clone", default=None, metavar="SRC:DST",
                   help="after spooling, zero-copy-clone table SRC to DST "
                        "(hardlinked snapshot; each side then evolves and "
                        "vacuums independently)")
    p.add_argument("--rebucket", type=int, default=None, metavar="N",
                   help="after spooling, rewrite every table under an "
                        "N-bucket id-hash layout as a new version "
                        "(partition-strategy evolution; the count is "
                        "recorded per manifest version)")
    p.add_argument("--zorder", default=None, metavar="COL[,COL...]",
                   help="after spooling (and --compact), rewrite every "
                        "bucket z-ordered by these columns as a new table "
                        "version (OPTIMIZE ZORDER BY: tight parquet "
                        "row-group stats in every listed dimension)")
    p.add_argument("--constraint", action="append", default=None,
                   metavar="NAME:EXPR",
                   help="add a CHECK constraint before spooling (repeatable; "
                        "e.g. --constraint positive_total:'total > 0'); "
                        "violating batches fail, or divert with --quarantine")
    p.add_argument("--quarantine", action="store_true",
                   help="with --constraint: divert violating rows to the "
                        "dead-letter dir instead of rejecting the batch")
    p.add_argument("--analyze", action="store_true",
                   help="after spooling, collect per-file column statistics "
                        "into the manifest as a metadata-only version "
                        "(incremental by file; Delta ANALYZE semantics) and "
                        "print the folded table stats")
    p.add_argument("--fsck", action="store_true",
                   help="verify every table's current version: referenced "
                        "files exist, recorded id-range stats match the "
                        "parquet footers, and every row lives in the bucket "
                        "its id hashes to; exit nonzero on any corruption")
    p.add_argument("--vacuum", type=int, default=None, metavar="KEEP",
                   help="after spooling (and --compact), reclaim part files "
                        "not referenced by each table's newest KEEP manifest "
                        "versions (snapshot retention; see Warehouse.vacuum)")
    p.add_argument("--vacuum-min-age", type=float, default=None,
                   metavar="SECONDS",
                   help="age guard for --vacuum: files newer than this are "
                        "kept even when unreferenced (default: a 10-minute "
                        "grace so a writer mid-commit in ANOTHER process "
                        "can't lose in-flight files; pass 0 only when this "
                        "is the sole writer)")
    p.add_argument("--history", action="store_true",
                   help="after spooling, print each table's manifest commit "
                        "log (version, op, timestamp, file count)")
    p.add_argument("--mv", default=None, metavar="NAME:GROUP:VALUE",
                   help="maintain an incremental materialized aggregate "
                        "NAME over the warehouse: per-GROUP sum/count of "
                        "VALUE, refreshed after every merged batch "
                        "(sinks/materialized.py); printed after spooling")
    p.add_argument("--delete-where", default=None, metavar="EXPR",
                   help="row-level DELETE: remove rows where the SQL "
                        "predicate is TRUE from every table that has the "
                        "referenced columns (commits a new version; old "
                        "snapshots keep the rows until --vacuum)")
    p.add_argument("--update-where", default=None, metavar="EXPR::COL=EXPR[,COL=EXPR...]",
                   help="row-level UPDATE: for rows matching the predicate "
                        "before '::', apply the comma-separated column "
                        "assignments (e.g. --update-where \"age > 40::age=age+1\")")
    p.add_argument("--restore", type=int, default=None, metavar="VERSION",
                   help="BEFORE spooling, roll every table back to this "
                        "manifest version as a new commit (Delta RESTORE "
                        "semantics; fails loudly if the version was "
                        "vacuumed)")
    p.add_argument("--sqlite", default=None, metavar="PATH",
                   help="mirror every table into this SQLite file (the "
                        "reference's default target), one merged batch "
                        "at a time")
    p.add_argument("--es", default=os.environ.get("ESCONFIG"), metavar="URL",
                   help="Elasticsearch base URL (default $ESCONFIG): "
                        "mirror every table into it over _bulk, one "
                        "merged batch at a time")
    p.add_argument("--jdbc", default=os.environ.get("JDBCCONFIG"), metavar="URL",
                   help="JDBC URL (default $JDBCCONFIG), e.g. "
                        "jdbc:postgresql://host/db or jdbc:mysql://host/db: "
                        "after spooling, write every table via df.write.jdbc "
                        "with dialect-exact column DDL — the reference's "
                        "postgresql/mysql databaseType targets")
    p.add_argument("--jdbc-user", default=None, help="JDBC username")
    p.add_argument("--jdbc-password", default=None, help="JDBC password")
    p.add_argument("--quiet", action="store_true",
                   help="suppress progress/instruction output")
    return p


def _log_to_stdout(quiet: bool) -> None:
    """The package's one logging channel (``couchwarehouse_spark``) on
    stdout, as the CLI's own lines are, unless ``--quiet``. A handler a
    previous call attached goes first: it holds that call's stdout."""
    log = logging.getLogger("couchwarehouse_spark")
    for h in [h for h in log.handlers if getattr(h, "cli_stdout", False)]:
        log.removeHandler(h)
    if quiet:
        return
    handler = logging.StreamHandler(sys.stdout)
    handler.cli_stdout = True
    handler.setFormatter(logging.Formatter("couchwarehouse: %(message)s"))
    log.addHandler(handler)
    log.setLevel(logging.INFO)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    selector = None
    if args.query:
        try:
            selector = json.loads(args.query)
        except json.JSONDecodeError as exc:  # reference index.js:202-214
            raise SystemExit(f"couchwarehouse: invalid Mango selector: {exc}")

    doc_transform = _load_doc_transform(args.transform) if args.transform else None

    def say(msg: str, err: bool = False) -> None:
        if not args.quiet:
            print(f"couchwarehouse: {msg}", file=sys.stderr if err else sys.stdout)

    _log_to_stdout(args.quiet)

    from couchwarehouse_spark.session import get_spark
    from couchwarehouse_spark.warehouse import Warehouse

    spark = get_spark(app_name=f"couchwarehouse_{args.database}")
    wh = Warehouse(
        spark,
        args.warehouse_dir,
        args.database,
        split=args.split,
        doc_transform=doc_transform,
        selector=selector,
        reset=args.reset,
        verbose=not args.quiet,
        evolve_schema=args.evolve_schema,
        constraint_mode="quarantine" if args.quarantine else "error",
    )
    for spec in args.constraint or []:
        cname, _, cexpr = spec.partition(":")
        if not cexpr:
            print("couchwarehouse: --constraint wants NAME:EXPR", file=sys.stderr)
            return 1
        wh.add_constraint(cname, cexpr)
        say(f"CHECK constraint {cname}: {cexpr}")

    if args.mv:
        try:
            mv_name, mv_group, mv_value = args.mv.split(":")
        except ValueError:
            print(
                f"couchwarehouse: bad --mv spec {args.mv!r} "
                "(want NAME:GROUP:VALUE)",
                file=sys.stderr,
            )
            return 1
        from couchwarehouse_spark.sinks.materialized import sum_count_mv_follower

        wh.followers.append(sum_count_mv_follower(mv_name, mv_group, mv_value))

    if args.restore is not None:
        # Roll back BEFORE new changes land, so the spool merges onto
        # the restored state rather than the bad head version.
        for doc_type in wh.schemas:
            v = wh.restore(args.restore, doc_type)
            say(f"restored {wh.table_name(doc_type)} to version {args.restore} "
                f"(as new version {v})")

    tailer_stop = threading.Event()
    if args.url:
        # R1: drain the live feed into the landing dir before the Spark
        # pipeline reads it (reference index.js:74-140 spoolChanges).
        from couchwarehouse_spark.sources.http_changes import (
            ChangesHTTPClient,
            monitor_to_dir,
            spool_to_dir,
        )

        client = ChangesHTTPClient(args.url, args.database, selector=selector)
        on_batch = None
        if not args.quiet:
            # Progress-bar sizing parity (reference index.js:218-229):
            # one since=now&limit=1 probe gives the feed-head seq "to
            # aim for"; each landed batch reports percent toward it.
            target = 0
            try:
                target = client.head_seq()
            except Exception:
                pass  # probe failure must never block the spool
            print(f"couchwarehouse: feed head at seq {target}")

            def on_batch(n, seq, _t=target):
                from couchwarehouse_spark.operators.document import (
                    extract_seq_number,
                )

                pos = extract_seq_number(seq) or 0
                pct = f" ({min(100, 100 * pos // _t)}%)" if _t else ""
                print(f"couchwarehouse: landed {n} changes @ {seq}{pct}")

        last_seq = spool_to_dir(client, args.feed, on_batch=on_batch)
        if args.monitor:
            # R2: repeated longpolls on a driver-side thread while the
            # streaming job tails the landing dir (index.js:143-170).
            threading.Thread(
                target=monitor_to_dir,
                args=(client, args.feed, last_seq, tailer_stop.is_set),
                kwargs={"on_batch": on_batch},
                daemon=True,
            ).start()

    # The --sqlite/--es targets follow every merged batch; sync catches
    # a target up to head when attached and after the maintenance ops.
    targets = []
    if args.sqlite:
        from couchwarehouse_spark.sinks.sqlite import sqlite_follower

        targets.append(sqlite_follower(args.sqlite))
    if args.es:
        from couchwarehouse_spark.sinks.elasticsearch import es_follower

        targets.append(es_follower(args.es))

    def sync_targets() -> None:
        for target in targets:
            for doc_type in wh.schemas:
                target.sync(wh, doc_type)

    sync_targets()
    wh.followers.extend(targets)

    if args.monitor:
        q = wh.start(args.feed, monitor=True, processing_time=args.processing_time)
        try:
            q.awaitTermination()
        except KeyboardInterrupt:  # reference stops on SIGINT
            q.stop()
        finally:
            tailer_stop.set()
        return 0

    last = wh.spool(args.feed)
    say(f"spooled through seq {last}")
    if args.compact:
        for doc_type in wh.schemas:
            n = wh.compact(doc_type)
            if n:
                say(f"compacted {n} buckets of {doc_type}")
    if args.delete_where:
        for doc_type in wh.schemas:
            try:
                n = wh.delete_where(args.delete_where, doc_type)
            except Exception as err:  # type missing a referenced column
                say(f"--delete-where skipped {wh.table_name(doc_type)}: {err}", err=True)
                continue
            say(f"deleted {n} row(s) from {wh.table_name(doc_type)}")
    if args.update_where:
        pred, sep, rest = args.update_where.partition("::")
        if not sep or not rest:
            raise SystemExit(
                "couchwarehouse: --update-where wants PREDICATE::COL=EXPR[,...]"
            )
        # Split assignments on top-level commas only, so expressions
        # like COL=concat(a, b) survive; commas inside (...) or quotes
        # never separate assignments.
        assigns = {}
        parts, depth, buf, quote = [], 0, [], None
        for ch in rest:
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "'\"":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(buf))
                buf = []
                continue
            buf.append(ch)
        parts.append("".join(buf))
        for part in parts:
            col, eq, expr = part.partition("=")
            if not eq or not col.strip() or not expr.strip():
                raise SystemExit(
                    "couchwarehouse: --update-where assignment wants COL=EXPR"
                )
            assigns[col.strip()] = expr.strip()
        for doc_type in wh.schemas:
            cols = set(wh.schemas[doc_type])
            if not set(assigns) <= cols:
                continue  # split mode: apply only where the columns exist
            try:
                n = wh.update_where(pred, assigns, doc_type)
            except Exception as err:  # predicate references a missing column
                say(f"--update-where skipped {wh.table_name(doc_type)}: {err}", err=True)
                continue
            say(f"updated {n} row(s) of {wh.table_name(doc_type)}")
    if args.clone:
        src_t, _, dst_t = args.clone.partition(":")
        if not dst_t:
            raise SystemExit("couchwarehouse: --clone needs SRC:DST")
        n = wh.clone(src_t, dst_t)
        say(f"cloned {wh.table_name(src_t)} -> {wh.table_name(dst_t)} ({n} files linked)")
    if args.rebucket:
        n = wh.rebucket(args.rebucket)
        say(f"rebucketed {n} table(s) to {args.rebucket} buckets")
    if args.zorder:
        zcols = [c.strip() for c in args.zorder.split(",") if c.strip()]
        for doc_type in wh.schemas:
            # Split mode: each type has its own frozen schema — apply
            # only the columns that exist there, skip types with none.
            cols_t = [c for c in zcols if c in wh.schemas[doc_type]]
            if not cols_t:
                continue
            n = wh.optimize_zorder(cols_t, doc_type)
            if n:
                say(f"z-ordered {n} buckets of {wh.table_name(doc_type)} by {','.join(cols_t)}")
    if args.analyze:
        for doc_type in wh.schemas:
            n = wh.analyze(doc_type)
            say(f"analyzed {n} new file(s) of {wh.table_name(doc_type)}")
            if not args.quiet:
                wh.describe_stats(doc_type).show(truncate=False)
    sync_targets()
    if args.fsck:
        bad = 0
        for doc_type in wh.schemas:
            rep = wh.fsck(doc_type).collect()[0]
            say(
                f"fsck {wh.table_name(doc_type)} v{rep['version']}: "
                f"files={rep['n_files']} missing={rep['n_missing_files']} "
                f"stat_mismatch={rep['n_stat_mismatches']} "
                f"misplaced_rows={rep['n_misplaced_rows']} ok={rep['ok']}"
            )
            if not rep["ok"]:
                bad += 1
        if bad:
            return 1
    if args.vacuum is not None:
        min_age = (
            args.vacuum_min_age
            if args.vacuum_min_age is not None
            else Warehouse.DEFAULT_VACUUM_GRACE_SECONDS
        )
        for doc_type in wh.schemas:
            n = wh.vacuum(
                doc_type, retain_versions=args.vacuum, min_age_seconds=min_age
            )
            say(f"vacuumed {n} files of {wh.table_name(doc_type)} "
                f"(kept {max(1, args.vacuum)} versions)")
    if args.mv and not args.quiet:
        mv_name = args.mv.split(":")[0]
        for doc_type in wh.schemas:
            print(f"couchwarehouse: materialized view {mv_name} of "
                  f"{wh.table_name(doc_type)}")
            wh.materialized(mv_name, doc_type).show(50, truncate=False)
    if args.history:
        for doc_type in wh.schemas:
            print(f"couchwarehouse: history of {wh.table_name(doc_type)}")
            wh.history(doc_type).show(50, truncate=False)
    if args.jdbc:
        # The reference's postgresql/mysql databaseType targets
        # (bin/couchwarehouse.bin.js:9, lib/postgresql.js,
        # lib/mysql.js) ride Spark's parallel JDBC writer: a full
        # overwrite of each table's merged state needs no tombstone
        # pass (deleted rows simply aren't in the state), and
        # createTableColumnTypes carries the dialect DDL. Dialect-
        # exact per-row upsert/delete statements live in
        # sinks.dialects for follower-style incremental egress.
        from couchwarehouse_spark.sinks import jdbc as jdbc_sink

        for doc_type, schema in wh.schemas.items():
            name = wh.table_name(doc_type)
            full = {"id": "string", **schema}
            table_df = wh.table(doc_type)
            jdbc_sink.write_jdbc(
                table_df.select(*[c for c in full if c in table_df.columns]),
                args.jdbc,
                name,
                user=args.jdbc_user,
                password=args.jdbc_password,
                mode="overwrite",
                schema=full,
            )
            say(f"wrote {name} -> {args.jdbc}")
    if args.sql:
        wh.query(args.sql).show(50, truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
