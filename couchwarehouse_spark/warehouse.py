"""The warehouse: changes feed → conformed, queryable Spark tables.

End-to-end orchestration mirroring the reference's ``start()``
lifecycle (reference index.js:181-255): resume from checkpoint, spool
the feed, discover first-doc schemas per type, conform, upsert,
propagate deletes, checkpoint — then expose everything to SQL
(reference README.md:14 "your database can be queried using SQL").

Shape: an ingest page that fits the driver never enters the JVM. The
batch spool reads its feed's lines in Python; a streamed micro-batch
makes one ``toArrow`` of its envelopes (streaming.ingest). From there
both run ``_process_batch`` on the driver: parse each doc (orjson),
route it to its type, infer each type's doc schema from its own docs
(Spark's JSON inference rules), freeze or evolve the table schema,
flatten and conform into an Arrow table typed by the frozen schema
(operators.document), and merge — latest-wins, key read and part-file
write with pyarrow kernels. A page with no Spark hook submits no Spark
job. Spark sees a page only through the hooks that are Spark code (the
frame-level ``transform``, CHECK constraints, followers), on a
``createDataFrame`` of the Arrow page, and only when they are set; the
per-doc ``doc_transform`` is a plain call. For continuous sync the same
``_process_batch`` runs under Structured Streaming ``foreachBatch``, the
micro-batch analog of the reference's 'batch' event loop (reference
index.js:105-125).

Scale: tables are hash-bucket-partitioned on ``id`` (parquet
``_cw_bucket=K`` directories), and a merge is MERGE-ON-READ: a batch
appends its winning rows as one new part file per bucket they hash
into and records, in the same manifest, which stored row versions
they supersede (the dead set, Delta's deletion vectors / Iceberg's
row-level deletes) — per-batch write I/O is proportional to the batch,
not the table (the reference's per-row ``REPLACE INTO``, reference
lib/sqlite.js:82). Every reader drops dead rows; a bucket is folded
back to one file once an append would leave it with more than
``MAX_FILES_PER_BUCKET`` files. Commits are MANIFEST SNAPSHOTS in the
Delta-lake style: a merge writes new part files alongside the old
ones and then atomically renames one JSON manifest listing exactly
the files that make up the new version — readers resolve the latest
manifest, so they see a complete snapshot before OR after a commit,
never a torn mid-swap directory, and a reader holding version N keeps
a consistent view while version N+1 commits (old files are retained
until an explicit ``vacuum``). A crash mid-commit leaves orphan part
files that no manifest references — invisible to readers, reclaimed
by ``vacuum`` — and the unadvanced checkpoint replays the batch
idempotently. Table state transits the driver only a bucket at a time,
when a merge folds it, so the bucket count bounds the driver's memory;
whole-table rewrites (compact, delete_where, update_where, rebucket,
Z-order) stay Spark reads and writes.
"""

from __future__ import annotations

import functools
import itertools
import json
import logging
import os
import shutil
from collections.abc import Callable, Mapping

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couchwarehouse_spark.functions.mango import compile_arrow_selector
from couchwarehouse_spark.operators.bucketing import xxhash64, xxhash64_ids
from couchwarehouse_spark.operators.document import (
    logical_of_arrow,
    schema_to_struct,
    struct_of_spark,
    usable_table_name,
)

# The ingest lane's flatten and conform, resolved by these names at each
# batch (perfbench/tracing.py wraps them here as the document layers).
from couchwarehouse_spark.operators.document import conform_table as conform_frame
from couchwarehouse_spark.operators.document import flatten_docs as flatten_frame
from couchwarehouse_spark.operators.upsert import (
    DELETED_COL,
    SEQ_COL,
    CheckpointStore,
    latest_rows,
    merge_batch,
    write_json_atomic,
)
from couchwarehouse_spark.sources.changes import (
    DEFAULT_TYPE,
    TOMBSTONE_ARROW,
    parse_page,
    read_changes_feed,
)

log = logging.getLogger("couchwarehouse_spark")


class ConcurrentCommitError(RuntimeError):
    """Two writers raced to commit the same table version; the loser
    gets this instead of silently clobbering the winner's manifest."""


class ConstraintViolationError(RuntimeError):
    """A batch contained rows violating a CHECK constraint while the
    warehouse runs in the default ``constraint_mode='error'`` — the
    batch is rejected whole (Delta CHECK semantics: the write fails,
    the table never holds a violating row)."""


def _parquet_range(fp: str, col: str) -> tuple | None:
    """One column's (min, max) across a part file's row groups, from
    the parquet footer — None when the column or its statistics are
    absent. Files are immutable once committed, so the result may be
    recorded in the manifest (the ``id`` range, Delta's stats-in-log)
    or cached by path (the ``_cw_seq`` maximum)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fp).metadata
    idx = next(
        (i for i in range(md.num_columns) if md.schema.column(i).name == col),
        None,
    )
    if idx is None:
        return None
    mn = mx = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        mn = st.min if mn is None or st.min < mn else mn
        mx = st.max if mx is None or st.max > mx else mx
    return None if mn is None else (mn, mx)


def _dead_key(seq: int, doc_id: str | None) -> str:
    """The dead-set name of one stored row version, ``<seq>:<id>``
    (``<seq>`` alone for a NULL id): what readers compute per row as
    ``concat_ws(':', _cw_seq, id)`` (``_DEAD_KEY_SQL``). A feed row's
    seq is its change's seq and ``merge_into`` stamps one seq on ids
    made unique, so the pair names exactly one version."""
    return str(seq) if doc_id is None else f"{seq}:{doc_id}"


_DEAD_KEY_SQL = f"concat_ws(':', cast({SEQ_COL} AS string), id)"


# Numbers the process's scratch dirs (``Warehouse._scratch_dir``); one
# counter for every Warehouse of the process, so two on one table never
# draw the same name.
_SCRATCH_COUNTER = itertools.count()


def _not_in_sql(keys) -> str:
    """``<dead key> NOT IN (<keys as SQL string literals>)`` — one
    predicate string, parsed once by ``F.expr``; Catalyst turns the
    literal list into a hash set."""
    lits = ", ".join(
        "'" + k.replace("\\", "\\\\").replace("'", "\\'") + "'" for k in keys
    )
    return f"{_DEAD_KEY_SQL} NOT IN ({lits})"


def _dead_digest(keys) -> str:
    """A fingerprint of one bucket's dead set: per-file ANALYZE stats
    count live rows, so they hold only while the dead set they were
    computed under is unchanged."""
    import hashlib

    return hashlib.sha1("\n".join(sorted(keys)).encode()).hexdigest()[:16] if keys else ""


@functools.lru_cache(maxsize=16)
def _declared_struct(ddl: str):
    """The doc struct a ``feed_schema`` DDL declares, parsed by Spark
    once per DDL."""
    from pyspark.sql.types import _parse_datatype_string

    return struct_of_spark(_parse_datatype_string(ddl))


def _collect_arrow(df: DataFrame) -> pa.Table:
    """One ``toArrow`` of ``df`` with the types the driver lane reads:
    string, numeric and boolean columns as they are, every other column
    as Spark's string cast of it; large strings as strings."""
    atomic = (T.StringType, T.NumericType, T.BooleanType, T.NullType)
    table = df.select(
        [
            F.col(f"`{f.name}`") if isinstance(f.dataType, atomic) else F.col(f"`{f.name}`").cast("string").alias(f.name)
            for f in df.schema.fields
        ]
    ).toArrow()
    return table.cast(
        pa.schema([f.with_type(pa.string()) if pa.types.is_large_string(f.type) else f for f in table.schema])
    )


class Warehouse:
    """A CouchDB-database-shaped warehouse on Spark.

    Parameters mirror the reference CLI (reference bin/
    couchwarehouse.bin.js:6-16): ``split`` = route by this doc field
    into per-type tables (R8); ``transform`` = frame-level transform
    applied to each type's flattened frame before schema freezing
    (R5, fast path); ``doc_transform`` = dict→dict per-doc hook (R5,
    reference-exact slow path); ``selector`` = Mango filter compiled
    evaluated on each type's flattened page (R4); ``reset`` = drop
    state and start from seq 0 (R19).
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        db_name: str,
        split: str | None = None,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        doc_transform: Callable[[dict], dict] | None = None,
        selector: Mapping | None = None,
        reset: bool = False,
        verbose: bool = False,
        n_buckets: int = 16,
        followers: list[Callable] | None = None,
        auto_vacuum: int | None = None,
        merge_retries: int = 0,
        evolve_schema: bool = False,
        feed_schema: str | None = None,
        constraint_mode: str = "error",
    ):
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        self.db_name = db_name
        self.split = split
        self.transform = transform
        self.doc_transform = doc_transform
        self.selector_mask = compile_arrow_selector(selector) if selector else None
        self.verbose = verbose
        # Bucket count for incremental merge: ids are stable under
        # pmod(xxhash64(id), n_buckets), so a micro-batch touches (and
        # rewrites) at most min(|batch ids|, n_buckets) partitions.
        # Size so one bucket ≈ a comfortable rewrite unit (e.g. 1024
        # buckets for a 1 TB table ⇒ ~1 GB rewrites).
        self.n_buckets = n_buckets
        # Sink followers: callables (wh, doc_type, conformed_batch,
        # tombstones, version, seq) invoked per merged micro-batch with
        # the SAME conformed frame the merge applied, the version it
        # committed and the feed batch's seq token (``_batch_seq``,
        # None outside a feed batch) — the reference's per-batch
        # insertBulk fan-out (lib/sqlite.js:60, lib/elasticsearch.js:16).
        self.followers: list[Callable] = list(followers or [])
        self._batch_seq: str | None = None
        # Retention policy for continuous ingest: every merged batch
        # commits a manifest version, so an unattended monitor would
        # accumulate manifests + superseded files without bound.
        # auto_vacuum=N vacuums each merged type down to its newest N
        # versions after every batch (explicit vacuum() remains for
        # operator-driven retention). None = keep everything.
        # RETENTION BOUNDS TIME TRAVEL: changes(since_version)/
        # table(version=...) only reach retained versions, so CDF
        # consumers must poll within N batches or fall back to a full
        # re-export (same contract as Delta CDF + VACUUM).
        self.auto_vacuum = auto_vacuum
        # Opt-in schema evolution (Delta's mergeSchema): later batches
        # may ADD columns (null-backfilled for existing rows, visible
        # from the version that added them); existing columns keep
        # their frozen type. False (default) = the reference's exact
        # frozen-schema semantics — extra fields silently dropped
        # (reference README.md:300-304, test/run_evolve.js).
        self.evolve_schema = evolve_schema
        # Optimistic-concurrency retry budget for redundant HA
        # ingestors: on ConcurrentCommitError the merge replays against
        # the winner's head up to this many times (idempotent by seq).
        # 0 (default) = conflicts stay loud — single-writer topologies
        # should never silently mask a protocol violation.
        self.merge_retries = merge_retries
        # Strict-mode feed contract: a DDL string for the doc struct
        # (e.g. "_id string, total double"). When set, every spool and
        # every streamed micro-batch reads its docs as ``from_json``
        # with it would — no inference pass over the docs. None = infer
        # each type's doc schema from its docs (the reference's
        # schemaless posture).
        self.feed_schema = feed_schema
        self.schemas: dict[str, dict[str, str]] = {}
        # Tables created by clone(): branches, not doc types — the
        # feed's tombstone fan-out must never reach them (a clone is
        # a frozen-lineage snapshot; only EXPLICIT merges into it
        # evolve it). Persisted in _schemas.json meta.
        self.clone_types: set[str] = set()
        # Delta-style CHECK constraints per doc type: {type: {name:
        # sql_expr}}. NULL passes (SQL-standard CHECK); enforcement
        # mode is 'error' (reject the batch) or 'quarantine' (divert
        # offenders to _quarantine/<type>/ and merge the rest).
        self.constraints: dict[str, dict[str, str]] = {}
        if constraint_mode not in ("error", "quarantine"):
            raise ValueError(f"unknown constraint_mode {constraint_mode!r}")
        self.constraint_mode = constraint_mode
        # Per-file max(_cw_seq) footer reads, cached by absolute path —
        # part files are immutable once a manifest references them, so
        # an entry never goes stale; new commits add new file names.
        self._seq_stat_cache: dict[str, int | None] = {}
        self.checkpoints = CheckpointStore(spark, os.path.join(warehouse_dir, "_checkpoints"))
        if reset:
            self.reset()
        self._load_schemas()
        # No crash-heal pass is needed at open: commits are atomic
        # manifest renames, so the only residue a crashed process can
        # leave is orphan part files / a stale ._tmp dir — both
        # invisible to readers (no manifest references them) and
        # reclaimed by vacuum() / the next merge respectively.

    # -- persistence of the frozen schema registry ---------------------

    @property
    def _schema_path(self) -> str:
        return os.path.join(self.warehouse_dir, "_schemas.json")

    def _load_schemas(self) -> None:
        if os.path.exists(self._schema_path):
            with open(self._schema_path) as f:
                stored = json.load(f)
            meta = stored.pop("__meta__", None)
            self.schemas = stored
            if meta and "clones" in meta:
                self.clone_types = set(meta["clones"])
            if meta and "constraints" in meta:
                self.constraints = meta["constraints"]
            if meta and "n_buckets" in meta:
                # The ON-DISK bucket count wins over the constructor
                # arg: ids were hashed with it, so a different value
                # would silently mis-route lookups and merge pruning.
                self.n_buckets = int(meta["n_buckets"])

    def _save_schemas(self) -> None:
        write_json_atomic(
            self._schema_path,
            {
                "__meta__": {
                    "n_buckets": self.n_buckets,
                    "clones": sorted(self.clone_types),
                    "constraints": self.constraints,
                },
                **self.schemas,
            },
        )

    # -- naming --------------------------------------------------------

    def table_name(self, doc_type: str = DEFAULT_TYPE) -> str:
        # A non-default type always takes the suffixed name: in split
        # mode that's the reference's db_docType; in an UNSPLIT
        # warehouse the only way a non-default type exists is clone(),
        # whose target must not collide with the source table's name.
        return usable_table_name(
            self.db_name,
            None if doc_type == DEFAULT_TYPE else doc_type,
            split=self.split is not None or doc_type != DEFAULT_TYPE,
        )

    def _table_path(self, doc_type: str) -> str:
        return os.path.join(self.warehouse_dir, self.table_name(doc_type))

    # -- lifecycle -----------------------------------------------------

    def reset(self) -> None:
        """R19 — truncate & reload: drop all state and checkpoints."""
        # The checkpoints live under the warehouse dir, so they go too.
        shutil.rmtree(self.warehouse_dir, ignore_errors=True)
        self.schemas = {}


    def spool(self, feed_path: str) -> str | None:
        """Batch-replay a spooled changes feed into the warehouse (R1).

        Resumes from the last checkpoint unless the store is fresh
        (reference index.js:240-243); returns the new last-seq token.
        The feed's lines are read on the driver, with no Spark job, and
        parsed as a streamed micro-batch is (``_process_batch``).
        """
        last = self._process_batch(read_changes_feed(feed_path, since=self.checkpoints.read(self.db_name)))
        if last is not None:
            self.checkpoints.write(self.db_name, last)
            if self.verbose:
                self.message()
        return last

    def _process_batch(self, env: pa.Table) -> str | None:
        """Conform + merge one envelope batch (the 'batch' event body,
        reference index.js:105-125) on the driver: ``parse_page`` parses,
        routes and infers it, each type's docs are flattened, and each
        type merges its page and the tombstones. The envelopes are
        released once flattened (a caller that passes them without
        keeping them frees them before the merges). Returns the batch's
        max seq token."""
        declared = None if self.feed_schema is None else _declared_struct(self.feed_schema)
        page = parse_page(env, self.split, self.doc_transform, declared)
        del env
        flats = {t: flatten_frame(page.doc_chunks(t), docs.struct) for t, docs in page.types.items()}
        tombstones, last_seq = page.tombstones, page.last_seq
        del page
        types = set(flats)
        # Tombstones must reach EVERY existing table, including types
        # with no live doc in this batch (a batch of pure deletes) —
        # CouchDB tombstones carry no type (reference lib/sqlite.js:95-98
        # deletes by id wherever the row lives).
        if tombstones.num_rows:
            # Fan out to every DOC-TYPE table — but never to clone()
            # branches, whose lineage is frozen at clone time.
            types |= set(self.schemas.keys()) - self.clone_types
        self._batch_seq = last_seq
        try:
            for doc_type in sorted(types):
                self._merge_type(flats.pop(doc_type, None), tombstones, doc_type)
                if self.auto_vacuum is not None:
                    # Default grace, NOT zero: redundant HA ingestors
                    # (tests/test_multiprocess_race.py) may race this
                    # table, and a zero-grace vacuum here could delete
                    # a peer's published-but-not-yet-committed files.
                    # Expired MANIFESTS still drop immediately (version
                    # retention is not age-guarded), so auto_vacuum
                    # keeps bounding the log; superseded data files
                    # are reclaimed once older than the grace.
                    self.vacuum(doc_type, retain_versions=self.auto_vacuum)
            self._save_schemas()
        finally:
            self._batch_seq = None
        return last_seq

    def _bucket_of(self, col, n_buckets: int | None = None) -> "F.Column":
        """THE bucket formula of Spark's rewrites and ``fsck``;
        ``_bucket_of_id`` and the merge evaluate the same formula on the
        driver (``operators.bucketing.xxhash64``).
        ``n_buckets`` overrides the warehouse default with a specific
        VERSION's recorded count (manifests are authoritative once a
        table exists — see ``rebucket``)."""
        c = F.col(col) if isinstance(col, str) else col
        return F.pmod(F.xxhash64(c), F.lit(n_buckets or self.n_buckets)).cast("int")

    @staticmethod
    def _bucket_of_id(doc_id: str | None, n_buckets: int) -> int:
        """``_bucket_of`` evaluated on the driver for one id:
        ``xxhash64`` is Spark's hash of a string column, and Python's
        ``%`` is ``pmod`` for a positive divisor."""
        return xxhash64(doc_id) % n_buckets

    def _manifest_buckets_n(self, manifest: dict | None) -> int:
        """The bucket count a manifest's layout was written with (every
        commit records it); with no manifest — a table's first write —
        the warehouse setting."""
        if manifest is None:
            return self.n_buckets
        return int(manifest["n_buckets"])

    # -- manifest snapshot commits (Delta-lake style) -------------------
    #
    # A table version is ONE JSON manifest under ``<table>/_cw_versions/
    # v<N>.json`` listing, per bucket, exactly the part files that make
    # up that snapshot (plus the table schema, so even a zero-row
    # version is readable). Commit = write-to-temp + rename of the
    # manifest — atomic on POSIX — AFTER every new part file is fully
    # on disk. Readers resolve the highest complete manifest and read
    # that explicit file list: a concurrent commit is invisible until
    # its rename, and superseded files stay on disk (shared by older
    # manifests) until vacuum(), so an already-planned DataFrame keeps
    # reading a consistent older snapshot. This is the same
    # snapshot-isolation contract as Delta's _delta_log, hand-rolled on
    # parquet + JSON (Delta Lake paper, Armbrust et al., VLDB 2020).
    # Single writer per table (the reference is single-process too,
    # reference index.js:181); multi-writer coordination is what the
    # managed formats add on top.

    _VERSIONS_DIR = "_cw_versions"

    def _versions_path(self, path: str) -> str:
        return os.path.join(path, self._VERSIONS_DIR)

    def _list_versions(self, path: str) -> list[int]:
        vdir = self._versions_path(path)
        if not os.path.isdir(vdir):
            return []
        out = []
        for fn in os.listdir(vdir):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    out.append(int(fn[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def _manifest_file(self, path: str, version: int) -> str:
        return os.path.join(self._versions_path(path), f"v{version:010d}.json")

    def _load_manifest(self, path: str, version: int | None = None) -> dict | None:
        """The manifest for ``version`` (default: latest). Walks back
        past a torn/unreadable newest file — impossible under the
        rename protocol, but cheap insurance against a dying disk."""
        versions = self._list_versions(path)
        if version is not None:
            versions = [v for v in versions if v == version]
            if not versions:
                raise ValueError(
                    f"no version {version} for table at {path}; "
                    f"available: {self._list_versions(path)}"
                )
        for v in reversed(versions):
            try:
                with open(self._manifest_file(path, v)) as f:
                    return json.load(f)
            except (json.JSONDecodeError, OSError):
                if version is not None:
                    raise
                continue
        return None

    def _committed_manifest(self, path: str, version: int | None = None) -> dict:
        """``_load_manifest``, raising ``FileNotFoundError`` naming the
        table when it has no readable manifest."""
        manifest = self._load_manifest(path, version)
        if manifest is None:
            raise FileNotFoundError(f"no committed table at {path}")
        return manifest

    def _commit_manifest(
        self,
        path: str,
        op: str,
        buckets: dict[int, list[str]],
        schema_json: str,
        stats: dict[int, dict[str, list | None]] | None = None,
        base_version: int | None = None,
        n_buckets: int | None = None,
        column_stats: dict | None = None,
        dead: dict[int, list[str]] | None = None,
        metrics: dict | None = None,
    ) -> int:
        """Atomically publish a new table version. ``buckets`` maps
        bucket id → part-file names relative to that bucket's dir;
        ``stats`` carries each file's [min_id, max_id] (or None when
        footer statistics were absent) for metadata-only pruning;
        ``dead`` maps bucket id → the ``_dead_key`` names of the row
        versions in that bucket's files that later rows superseded
        (every reader drops them); ``metrics`` records what the
        committing op did.

        ``base_version`` pins the commit to exactly ``base + 1`` — the
        version of the manifest the caller READ when planning its write
        (0 for a fresh table). This is Delta's read-version+1 protocol:
        if any other writer committed after our read, our target name
        is taken and the put-if-absent below collides LOUDLY. Without
        the pin (base_version=None, re-listing at commit time) a commit
        that landed between our read and our commit is silently built
        over — its files absent from our manifest (lost update) — so
        every internal caller passes the base it merged against."""
        import time

        vdir = self._versions_path(path)
        os.makedirs(vdir, exist_ok=True)
        if base_version is not None:
            version = base_version + 1
        else:
            version = (self._list_versions(path) or [0])[-1] + 1
        manifest = {
            "version": version,
            "op": op,
            "ts": time.time(),
            # The layout's bucket count IS version state: a rebucket
            # changes it, and every reader/merger of this version must
            # hash ids with exactly this value.
            "n_buckets": int(n_buckets or self.n_buckets),
            "schema": schema_json,
            "buckets": {str(b): sorted(files) for b, files in sorted(buckets.items())},
            "stats": {
                str(b): dict(sorted(per.items()))
                for b, per in sorted((stats or {}).items())
            },
            "dead": {str(b): sorted(keys) for b, keys in sorted((dead or {}).items()) if keys},
        }
        if metrics is not None:
            manifest["metrics"] = metrics
        if column_stats is not None:
            # ANALYZE output: {bucket: {file: {col: {min, max, nulls,
            # ndv}, "_rows": n}}} — per-FILE so stats survive any
            # metadata-only commit by file identity (files are
            # immutable) and re-ANALYZE scans only new files.
            manifest["column_stats"] = column_stats
        target = self._manifest_file(path, version)
        tmp = target + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        # Optimistic concurrency: link() (unlike rename()) fails if the
        # target exists, so two writers racing to commit the same next
        # version produce one winner and one LOUD loser instead of a
        # silent lost update — the same put-if-absent contract Delta
        # asks of its log store. The loser's work is orphan files that
        # vacuum reclaims; re-running its batch re-merges against the
        # winner's state.
        try:
            self._put_if_absent(tmp, target, manifest, path, version)
        finally:
            os.remove(tmp)
        return version

    # A torn manifest at the committed name (possible only via the
    # no-hardlink fallback: a crash between O_EXCL creation and the
    # completed write) is reclaimable once its writer has clearly
    # died — younger torn files may still be mid-write.
    TORN_MANIFEST_STALENESS_SECONDS = 60.0

    def _put_if_absent(
        self, tmp: str, target: str, manifest: dict, path: str, version: int
    ) -> None:
        """Publish ``tmp`` at ``target`` with exactly-one-winner
        semantics, preferring ``link()`` (atomic content: the target
        is absent or complete). The O_EXCL fallback for no-hardlink
        filesystems can leave a TORN target if the writer crashes
        mid-write — without repair, every retry would collide on the
        name forever and the table would wedge one version behind
        (r5 review finding). Repair: a target that exists but does
        not parse AND is older than the staleness bound belongs to a
        dead writer — remove it and retry the creation race once
        (O_EXCL itself re-arbitrates a winner among repairers)."""

        def _collide() -> ConcurrentCommitError:
            return ConcurrentCommitError(
                f"version {version} of {path} was committed by another "
                "writer; re-run the batch (its data files are unreferenced "
                "orphans until vacuum)"
            )

        for attempt in (0, 1):
            try:
                os.link(tmp, target)
                return
            except FileExistsError:
                pass
            except OSError:
                # No hardlinks (FUSE/object-store mounts → EPERM/
                # ENOTSUP): portable put-if-absent. O_EXCL preserves
                # one-winner; fsync before close so a complete target
                # implies durable content.
                try:
                    fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                except FileExistsError:
                    pass
                else:
                    with os.fdopen(fd, "w") as f:
                        json.dump(manifest, f)
                        f.flush()
                        os.fsync(f.fileno())
                    return
            # Target exists. Complete manifest → genuine loss. Torn
            # and stale → dead writer's residue: reclaim, retry once.
            if attempt == 0 and self._is_stale_torn(target):
                try:
                    os.remove(target)
                except FileNotFoundError:
                    pass  # another repairer got it first
                continue
            raise _collide() from None
        raise _collide() from None

    def _is_stale_torn(self, target: str) -> bool:
        import time

        try:
            with open(target) as f:
                json.load(f)
            return False  # complete manifest: a real commit
        except FileNotFoundError:
            return False  # vanished: retry the creation race directly
        except (json.JSONDecodeError, OSError):
            pass
        try:
            age = time.time() - os.path.getmtime(target)
        except OSError:
            return False
        return age > self.TORN_MANIFEST_STALENESS_SECONDS

    def _manifest_files(self, path: str, manifest: dict) -> list[str]:
        """Absolute part-file paths of one manifest's snapshot."""
        return [
            os.path.join(path, f"_cw_bucket={b}", fn)
            for b, files in manifest["buckets"].items()
            for fn in files
        ]

    def _read_parts(
        self,
        path: str,
        manifest: dict,
        files: list[str] | None = None,
    ) -> DataFrame:
        """THE read of committed part files: ``files`` (default: the
        whole snapshot) of one manifest, with the manifest's schema,
        plus ``_cw_bucket`` as the partition column under
        ``basePath``. No footer is sampled for
        a schema: under evolution one snapshot mixes files written
        before and after a column was added, and a schema-less read
        would take whichever footer comes first — dropping the column
        or failing. Declared, a missing column reads as typed NULLs
        per file, and each table version reads with the schema it
        committed (Delta's schema-per-log-entry). Rows the manifest's
        dead set names are filtered out, so every reader sees one live
        row per id."""
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        read_schema = T.StructType(
            list(schema.fields) + [T.StructField("_cw_bucket", T.IntegerType())]
        )
        if files is None:
            files = self._manifest_files(path, manifest)
        if not files:
            return self.spark.createDataFrame([], read_schema)
        df = self.spark.read.option("basePath", path).schema(read_schema).parquet(*files)
        dead = [k for keys in self._dead(manifest).values() for k in keys]
        # Merge-on-read: superseded row versions stay in their files
        # and drop out here, by one literal predicate — no join, no job.
        return df.filter(F.expr(_not_in_sql(dead))) if dead else df

    @staticmethod
    def _dead(manifest: dict) -> dict[str, list[str]]:
        """A manifest's dead set, bucket → ``_dead_key`` names (tables
        committed before merge-on-read have none)."""
        return manifest.get("dead", {})

    DEFAULT_VACUUM_GRACE_SECONDS = 600.0

    def vacuum(
        self,
        doc_type: str = DEFAULT_TYPE,
        retain_versions: int = 1,
        min_age_seconds: float = DEFAULT_VACUUM_GRACE_SECONDS,
    ) -> int:
        """Reclaim part files no retained version references.

        Keeps the newest ``retain_versions`` manifests (≥1) and every
        file they reference; deletes all other parquet files in the
        table's bucket dirs — superseded snapshots AND orphans from a
        crashed commit — plus the dropped manifests. ``min_age_seconds``
        guards files newer than the cutoff (Delta's RETAIN n HOURS) and
        DEFAULTS to a 10-minute grace period: a concurrent writer's
        in-flight files sit unreferenced in live bucket dirs between
        ``_publish_tmp`` and its manifest commit, so a zero-grace
        vacuum from another process (cron/CLI) would delete data the
        about-to-land version references — a broken current version,
        not just a lost batch. Pass ``min_age_seconds=0`` ONLY when no
        other writer can be mid-commit (e.g. an offline single-process
        compaction); the in-writer ``auto_vacuum`` path deliberately
        keeps the default grace because redundant HA ingestors may
        race the same table. Returns the number of files
        deleted. Time travel to a dropped version stops working,
        exactly like Delta's VACUUM; see ``changes()`` for what that
        means for CDF consumers.
        """
        import time

        path = self._table_path(doc_type)
        versions = self._list_versions(path)
        if not versions:
            return 0
        retain_versions = max(1, retain_versions)
        # Retention counts READABLE manifests: a torn newest file (never
        # readable, so never anyone's snapshot) must not consume a
        # retention slot — readers walk back past it, and vacuuming
        # "through" it would otherwise delete the walk-back version's
        # files out from under them. Torn files newer than the oldest
        # kept readable version are left in place (harmless, zero refs);
        # older ones are dropped with the expired manifests.
        keep_versions: list[int] = []
        referenced: set[str] = set()
        for v in reversed(versions):
            if len(keep_versions) == retain_versions:
                break
            try:
                manifest = self._load_manifest(path, v)
            except (ValueError, OSError, json.JSONDecodeError):
                continue
            keep_versions.append(v)
            referenced.update(self._manifest_files(path, manifest))
        if not keep_versions:
            # Every manifest is unreadable: nothing can be proven
            # unreferenced, so delete nothing.
            return 0
        cutoff = time.time() - min_age_seconds
        deleted = 0
        # Two vacuums may race on one table (the HA multi-process
        # topology this package supports): the peer can delete a file
        # between our listdir and stat/remove, so every per-file
        # getmtime/remove tolerates FileNotFoundError — the file being
        # gone IS the goal state, whoever got there first.
        for entry in os.listdir(path):
            if not entry.startswith("_cw_bucket="):
                continue
            bdir = os.path.join(path, entry)
            try:
                bucket_files = os.listdir(bdir)
            except FileNotFoundError:
                continue  # racing vacuum already removed the empty dir
            for fn in bucket_files:
                fp = os.path.join(bdir, fn)
                try:
                    if (
                        fn.endswith(".parquet")
                        and fp not in referenced
                        and os.path.getmtime(fp) <= cutoff
                    ):
                        os.remove(fp)
                        deleted += 1
                except FileNotFoundError:
                    continue
            try:
                if not os.listdir(bdir):
                    os.rmdir(bdir)
            except OSError:
                pass  # refilled by a writer or removed by a peer
        oldest_kept = min(keep_versions)
        for v in versions:
            if v < oldest_kept:
                try:
                    os.remove(self._manifest_file(path, v))
                except FileNotFoundError:
                    pass
        # Reclaim scratch dirs from CRASHED writers only: the dir name
        # carries the owning pid (<table>._tmp.<pid>.<n>) — reclaim
        # requires BOTH the age cutoff and a dead owner, because a
        # long-running write job's scratch mtime alone says nothing
        # (nested _temporary writes don't touch the top dir's mtime).
        parent, base = os.path.split(path.rstrip("/"))
        for entry in os.listdir(parent or "."):
            full = os.path.join(parent, entry)
            if not (entry.startswith(base + "._tmp") and os.path.isdir(full)):
                continue
            try:
                pid = int(entry[len(base + "._tmp.") :].split(".", 1)[0])
            except ValueError:
                pid = None  # legacy fixed-name ._tmp: age-gate only
            if pid is not None and _pid_alive(pid):
                continue
            try:
                reclaim = os.path.getmtime(full) <= cutoff
            except FileNotFoundError:
                continue  # peer vacuum reclaimed it between listdir and stat
            if reclaim:
                shutil.rmtree(full, ignore_errors=True)
        return deleted

    # Ops that commit a version without changing the table's rows: they
    # re-cluster bytes or record statistics only.
    ROWS_UNCHANGED_OPS = frozenset({"compact", "zorder", "rebucket", "analyze"})

    def rows_unchanged(self, doc_type: str, lo: int, hi: int) -> bool:
        """True when table version ``hi`` holds exactly the rows of
        version ``lo`` (0: before the first commit): ``lo <= hi``, both
        are retained, and every version after ``lo`` was committed by
        one of ``ROWS_UNCHANGED_OPS``."""
        path = self._table_path(doc_type)
        for v in range(max(lo, 1), hi + 1):
            try:
                op = self._load_manifest(path, v)["op"]
            except (ValueError, OSError):
                return False
            if v > lo and op not in self.ROWS_UNCHANGED_OPS:
                return False
        return lo <= hi

    def history(self, doc_type: str = DEFAULT_TYPE) -> DataFrame:
        """The table's commit log (Delta's DESCRIBE HISTORY): one row
        per retained version with op, timestamp, file count and the
        op's recorded ``MERGE_METRICS`` (NULL for ops that record
        none). Driver-side metadata — bounded by version count, never
        data-sized."""
        path = self._table_path(doc_type)
        rows = []
        for v in self._list_versions(path):
            try:
                m = self._load_manifest(path, v)
            except (ValueError, OSError, json.JSONDecodeError):
                continue  # torn file: readers walk past it; so does the log
            metrics = m.get("metrics", {})
            rows.append(
                (
                    m["version"],
                    m["op"],
                    float(m["ts"]),
                    sum(len(fs) for fs in m["buckets"].values()),
                    *(metrics.get(k) for k in self.MERGE_METRICS),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, op string, ts double, n_files int, "
            + ", ".join(f"{k} long" for k in self.MERGE_METRICS),
        )

    def _merge_type(self, flat: pa.Table | None, tombstones: pa.Table, doc_type: str) -> None:
        """Merge one type's flattened page and the page's tombstones,
        after the frame-level ``transform`` (on a DataFrame of the page,
        only when set) and the selector. A type with no doc in the page
        (``flat`` None: tombstones fanned out to it) merges an empty
        page."""
        if flat is None:
            flat = pa.table({SEQ_COL: pa.array([], pa.int64())})
        else:
            if self.transform is not None:
                flat = _collect_arrow(self.transform(self.spark.createDataFrame(flat.combine_chunks())))
            if self.selector_mask is not None:
                flat = flat.filter(self.selector_mask(flat))
        self._merge_flat(flat, tombstones, doc_type)

    def _merge_flat(self, flat: pa.Table, tombstones: pa.Table, doc_type: str) -> int:
        """THE merge of one flattened Arrow batch (with ``_cw_seq``) and
        its tombstones (``id``, ``_cw_seq``), shared by the feed and
        ``merge_into``: freeze or evolve the schema, conform, enforce
        CHECK constraints, merge (retrying on a lost commit), feed the
        followers, register the view. Returns the rows applied: the
        batch's live rows plus the tombstones that deleted a stored row.
        A type whose schema is not frozen yet and whose batch has no row
        (a selector rejected them all) is left alone: its first row that
        passes freezes it, as the reference's first matching doc does
        (index.js:55-68). Spark sees the batch only for the hooks that
        are Spark code: CHECK constraints and followers, when set."""
        if doc_type not in self.schemas:
            schema = self._freeze_schema(flat)
            if schema is None:
                return 0
            self.schemas[doc_type] = schema
        elif self.evolve_schema:
            self._evolve_schema(flat, doc_type)
        conformed = conform_frame(flat, self.schemas[doc_type], keep=[SEQ_COL])
        if self.constraints.get(doc_type):
            frame = self.spark.createDataFrame(conformed.combine_chunks())
            checked = self._enforce_constraints(frame, doc_type)
            if checked is not frame:  # quarantine mode diverted rows
                conformed = _collect_arrow(checked).cast(conformed.schema)
        # Opt-in optimistic-concurrency retry (merge_retries > 0): a
        # losing HA ingestor re-merges the SAME conformed batch against
        # the winner's new head — _merge_conformed re-reads the latest
        # manifest on entry, and latest-wins by seq makes the replay
        # idempotent, so retrying is exactly Delta's commit-loop
        # semantics. The loser's first-attempt part files become
        # unreferenced orphans vacuum() reclaims. With the default
        # merge_retries=0 the conflict stays LOUD.
        for attempt in range(self.merge_retries + 1):
            try:
                n_live, n_deleted, version = self._merge_conformed(conformed, tombstones, doc_type)
                break
            except ConcurrentCommitError:
                if attempt == self.merge_retries:
                    raise
        if self.followers:
            # Followers see the exact conformed rows the merge applied,
            # so secondary targets can never drift from the warehouse's
            # own semantics.
            rows = self.spark.createDataFrame(conformed.combine_chunks())
            tombs = self.spark.createDataFrame(tombstones.combine_chunks())
            for follower in self.followers:
                follower(self, doc_type, rows, tombs, version, self._batch_seq)
        self.register_view(doc_type)
        return n_live + n_deleted

    def _state_max_seq(self, path: str, manifest: dict) -> int:
        """max(_cw_seq) over one manifest's snapshot WITHOUT a Spark
        job: the snapshot is exactly the manifest's file list and part
        files are immutable, so per-file footer maxima (cached by
        path) answer the probe from metadata alone — the same
        stats-not-scans contract the id-range pruning already uses.
        At production scale the previous plan here was a full scan of
        the seq column per merge_into call. Any file without footer
        statistics falls back to ONE scan of just that file."""
        mx = 0
        missing: list[str] = []
        for fp in self._manifest_files(path, manifest):
            if fp not in self._seq_stat_cache:
                try:
                    rng = _parquet_range(fp, SEQ_COL)
                    self._seq_stat_cache[fp] = rng and rng[1]
                except (OSError, ValueError):
                    # pyarrow raises ArrowInvalid (a ValueError) for a
                    # footer it cannot parse; don't cache the failure —
                    # a transient read error retries the footer probe
                    # on the next call instead of pinning this file to
                    # the scan path for the Warehouse's lifetime.
                    missing.append(fp)
                    continue
            m = self._seq_stat_cache[fp]
            if m is None:
                missing.append(fp)
            elif m > mx:
                mx = int(m)
        if missing:
            row = (
                self._read_parts(path, manifest, missing)
                .agg(F.max(SEQ_COL).alias("m"))
                .collect()[0]
            )
            mx = max(mx, int(row["m"] or 0))
        return mx

    def _prune_bucket_files(
        self,
        path: str,
        manifest: dict,
        ranges: dict[int, tuple[str | None, str | None]],
    ) -> tuple[list[str], dict[int, list[str]]]:
        """Which part files the merge's key read opens WITHIN the
        buckets of ``ranges`` (bucket → the batch's (min id, max id)
        there), on the driver, with no Spark job: a file whose
        recorded ``id`` [min, max] does not overlap its bucket's batch
        [lo, hi] cannot hold a batch id. The test is per bucket, not
        per id: a file the batch's ids straddle, with none inside it,
        is still read. Files with no recorded range (no footer id
        statistics at publish), and the files of a bucket whose batch
        ids are all NULL, are read. Returns (absolute paths of the
        files to read, bucket → names of the files left unread)."""
        read_files: list[str] = []
        untouched: dict[int, list[str]] = {}
        for b, (lo, hi) in ranges.items():
            per = manifest["stats"].get(str(b), {})
            for fn in manifest["buckets"].get(str(b), []):
                rng = per.get(fn)
                if rng is None or lo is None or (rng[0] <= hi and lo <= rng[1]):
                    read_files.append(os.path.join(path, f"_cw_bucket={b}", fn))
                else:
                    untouched.setdefault(b, []).append(fn)
        return read_files, untouched

    def _publish_tmp(
        self, path: str, tmp: str
    ) -> tuple[dict[int, list[str]], dict[int, dict[str, list | None]]]:
        """Move a scratch write's part files into the live bucket dirs.
        Part-file names embed a UUID (Spark's per job, the merge's per
        file), so the moves can never collide with (or overwrite) a
        committed file; nothing existing is touched, so readers of the
        current version are unaffected. Each moved file's footer is read ONCE here to
        record its id min/max in the manifest. Returns (bucket id →
        moved file names, bucket id → per-file id-range stats)."""
        moved: dict[int, list[str]] = {}
        stats: dict[int, dict[str, list | None]] = {}
        for entry in os.listdir(tmp):
            if not entry.startswith("_cw_bucket="):
                continue
            b = int(entry.split("=", 1)[1])
            dst_dir = os.path.join(path, entry)
            os.makedirs(dst_dir, exist_ok=True)
            names = []
            for fn in os.listdir(os.path.join(tmp, entry)):
                if fn.endswith(".parquet"):
                    dst = os.path.join(dst_dir, fn)
                    os.rename(os.path.join(tmp, entry, fn), dst)
                    # Restart the vacuum age clock AT PUBLISH: rename
                    # preserves the task-write mtime, so files from a
                    # job's early tasks would otherwise look older
                    # than the grace period the moment they land —
                    # and a cron vacuum could delete them before the
                    # manifest commits (r5 review finding). With the
                    # touch, the exposed window is publish→commit
                    # (milliseconds), far inside any sane grace.
                    os.utime(dst)
                    names.append(fn)
                    rng = _parquet_range(dst, "id")
                    stats.setdefault(b, {})[fn] = list(rng) if rng else None
            moved[b] = names
        shutil.rmtree(tmp, ignore_errors=True)
        return moved, stats


    def _scratch_dir(self, path: str) -> str:
        """Per-process-unique scratch dir for one write. The fixed
        ``path + "._tmp"`` name was a concurrency bug: two writers
        racing the same table would rmtree/publish EACH OTHER's
        in-flight part files (the commit protocol only guards the
        manifest name, not a shared scratch). PID + the process-wide
        counter make collisions among live writers impossible within
        the single-host contract; vacuum reclaims any ._tmp.* a crashed
        writer leaves behind, and a writer that reuses a crashed one's
        pid overwrites it (Spark's overwrite mode, or
        ``_write_bucket_files``'s clear)."""
        return f"{path}._tmp.{os.getpid()}.{next(_SCRATCH_COUNTER)}"

    def _commit_rewrite(
        self,
        path: str,
        manifest: dict | None,
        op: str,
        frame,
        replaced,
        dead: dict[int, list[str]] | None = None,
        schema_json: str | None = None,
        n_buckets: int | None = None,
        metrics: dict | None = None,
    ) -> int:
        """THE data-writing commit, shared by every op that writes part
        files: write ``frame`` to a scratch dir — a DataFrame carrying
        ``_cw_bucket`` through Spark's write partitioned by bucket (the
        table rewrites), or the merge's ``(bucket, Arrow rows)`` pairs
        on the driver (``_write_bucket_files``) — slide the uniquely-named part
        files into the live bucket dirs (``_publish_tmp``), then COMMIT
        by atomically publishing the version after ``manifest`` (None:
        a fresh table, base 0). Each bucket in ``replaced`` holds only
        the new files and loses its dead set: the op read its live rows
        and rewrote them. Every other bucket keeps its files, stats and
        dead set — zero I/O, not even a rename — and gains any new
        files the write produced there (an append) plus the ``dead``
        names superseded in it. A bucket left with no file gets no
        entry. A crash anywhere before the manifest lands leaves the
        table at ``manifest``'s version: the published files are
        unreferenced orphans ``vacuum()`` reclaims. Returns the
        committed version."""
        tmp = self._scratch_dir(path)
        if isinstance(frame, DataFrame):
            frame.write.mode("overwrite").partitionBy("_cw_bucket").parquet(tmp)
        else:
            self._write_bucket_files(tmp, frame)
        moved, moved_stats = self._publish_tmp(path, tmp)
        base = manifest or {"version": 0, "buckets": {}, "stats": {}}
        replaced = {int(b) for b in replaced}
        base_dead = self._dead(base)
        buckets: dict[int, list[str]] = {}
        stats: dict[int, dict[str, list | None]] = {}
        dead_out: dict[int, list[str]] = {}
        for b in {int(b) for b in base["buckets"]} | set(moved):
            kept = b not in replaced
            old = base["buckets"].get(str(b), []) if kept else []
            if not (moved.get(b) or old):
                continue
            buckets[b] = moved.get(b, []) + old
            stats[b] = {
                **(base["stats"].get(str(b), {}) if kept else {}),
                **moved_stats.get(b, {}),
            }
            dead_out[b] = (base_dead.get(str(b), []) if kept else []) + (dead or {}).get(b, [])
        return self._commit_manifest(
            path,
            op,
            buckets,
            schema_json or base["schema"],
            stats,
            base_version=base["version"],
            n_buckets=n_buckets or self._manifest_buckets_n(manifest),
            dead=dead_out,
            metrics=metrics,
        )

    # A bucket holding this many part files is folded back to one by
    # the next merge that appends to it. It bounds a point lookup's
    # read fan-out to this many files per bucket, and a bucket's dead
    # set to the rows of the batches appended since its last fold.
    MAX_FILES_PER_BUCKET = 4

    # What every merge records in its manifest's ``metrics``: batch
    # rows written, stored row versions they superseded (marked dead,
    # or dropped by a fold), and buckets folded back to one file.
    MERGE_METRICS = ("rows_appended", "rows_superseded", "buckets_folded")

    def _merge_conformed(
        self, conformed: pa.Table, tombstones: pa.Table, doc_type: str
    ) -> tuple[int, int, int]:
        """Merge-on-read upsert of one conformed batch and its
        tombstones, committed as ONE new manifest version; returns
        (the batch's live rows, the tombstones that deleted a stored
        row, the committed version).

        1. The conformed Arrow batch gets ``_cw_bucket`` (``_bucket_of``
           evaluated on the driver) and a deleted flag, with the
           tombstones unioned in, typed by the frozen schema. All of the
           merge runs on the driver with no Spark job; ``latest_rows``
           keeps each id's latest row, sorted by (bucket, id) — the
           merge's one sort.
        2. Those rows give each bucket's id range, which picks the
           files that could hold a batch id (``_prune_bucket_files``);
           pyarrow reads only their ``id`` and ``_cw_seq`` columns,
           keeps the rows whose id is in the batch and drops the dead
           ones (``_stored_seqs``).
        3. An id whose latest batch seq is ≤ its stored seq (or whose
           latest batch row is itself a dead version) is a replay
           loser: its batch rows are dropped, so they neither write nor
           mark anything. Otherwise the stored version joins the dead
           set, and the row is appended unless it is a tombstone.
        4. A bucket that gets an appended row while already holding
           ``MAX_FILES_PER_BUCKET`` files is folded: its live rows,
           read with pyarrow under the current frozen schema, are
           merged with the bucket's batch rows by ``merge_batch``, and
           its dead set is dropped.
        5. ``_commit_rewrite`` writes one id-sorted file per written
           bucket on the driver, a bucket at a time (a folded bucket's
           rows are read, merged and written before the next bucket's),
           publishes them, carries every other file by reference and
           commits the manifest with the new dead names and the
           ``MERGE_METRICS``.

        A replayed batch loses every row, so it changes no row."""
        import numpy as np
        from pyspark.sql.pandas.types import to_arrow_schema

        path = self._table_path(doc_type)
        manifest = self._load_manifest(path)
        # Hash with the CURRENT VERSION's bucket count — after a
        # rebucket it differs from the constructor default, and a
        # merge that hashed with the wrong count would look in the
        # wrong buckets and write files no reader looks for.
        n_cur = self._manifest_buckets_n(manifest)
        # The stored layout: the CURRENT frozen schema + seq, as a long
        # (merge_into stamps an int literal). A fold reads older files
        # under it, so a column this batch just evolved reads as NULL.
        stored = T.StructType(
            list(schema_to_struct(self.schemas[doc_type]).fields)
            + [T.StructField(SEQ_COL, T.LongType())]
        )
        file_schema = to_arrow_schema(stored)
        batch_schema = file_schema.append(pa.field("_cw_bucket", pa.int32())).append(
            pa.field(DELETED_COL, pa.bool_())
        )
        live = conformed.select(file_schema.names).cast(file_schema)
        tombs = tombstones.select(["id", SEQ_COL]).cast(TOMBSTONE_ARROW)
        batch = pa.concat_tables(
            [
                live.append_column(DELETED_COL, pa.repeat(False, live.num_rows)),
                pa.table(
                    {
                        f.name: tombs[f.name] if f.name in tombs.column_names else pa.nulls(tombs.num_rows, f.type)
                        for f in file_schema
                    }
                ).append_column(DELETED_COL, pa.repeat(True, tombs.num_rows)),
            ]
        )
        buckets = np.concatenate(
            [np.zeros(0, np.int64)]
            + [np.mod(xxhash64_ids(ids.to_pylist()), n_cur) for ids in batch["id"].chunks]
        )
        batch = batch.add_column(len(file_schema), "_cw_bucket", pa.array(buckets, pa.int32())).cast(batch_schema)
        # One sort owns the (bucket, id) order: the winners come out
        # grouped by bucket and id-sorted inside each, as the part files
        # are written.
        latest = latest_rows(batch, ["_cw_bucket", "id"])
        dead = {k for ks in self._dead(manifest or {}).values() for k in ks}
        stored_seqs = self._stored_seqs(path, manifest, latest, dead) if manifest else {}
        won: list[bool] = []
        new_dead: dict[int, list[str]] = {}
        appended: set[int] = set()
        n_rows = n_superseded = n_applied = 0
        for doc_id, doc_seq, deleted, b in zip(
            *(latest[c].to_pylist() for c in ("id", SEQ_COL, DELETED_COL, "_cw_bucket"))
        ):
            old = stored_seqs.get(doc_id)
            lost = (old is not None and doc_seq <= old) or _dead_key(doc_seq, doc_id) in dead
            won.append(not lost)
            if lost:
                continue
            if old is not None:
                new_dead.setdefault(b, []).append(_dead_key(old, doc_id))
                n_superseded += 1
                n_applied += deleted
            if not deleted:
                n_rows += 1
                appended.add(b)
        latest = latest.filter(pa.array(won, pa.bool_()))
        files = (manifest or {"buckets": {}})["buckets"]
        fold = sorted(
            b for b in appended if len(files.get(str(b), [])) >= self.MAX_FILES_PER_BUCKET
        )
        for b in fold:
            new_dead.pop(b, None)

        def written_buckets():
            # One bucket at a time, so the driver holds the batch and at
            # most one folded bucket's live rows: a bucket's winning
            # upserts as they are, or, when it folds, merged with its
            # stored rows (which its tombstones can delete).
            ids = latest["_cw_bucket"].to_numpy()
            cuts = [0, *(np.flatnonzero(np.diff(ids)) + 1), len(ids)] if len(ids) else []
            for lo, hi in zip(cuts, cuts[1:]):
                b = int(ids[lo])
                if b not in appended:
                    continue  # tombstones only: nothing to write
                part = latest.slice(lo, hi - lo).drop_columns(["_cw_bucket"])
                is_tomb = part[DELETED_COL]
                rows = part.filter(pc.invert(is_tomb)).drop_columns([DELETED_COL])
                if b in fold:
                    state = self._read_live_rows(
                        [os.path.join(path, f"_cw_bucket={b}", fn) for fn in files[str(b)]],
                        file_schema,
                        dead,
                    )
                    rows = merge_batch(state, rows, part.filter(is_tomb).drop_columns([DELETED_COL]))
                yield b, rows

        # The unadvanced checkpoint replays a batch whose commit never
        # landed — idempotent by seq (step 3).
        version = self._commit_rewrite(
            path,
            manifest,
            "merge",
            written_buckets(),
            fold,
            dead=new_dead,
            schema_json=stored.json(),
            n_buckets=n_cur,
            metrics=dict(zip(self.MERGE_METRICS, (n_rows, n_superseded, len(fold)))),
        )
        return live.num_rows, n_applied, version

    @staticmethod
    def _write_bucket_files(tmp: str, buckets) -> None:
        """The merge's part-file write, on the driver: one parquet file
        per ``(bucket, id-sorted Arrow rows)`` pair of ``buckets``,
        under ``tmp/_cw_bucket=K/`` — the layout a Spark write
        partitioned by bucket leaves for ``_publish_tmp``. Each pair is
        written before the next is drawn, so a lazy ``buckets`` holds
        one bucket's rows at a time. Each name holds a fresh uuid, so
        concurrent writers never collide. The footers carry row-group
        statistics (lookup pruning, ``_parquet_range``, ``fsck``) and no
        Arrow schema: every reader declares the table's. A ``tmp`` left
        by a crashed writer whose pid this process reuses is cleared
        first, so none of its files is published."""
        import uuid

        import pyarrow.parquet as pq

        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for b, rows in buckets:
            bdir = os.path.join(tmp, f"_cw_bucket={b}")
            os.makedirs(bdir)
            pq.write_table(
                rows,
                os.path.join(bdir, f"part-{uuid.uuid4().hex}.parquet"),
                store_schema=False,
                use_dictionary=False,
            )

    @staticmethod
    def _read_live_rows(files: list[str], schema, dead: set[str], filters=None):
        """THE driver-side read of part files: pyarrow opens ``files``
        under the declared Arrow ``schema`` (which holds ``id`` and
        ``_cw_seq``; a column a file lacks reads as typed NULLs, as in
        ``_read_parts``), applies ``filters`` — row-group statistics
        skip what cannot match — and drops the row versions ``dead``
        names. One chunk: createDataFrame drops the rows that follow
        two or more empty record batches (pyarrow yields one per file
        or scan batch that a filter empties)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        rows = pq.read_table(files, schema=schema, filters=filters, partitioning=None)
        if dead and rows.num_rows:
            # ``_dead_key`` per row: "<seq>:<id>", or "<seq>" for a NULL id.
            seq = pc.cast(rows[SEQ_COL], pa.string())
            key = pc.coalesce(pc.binary_join_element_wise(seq, rows["id"], ":"), seq)
            rows = rows.filter(pc.invert(pc.is_in(key, value_set=pa.array(list(dead), pa.string()))))
        return rows.combine_chunks()

    def _stored_seqs(self, path: str, manifest: dict, latest, dead: set[str]) -> dict:
        """Batch id → the seq of its live stored version, for the Arrow
        table ``latest`` of ``_merge_conformed`` (one row per batch id,
        with its ``_cw_bucket``), read on the driver with no Spark job:
        only the ``id`` and ``_cw_seq`` columns of the files
        ``_prune_bucket_files`` keeps, filtered to the batch's ids
        inside pyarrow, so Python touches only matching rows; versions
        named in ``dead`` are skipped. State holds one live version per
        id."""
        import pyarrow as pa
        import pyarrow.compute as pc

        ranges = {
            r["_cw_bucket"]: (r["id_min"], r["id_max"])
            for r in latest.group_by("_cw_bucket")
            .aggregate([("id", "min"), ("id", "max")])
            .to_pylist()
        }
        read_files, _ = self._prune_bucket_files(path, manifest, ranges)
        if not read_files:
            return {}
        found = self._read_live_rows(
            read_files,
            pa.schema([("id", pa.string()), (SEQ_COL, pa.int64())]),
            dead,
            filters=pc.field("id").isin(latest["id"].combine_chunks()),
        )
        return dict(zip(found["id"].to_pylist(), found[SEQ_COL].to_pylist()))

    def _evolve_schema(self, flat: pa.Table, doc_type: str) -> list[str]:
        """Widen the frozen schema with columns this batch introduces
        (``evolve_schema=True`` only — Delta's mergeSchema). New
        columns APPEND with the logical type of their flattened Arrow
        type; existing columns are never retyped or dropped, so every
        already-written file stays readable and conformance semantics
        for known columns are unchanged. The batch's columns are its
        type's own docs' fields, so a type never adopts another type's
        fields. Returns the added names."""
        schema = self.schemas[doc_type]
        added = []
        for field in flat.schema:
            if field.name == SEQ_COL or field.name in schema:
                continue
            schema[field.name] = logical_of_arrow(field.type)
            added.append(field.name)
        return added

    @staticmethod
    def _freeze_schema(flat: pa.Table) -> dict[str, str] | None:
        """First-doc-wins schema freeze (R7; reference index.js:55-68).

        The first (lowest-seq; a NULL seq sorts first, as Spark's
        ascending order puts it) row of the type defines the column set
        and logical types; fields it lacks — even ones other docs in the
        same batch have — never become columns (reference
        README.md:300-304). An empty batch freezes nothing (None).
        """
        if flat.num_rows == 0:
            return None
        seq = flat[SEQ_COL]
        if seq.null_count:
            first = pc.index(pc.is_null(seq), True).as_py()
        else:
            first = pc.index(seq, pc.min(seq)).as_py()
        row = flat.slice(first, 1)
        return {
            f.name: logical_of_arrow(f.type)
            for f in flat.schema
            if f.name != SEQ_COL and row[f.name][0].is_valid
        }

    def compact(self, doc_type: str = DEFAULT_TYPE) -> int:
        """Compact fragmented bucket directories (operational kernel).

        Every micro-batch merge appends a part file to each bucket it
        writes and marks the rows it supersedes dead, so a hot bucket
        accumulates small files and dead rows — the classic
        small-files problem that degrades scan throughput at scale.
        This rewrites every bucket whose CURRENT VERSION references
        more than one part file or any dead row to one file of its
        live rows, and commits it as a new manifest version. Content
        is unchanged — compaction only re-clusters bytes — and the
        superseded fragments stay on disk for older snapshots until
        ``vacuum()`` reclaims them: the OPTIMIZE/VACUUM split Delta
        makes, for the same reason (never disturb a concurrent
        reader). Returns the number of buckets rewritten.
        """
        path = self._table_path(doc_type)
        manifest = self._load_manifest(path)
        if manifest is None:
            return 0
        dead = self._dead(manifest)
        prev = {int(b): fs for b, fs in manifest["buckets"].items()}
        todo = sorted(b for b, fs in prev.items() if len(fs) > 1 or dead.get(str(b)))
        if not todo:
            return 0

        # Read ONLY the fragmented buckets' referenced files;
        # repartition by the bucket column so each bucket lands in one
        # task → ~one output file.
        files = [
            os.path.join(path, f"_cw_bucket={b}", fn) for b in todo for fn in prev[b]
        ]
        df = (
            self._read_parts(path, manifest, files)
            .repartition(len(todo), "_cw_bucket")
            .sortWithinPartitions("_cw_bucket", "id")
        )
        self._commit_rewrite(path, manifest, "compact", df, todo)
        return len(todo)

    def merge_into(
        self,
        df: DataFrame,
        doc_type: str = DEFAULT_TYPE,
        delete_col: str | None = None,
    ) -> int:
        """Direct-DataFrame MERGE (Delta's ``MERGE INTO ... WHEN
        MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT``, keyed on
        ``id``): upsert ``df``'s rows into the table as ONE new
        manifest version, without going through a changes feed. Rows
        are stamped with a seq ONE PAST the table's current maximum,
        so the same latest-wins window that orders feed merges applies
        — an existing row loses to its incoming twin, replaying the
        same frame is idempotent-by-content, and a later feed batch
        (higher seq) still wins over this merge. ``delete_col`` names
        an optional boolean column: TRUE rows become deletes (Delta's
        WHEN MATCHED ... DELETE). CHECK constraints gate the incoming
        rows exactly as they gate feed batches. Returns the number of
        rows applied: upserted live rows plus tombstones whose id
        actually existed in the pre-merge state — a delete for an
        absent id is a no-op and is NOT counted.

        Scale: the seq probe reads per-file footer maxima, with no
        scan, and the frame is collected once, as Arrow. The merge is
        the feed's (``_merge_flat``): it writes only
        the incoming rows and marks the versions they supersede dead,
        retries a lost commit up to ``merge_retries`` times, and counts
        the live rows and matched tombstones from the keys it collects
        — no extra probe. A retried merge keeps its stamp, so an id a
        racing writer committed at the same or a higher seq keeps that
        writer's row.
        """
        if "id" not in df.columns:
            raise ValueError("merge_into frame needs an 'id' column")
        path = self._table_path(doc_type)
        base_seq = 0
        manifest = self._load_manifest(path)
        if manifest is not None:
            # Metadata-only seq probe (footer maxima recorded per
            # immutable file) — not a full scan of the seq column.
            base_seq = self._state_max_seq(path, manifest)
        # ONE collect: freeze, conform and merge are the feed's, on the
        # driver.
        batch = _collect_arrow(df.withColumn(SEQ_COL, F.lit(base_seq + 1).cast("long")))
        if delete_col is not None:
            deleted = pc.fill_null(batch[delete_col], False)
            live = batch.filter(pc.invert(deleted)).drop_columns([delete_col])
            tombstones = batch.filter(deleted).select(["id", SEQ_COL])
        else:
            live = batch
            tombstones = TOMBSTONE_ARROW.empty_table()
        n = self._merge_flat(live, tombstones, doc_type)
        self._save_schemas()
        return n

    def delete_where(
        self, condition, doc_type: str = DEFAULT_TYPE
    ) -> int:
        """Row-level DELETE by predicate (Delta's ``DELETE FROM ...
        WHERE``): rows where ``condition`` is TRUE leave the CURRENT
        version; NULL/false rows stay (ANSI DELETE semantics). Commits
        one new manifest version (op ``delete_where``) — older
        snapshots still read the rows until ``vacuum()``; ``restore``
        undoes it. Returns the number of rows deleted.

        Scale: one probe aggregate finds the matching rows' buckets
        AND the match count in a single job (bucket ids are ≤
        n_buckets scalars); only those buckets are read and rewritten
        — every untouched bucket carries forward in the manifest by
        reference, zero I/O. The predicate reaches the parquet scan of
        the probe as a pushed filter.
        """
        return self._rewrite_where(condition, doc_type, "delete_where", None)

    def update_where(
        self,
        condition,
        assignments: Mapping[str, object],
        doc_type: str = DEFAULT_TYPE,
    ) -> int:
        """Row-level UPDATE by predicate (Delta's ``UPDATE ... SET``):
        rows where ``condition`` is TRUE get each ``assignments``
        column replaced by its expression (a SQL string or Column;
        evaluated against the row's CURRENT values, so ``{"total":
        "total * 1.1"}`` compounds correctly). Commits one new
        manifest version (op ``update_where``). Returns the number of
        rows updated.

        CHECK constraints apply to the POST-update rows: ``error``
        mode raises on any violating update (version NOT committed);
        ``quarantine`` mode writes the attempted new rows to the
        quarantine dir and RETAINS the old rows — an update is never
        allowed to destroy data it couldn't legally write.

        Scale: identical bucket-pruned copy-on-write as delete_where;
        assignments are projections fused into the rewrite scan.
        """
        if not assignments:
            raise ValueError("update_where needs at least one assignment")
        return self._rewrite_where(condition, doc_type, "update_where", assignments)

    def _rewrite_where(
        self,
        condition,
        doc_type: str,
        op: str,
        assignments: Mapping[str, object] | None,
    ) -> int:
        path = self._table_path(doc_type)
        manifest = self._committed_manifest(path)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        state = self._read_parts(path, manifest)
        # One job: matching buckets AND the total match count.
        probe = (
            state.filter(cond)
            .groupBy(F.col("_cw_bucket").alias("b"))
            .agg(F.count("*").alias("c"))
            .collect()
        )
        affected = sorted(int(r["b"]) for r in probe)
        n_matched = int(sum(r["c"] for r in probe))
        if not affected:
            return 0
        aff = state.filter(F.col("_cw_bucket").isin(affected))
        if assignments is None:
            # DELETE: keep rows where the predicate is NOT TRUE.
            new_state = aff.filter(~F.coalesce(cond, F.lit(False)))
        else:
            matched = aff.filter(cond)
            keep = aff.filter(~F.coalesce(cond, F.lit(False)))
            for col in assignments:
                if col not in state.columns or col in (SEQ_COL, "_cw_bucket", "id"):
                    raise ValueError(f"cannot update column {col!r}")
            # ONE simultaneous projection (ANSI UPDATE semantics): every
            # SET expression evaluates against the OLD row — a chained
            # withColumn loop would leak earlier assignments into later
            # RHS expressions and make the result order-dependent.
            updated = matched.withColumns(
                {
                    col: F.expr(expr) if isinstance(expr, str) else expr
                    for col, expr in assignments.items()
                }
            )
            cons = self.constraints.get(doc_type, {})
            if cons:
                enforced = self._enforce_constraints(updated, doc_type)
                if self.constraint_mode != "error":
                    # Quarantined updates keep their OLD row: re-add the
                    # originals of every id the enforcement dropped.
                    dropped = updated.join(
                        enforced.select("id"), "id", "left_anti"
                    ).select("id")
                    n_matched -= dropped.count()
                    retained = matched.join(
                        F.broadcast(dropped), "id", "left_semi"
                    )
                    updated = enforced.unionByName(retained)
                else:
                    updated = enforced
            new_state = keep.unionByName(updated)

        self._commit_rewrite(
            path,
            manifest,
            op,
            new_state.sortWithinPartitions("_cw_bucket", "id"),
            affected,
        )
        self.register_view(doc_type)
        return n_matched

    def materialized(self, name: str, doc_type: str = DEFAULT_TYPE) -> DataFrame:
        """Current snapshot of an incrementally-maintained aggregate
        (attach the writer side via ``followers=[sinks.materialized.
        sum_count_mv_follower(...)]``); see sinks/materialized.py."""
        from couchwarehouse_spark.sinks.materialized import read_mv

        return read_mv(self, name, doc_type)

    def describe_detail(self, doc_type: str = DEFAULT_TYPE) -> DataFrame:
        """One-row operational summary of a table (Delta's DESCRIBE
        DETAIL): current version + op, bucket count, referenced file
        count and total bytes, retained version count, and schema
        width. The numbers an operator reads before deciding to
        compact / rebucket / vacuum — all from the manifest log and
        file metadata, no data scan.
        """
        path = self._table_path(doc_type)
        manifest = self._load_manifest(path)
        versions = self._list_versions(path) or []
        n_files = 0
        n_bytes = 0
        if manifest is not None:
            for b, files in manifest["buckets"].items():
                for fn in files:
                    n_files += 1
                    try:
                        n_bytes += os.path.getsize(
                            os.path.join(path, f"_cw_bucket={b}", fn)
                        )
                    except FileNotFoundError:
                        pass  # racing vacuum on an OLD version's file
        row = {
            "table_name": self.table_name(doc_type),
            "location": path,
            "version": manifest["version"] if manifest else 0,
            "last_op": manifest["op"] if manifest else None,
            "n_buckets": self._manifest_buckets_n(manifest),
            "n_files": n_files,
            "size_bytes": n_bytes,
            "n_versions_retained": len(versions),
            "n_columns": len(self.schemas.get(doc_type, {})),
        }
        return self.spark.createDataFrame([row])

    def add_constraint(
        self, name: str, expr: str, doc_type: str = DEFAULT_TYPE
    ) -> None:
        """Register a CHECK constraint (Delta ``ALTER TABLE ... ADD
        CONSTRAINT ... CHECK (expr)``): every future batch merged into
        ``doc_type`` must satisfy ``expr`` row-wise (NULL passes —
        SQL-standard CHECK). Mode 'error' rejects the whole batch with
        ConstraintViolationError BEFORE anything is written; mode
        'quarantine' diverts offenders to ``_quarantine/<type>/`` as
        parquet and merges the rest — the dead-letter pattern for
        unattended monitors. Existing rows are NOT re-validated (also
        Delta's choice for ADD CONSTRAINT without a table scan —
        validate with ``query()`` first if needed)."""
        F.expr(expr)  # parse NOW: a typo fails at ADD time, not merge
        self.constraints.setdefault(doc_type, {})[name] = expr
        self._save_schemas()

    def drop_constraint(self, name: str, doc_type: str = DEFAULT_TYPE) -> None:
        self.constraints.get(doc_type, {}).pop(name, None)
        self._save_schemas()

    def _enforce_constraints(
        self, conformed: DataFrame, doc_type: str
    ) -> DataFrame:
        """Apply CHECK constraints to a conformed batch; returns the
        frame to merge. One extra aggregate per batch WHEN constraints
        exist (violation counts per constraint — partial-aggregated,
        output is |constraints| longs); zero cost otherwise."""
        cons = self.constraints.get(doc_type, {})
        if not cons:
            return conformed
        import functools as _ft

        passes = {
            n: F.coalesce(F.expr(e), F.lit(True)) for n, e in cons.items()
        }
        counts = conformed.agg(
            *[
                F.sum((~p).cast("long")).alias(n)
                for n, p in passes.items()
            ]
        ).collect()[0]
        violated = {n: int(counts[n] or 0) for n in passes if counts[n]}
        if not violated:
            return conformed
        if self.constraint_mode == "error":
            detail = ", ".join(
                f"{n} ({c} rows): CHECK ({cons[n]})" for n, c in violated.items()
            )
            raise ConstraintViolationError(
                f"batch for {self.db_name}/{doc_type} violates {detail}"
            )
        all_pass = _ft.reduce(lambda a, b: a & b, passes.values())
        qdir = os.path.join(self.warehouse_dir, "_quarantine", doc_type)
        # Internal columns (the _cw_bucket partition key rides along on
        # update_where batches but not feed batches) stay OUT of the
        # dead-letter files — appends of differing schemas would make
        # quarantined() silently drop columns from one footer.
        offenders = conformed.filter(~all_pass)
        offenders = offenders.drop(
            *[c for c in offenders.columns if c.startswith("_cw_")]
        )
        offenders.write.mode("append").parquet(qdir)
        log.info("quarantined %d row(s) of %s -> %s", sum(violated.values()), doc_type, qdir)
        return conformed.filter(all_pass)

    def quarantined(self, doc_type: str = DEFAULT_TYPE) -> DataFrame:
        """Read the dead-letter rows diverted by quarantine mode.
        mergeSchema unions footers so a dir written by an older
        version (mixed internal columns) still reads losslessly."""
        qdir = os.path.join(self.warehouse_dir, "_quarantine", doc_type)
        return self.spark.read.option("mergeSchema", "true").parquet(qdir)

    def analyze(
        self, doc_type: str = DEFAULT_TYPE, columns: list[str] | None = None
    ) -> int:
        """Collect per-FILE column statistics (min / max / null count /
        approx NDV / row count) for the current version and commit them
        as a metadata-only ``analyze`` version — Delta's
        ``ANALYZE TABLE ... COMPUTE STATISTICS``/Iceberg's per-file
        metrics, the inputs a cost-based planner uses for join ordering
        and that stat-based file skipping reads (the same role the
        manifest's per-file id ranges already play for point lookups,
        reference lib/sqlite.js has no equivalent — SQLite ANALYZE is
        the closest cousin).

        INCREMENTAL by file identity: files are immutable, so a file
        already carrying stats in the previous version is never
        rescanned — after a merge touches 2 of 16 buckets, re-ANALYZE
        scans only the rewritten files. One distributed pass computes
        every pending file's stats (grouped by ``input_file_name``);
        only the per-file RESULT rows (≤ file count) transit the
        driver, same order as the bucket-id collects. NDV is
        ``approx_count_distinct`` (HyperLogLog++) — per-file sketch
        results are stored as counts; the 100 TB upgrade is storing the
        mergeable sketch bytes instead, noted not implemented.

        Returns the number of files scanned (0 = stats were already
        complete; no new version is committed in that case).
        """
        path = self._table_path(doc_type)
        manifest = self._committed_manifest(path)
        # Ordinary commits (merge/compact/...) don't carry column_stats
        # forward; recover the newest ANALYZE's stats by walking back —
        # sound because stats are keyed by IMMUTABLE file, and pruned
        # below to files the current version still references.
        prev: dict = manifest.get("column_stats", {})
        if not prev:
            for v in reversed(self._list_versions(path) or []):
                older = self._load_manifest(path, v)
                if older and "column_stats" in older:
                    prev = older["column_stats"]
                    break
        # Carry forward only stats for files this version still
        # references (files dropped by compact/rebucket fall away) and
        # whose bucket's dead set is the one they were counted under.
        new_stats = self._live_column_stats(manifest, prev)
        pending: list[tuple[str, str, str]] = [  # (bucket, fname, full)
            (b, fn, os.path.join(path, f"_cw_bucket={b}", fn))
            for b, fns in manifest["buckets"].items()
            for fn in fns
            if fn not in new_stats.get(b, {})
        ]
        if not pending:
            return 0
        schema = T.StructType.fromJson(json.loads(manifest["schema"]))
        df = self._read_parts(path, manifest, [fp for _, _, fp in pending]).withColumn(
            "_cw_file", F.input_file_name()
        )
        cols = [c for c in (columns or [f.name for f in schema.fields])]
        aggs = [F.count(F.lit(1)).alias("_rows")]
        for c in cols:
            aggs += [
                F.min(c).alias(f"min__{c}"),
                F.max(c).alias(f"max__{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}"),
                F.approx_count_distinct(c).alias(f"ndv__{c}"),
            ]
        # Key by (bucket, basename): one partitioned write task emits
        # the SAME part-file basename into every bucket dir it touches,
        # so basename alone collides across buckets.
        by_key = {(b, os.path.basename(fp)): (b, fn) for b, fn, fp in pending}

        def _json_safe(v):
            if v is None or isinstance(v, (int, float, str, bool)):
                return v
            return str(v)  # dates, decimals, timestamps

        import re as _re
        from urllib.parse import unquote as _unquote

        dead = self._dead(manifest)
        for row in df.groupBy("_cw_file").agg(*aggs).collect():
            full = _unquote(row["_cw_file"])
            bucket_m = _re.search(r"_cw_bucket=(\d+)", full)
            b, fn = by_key[(bucket_m.group(1), os.path.basename(full))]
            entry: dict = {"_rows": row["_rows"], "_dead": _dead_digest(dead.get(b, []))}
            for c in cols:
                entry[c] = {
                    "min": _json_safe(row[f"min__{c}"]),
                    "max": _json_safe(row[f"max__{c}"]),
                    "nulls": row[f"nulls__{c}"],
                    "ndv": row[f"ndv__{c}"],
                }
            new_stats.setdefault(b, {})[fn] = entry
        self._commit_manifest(
            path,
            "analyze",
            {int(b): fs for b, fs in manifest["buckets"].items()},
            manifest["schema"],
            {int(b): per for b, per in manifest["stats"].items()},
            base_version=manifest["version"],
            n_buckets=self._manifest_buckets_n(manifest),
            column_stats=new_stats,
            dead={int(b): keys for b, keys in dead.items()},
        )
        return len(pending)

    def _live_column_stats(self, manifest: dict, column_stats: dict) -> dict:
        """The per-file ANALYZE entries of ``column_stats`` that still
        describe ``manifest``'s live rows: the file is still referenced
        and its bucket's dead set is the one the entry was counted
        under (a later merge that marks rows dead in a file makes its
        counts stale)."""
        dead = self._dead(manifest)
        out: dict = {}
        for b, fns in manifest["buckets"].items():
            digest = _dead_digest(dead.get(b, []))
            have = column_stats.get(b, {})
            out[b] = {
                fn: have[fn]
                for fn in fns
                if fn in have and have[fn].get("_dead", "") == digest
            }
        return out

    def describe_stats(self, doc_type: str = DEFAULT_TYPE) -> DataFrame:
        """Table-level column statistics folded from the manifest's
        per-file ANALYZE entries — one row per column with global
        min/max (min-of-mins / max-of-maxs), total null count, row
        count coverage, and the SUM of per-file NDVs (an upper bound
        on true NDV — exact union needs the mergeable sketch, see
        ``analyze``). Metadata-only: no data scan, any schema.
        """
        path = self._table_path(doc_type)
        manifest = self._load_manifest(path)
        cstats = (manifest or {}).get("column_stats", {})
        if manifest is not None and not cstats:
            # Same walk-back as analyze(): stats ride the newest
            # ANALYZE version, pruned to the entries that still count
            # this version's live rows.
            for v in reversed(self._list_versions(path) or []):
                older = self._load_manifest(path, v)
                if older and "column_stats" in older:
                    cstats = self._live_column_stats(manifest, older["column_stats"])
                    break
        per_col: dict[str, dict] = {}
        n_rows = 0
        n_files = 0
        for per_file in cstats.values():
            for entry in per_file.values():
                n_files += 1
                n_rows += entry.get("_rows", 0)
                for c, st in entry.items():
                    if c in ("_rows", "_dead"):
                        continue
                    agg = per_col.setdefault(
                        c, {"min": None, "max": None, "nulls": 0, "ndv_ub": 0}
                    )
                    if st["min"] is not None and (
                        agg["min"] is None or st["min"] < agg["min"]
                    ):
                        agg["min"] = st["min"]
                    if st["max"] is not None and (
                        agg["max"] is None or st["max"] > agg["max"]
                    ):
                        agg["max"] = st["max"]
                    agg["nulls"] += st["nulls"]
                    agg["ndv_ub"] += st["ndv"]
        rows = [
            {
                "column": c,
                "min_value": str(a["min"]),
                "max_value": str(a["max"]),
                "null_count": a["nulls"],
                "ndv_upper_bound": a["ndv_ub"],
                "n_rows": n_rows,
                "n_files_with_stats": n_files,
            }
            for c, a in sorted(per_col.items())
        ]
        schema = (
            "column string, min_value string, max_value string, "
            "null_count long, ndv_upper_bound long, n_rows long, "
            "n_files_with_stats long"
        )
        return self.spark.createDataFrame(rows, schema)

    def clone(self, src_type: str, dst_type: str) -> int:
        """Zero-copy table clone (Delta CLONE semantics): create
        ``dst_type`` as a new table whose version 1 references the
        SAME bytes as ``src_type``'s current snapshot — via HARDLINKS,
        so no data is rewritten and the clone is O(files), not
        O(bytes). Each table keeps its own manifest log and vacuums
        only its own directory entries; the shared inodes are freed
        when the last table's link goes, which makes the clone safe
        under either side's vacuum (the shallow-clone dangling-file
        hazard Delta documents cannot happen). Typical use: branch a
        production table into a dev/test sandbox before a risky
        transform. Returns the number of files linked.

        The clone starts with the source's CURRENT data but its own
        empty checkpoint lineage — future spools into either table
        diverge independently (copy-on-write at bucket granularity
        via the ordinary merge path). Clones are excluded from the
        feed's tombstone fan-out (a delete in the live feed must not
        reach a frozen branch); only explicit merges evolve them.
        """
        if dst_type in self.schemas:
            raise ValueError(f"clone target {dst_type!r} already exists")
        if src_type not in self.schemas:
            raise ValueError(f"clone source {src_type!r} unknown")
        src_path = self._table_path(src_type)
        manifest = self._load_manifest(src_path)
        if manifest is None:
            raise ValueError(f"clone source {src_type!r} has no committed version")
        dst_path = self._table_path(dst_type)
        n_linked = 0
        for b, files in manifest["buckets"].items():
            dst_dir = os.path.join(dst_path, f"_cw_bucket={b}")
            os.makedirs(dst_dir, exist_ok=True)
            for fn in files:
                src_fp = os.path.join(src_path, f"_cw_bucket={b}", fn)
                dst_fp = os.path.join(dst_dir, fn)
                try:
                    os.link(src_fp, dst_fp)
                except OSError:
                    shutil.copy2(src_fp, dst_fp)  # no-hardlink filesystem
                n_linked += 1
        self._commit_manifest(
            dst_path,
            "clone",
            {int(b): list(fs) for b, fs in manifest["buckets"].items()},
            manifest["schema"],
            {int(b): dict(per) for b, per in manifest["stats"].items()},
            base_version=0,
            n_buckets=self._manifest_buckets_n(manifest),
            dead={int(b): keys for b, keys in self._dead(manifest).items()},
        )
        self.schemas[dst_type] = dict(self.schemas[src_type])
        self.clone_types.add(dst_type)
        self._save_schemas()
        self.register_view(dst_type)
        return n_linked

    def rebucket(self, n_buckets: int, doc_type: str | None = None) -> int:
        """Change the id-hash bucket count — the partition-strategy
        evolution lever. A bucket count sized for today's table is
        wrong at 100× the data (buckets become multi-GB rewrite
        units) and wasteful at 1/100th (thousands of near-empty
        dirs); ``rebucket`` rewrites the CURRENT snapshot of each
        table under ``pmod(xxhash64(id), n_buckets)`` and commits it
        as a new manifest version carrying the new count. The count
        is VERSION STATE: every manifest records the ``n_buckets``
        its layout was hashed with, and merges / point lookups /
        pruning always hash with the count of the version they read —
        so older versions keep reading (and even restoring) their own
        layout, and a crash between types leaves every table
        individually consistent.

        ``doc_type=None`` rebuckets every discovered type and then
        persists the new count as the warehouse default for future
        fresh tables. Returns the number of tables rewritten.
        """
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        types = list(self.schemas) if doc_type is None else [doc_type]
        done = 0
        for t in types:
            path = self._table_path(t)
            manifest = self._load_manifest(path)
            if manifest is None:
                continue
            if not self._manifest_files(path, manifest):
                # Zero-row table: commit the (empty) layout under the
                # new count so future merges hash consistently.
                self._commit_manifest(
                    path, "rebucket", {}, manifest["schema"], {},
                    base_version=manifest["version"], n_buckets=n_buckets,
                )
                done += 1
                continue
            df = (
                self._read_parts(path, manifest)
                .withColumn("_cw_bucket", self._bucket_of("id", n_buckets))
                .repartition(n_buckets, "_cw_bucket")
                .sortWithinPartitions("_cw_bucket", "id")
            )
            self._commit_rewrite(
                path, manifest, "rebucket", df, manifest["buckets"], n_buckets=n_buckets
            )
            done += 1
        if doc_type is None:
            self.n_buckets = n_buckets
            self._save_schemas()
        return done

    def optimize_zorder(
        self,
        cols: list[str],
        doc_type: str = DEFAULT_TYPE,
        zbits: int = 8,
    ) -> int:
        """OPTIMIZE ZORDER BY (public Delta/Iceberg technique, Morton
        bit-interleave): rewrite every bucket's files with rows
        physically ordered by the z-value of ``cols``, committed as a
        new manifest version. Content is unchanged — only byte layout
        moves — so older snapshots keep reading their own files until
        ``vacuum()``.

        Why it matters at scale: parquet row-group min/max stats on a
        z-ordered file are tight in EVERY z-dimension at once, so a
        range predicate on any of ``cols`` prunes row groups (and,
        with one file per z-run, whole files) — the multi-dimensional
        analog of sorting by one column. The id-hash bucket layout is
        PRESERVED (z-ordering happens within each bucket): merge
        pruning and point lookups keep their contract.

        Numeric columns quantize by exact integer steps from a one-row
        broadcast min/max aggregate; string columns z-order on
        ``xxhash64`` bits (clusters equal values, no range locality —
        same posture as hash clustering in lakehouse writers). Returns
        the number of buckets rewritten.
        """
        path = self._table_path(doc_type)
        manifest = self._load_manifest(path)
        if manifest is None:
            return 0
        todo = sorted(int(b) for b, fs in manifest["buckets"].items() if fs)
        if not todo:
            return 0
        df = self._read_parts(path, manifest)

        numeric = {
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.NumericType)
        }
        missing = [c for c in cols if c not in df.columns]
        if missing:
            raise ValueError(f"zorder columns not in table: {missing}")
        # One-row broadcast of per-column integer quantization bounds.
        aggs = []
        for c in cols:
            if c in numeric:
                aggs += [
                    F.min(F.col(c).cast("long")).alias(f"_mn_{c}"),
                    F.expr(
                        f"(max(cast({c} as long)) - min(cast({c} as long)))"
                        f" DIV {2 ** zbits} + 1"
                    ).alias(f"_st_{c}"),
                ]
        bounds = df.agg(*aggs) if aggs else None
        if bounds is not None:
            df = df.crossJoin(F.broadcast(bounds))
        quant = []
        for c in cols:
            if c in numeric:
                quant.append(
                    F.expr(f"(cast({c} as long) - _mn_{c}) DIV _st_{c}")
                )
            else:
                mask = (1 << zbits) - 1
                quant.append(F.xxhash64(F.col(c)).bitwiseAND(F.lit(mask)))
        k = len(quant)
        zval = F.lit(0).cast("long")
        for bit in range(zbits):
            for ci, qc in enumerate(quant):
                zval = zval.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(qc, bit).bitwiseAND(F.lit(1)), bit * k + ci
                    )
                )
        df = (
            df.withColumn("_cw_zval", zval)
            .repartition(len(todo), "_cw_bucket")
            .sortWithinPartitions("_cw_bucket", "_cw_zval")
            .drop("_cw_zval", *[f"_mn_{c}" for c in cols if c in numeric],
                  *[f"_st_{c}" for c in cols if c in numeric])
        )
        self._commit_rewrite(path, manifest, "zorder", df, todo)
        return len(todo)

    def restore(self, version: int, doc_type: str = DEFAULT_TYPE) -> int:
        """Roll the table back to ``version`` AS A NEW COMMIT (Delta's
        RESTORE TABLE ... TO VERSION): the new manifest re-references
        the old version's exact file list, so the rollback is itself
        versioned — ``history()`` shows it, ``changes()`` diffs across
        it, and nothing is rewritten or deleted (pure metadata, O(1)
        data I/O). The bad version's files stay on disk for time
        travel until ``vacuum()`` ages them out.

        Fails loudly if any file the target version references was
        already vacuumed (the same hazard Delta's RESTORE documents
        after VACUUM) — a restore that silently dropped rows would be
        worse than no restore.
        """
        path = self._table_path(doc_type)
        manifest = self._load_manifest(path, version)
        latest = self._load_manifest(path)
        missing = [
            fp
            for fp in self._manifest_files(path, manifest)
            if not os.path.isfile(fp)
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.db_name}/{doc_type} to version "
                f"{version}: {len(missing)} referenced file(s) were "
                f"vacuumed, e.g. {missing[0]!r}"
            )
        return self._commit_manifest(
            path,
            "restore",
            {int(b): fs for b, fs in manifest["buckets"].items()},
            manifest["schema"],
            {int(b): per for b, per in manifest["stats"].items()},
            base_version=latest["version"],
            # Restoring a layout restores its bucket count and its dead
            # set too: without the latter, superseded rows would live.
            n_buckets=self._manifest_buckets_n(manifest),
            dead={int(b): keys for b, keys in self._dead(manifest).items()},
        )

    # -- query surface (R17) -------------------------------------------

    def register_view(
        self, doc_type: str = DEFAULT_TYPE, version: int | None = None
    ) -> DataFrame:
        """Expose a table to SQL. With ``version``, registers that
        snapshot as ``<table>_vN`` (alongside the unversioned current
        view) so time travel composes with query(): e.g.
        ``SELECT ... FROM mydb_v3`` — the SQL-side ``VERSION AS OF``."""
        df = self.table(doc_type, version=version)
        name = self.table_name(doc_type)
        if version is not None:
            name = f"{name}_v{version}"
        df.createOrReplaceTempView(name)
        return df

    def fsck(self, doc_type: str = DEFAULT_TYPE) -> DataFrame:
        """Table integrity check (the operational ``fsck`` every
        manifest-based format needs; Delta's FSCK REPAIR reads, not
        repairs): verifies, for the CURRENT version, that (1) every
        referenced part file exists on disk, (2) each file's recorded
        id min/max stats match its actual parquet footer, and (3)
        every ROW hashes into the bucket directory it lives in under
        the manifest's recorded bucket count — the invariant merge
        pruning and point lookups rely on. Returns a one-row report;
        ``ok`` is the AND of all three. Checks (1)-(2) are metadata
        reads on the driver (file count bounded by the manifest);
        check (3) is ONE bucket-recompute scan with a
        partial-aggregated mismatch count.
        """
        path = self._table_path(doc_type)
        manifest = self._committed_manifest(path)
        n_cur = self._manifest_buckets_n(manifest)
        missing: list[str] = []
        stat_mismatch: list[str] = []
        n_files = 0
        for b, files in manifest["buckets"].items():
            per = manifest["stats"].get(b, {})
            for fn in files:
                n_files += 1
                fp = os.path.join(path, f"_cw_bucket={b}", fn)
                if not os.path.isfile(fp):
                    missing.append(fp)
                    continue
                rec = per.get(fn)
                if rec is not None:
                    actual = _parquet_range(fp, "id")
                    if actual is not None and list(actual) != list(rec):
                        stat_mismatch.append(fp)
        misplaced = 0
        if not missing:
            state = self._read_parts(path, manifest)
            misplaced = int(
                state.select(
                    (
                        F.col("_cw_bucket")
                        != self._bucket_of("id", n_cur)
                    ).cast("int").alias("bad")
                )
                .agg(F.sum("bad"))
                .collect()[0][0]
                or 0
            )
        row = {
            "table": self.table_name(doc_type),
            "version": int(manifest["version"]),
            "n_files": n_files,
            "n_missing_files": len(missing),
            "n_stat_mismatches": len(stat_mismatch),
            "n_misplaced_rows": misplaced,
            "ok": not missing and not stat_mismatch and misplaced == 0,
        }
        return self.spark.createDataFrame([row])

    def create_masked_view(
        self,
        name: str,
        rules: Mapping[str, object],
        doc_type: str = DEFAULT_TYPE,
        drop: list[str] | None = None,
    ) -> DataFrame:
        """Read-side column-masking policy (Delta/Unity dynamic-view
        masking, Snowflake masking-policy semantics): register SQL
        view ``name`` over the CURRENT table with each ``rules``
        column replaced by its masking expression (SQL string or
        Column — e.g. ``{"email": "sha2(email, 256)"}``, ``{"age":
        "CASE WHEN age > 90 THEN 90 ELSE age END"}``) and ``drop``
        columns removed entirely. The underlying data is untouched —
        this is the governance seam: analysts query the view, the raw
        table stays ACL'd. Masks are applied per-read, so the view
        always reflects the latest committed version. Unknown rule or
        drop columns raise (a policy that silently no-ops is a leak).
        """
        df = self.table(doc_type)
        missing = [c for c in rules if c not in df.columns] + [
            c for c in (drop or []) if c not in df.columns
        ]
        if missing:
            raise ValueError(f"masking policy names unknown columns: {missing}")
        for col, expr in rules.items():
            df = df.withColumn(
                col, F.expr(expr) if isinstance(expr, str) else expr
            )
        if drop:
            df = df.drop(*drop)
        df.createOrReplaceTempView(name)
        return df

    def _read_state(self, path: str, version: int | None = None) -> DataFrame:
        """The snapshot read behind table() and changes(): resolve a
        manifest (the latest, or an explicit time-travel ``version``)
        and read exactly its file list (``_read_parts``). The explicit
        file list IS the snapshot: a commit that lands after this plan
        is built changes nothing the plan reads, and a zero-row version
        reads as an empty frame from the manifest's stored schema. A
        directory with no readable manifest is not a table — part
        files there are orphans of a first commit that never landed —
        so it raises ``FileNotFoundError``."""
        return self._read_parts(path, self._committed_manifest(path, version))

    def table(
        self,
        doc_type: str = DEFAULT_TYPE,
        version: int | None = None,
        as_of_ts: float | None = None,
    ) -> DataFrame:
        """The conformed state of one type's table (no seq col) —
        current, any retained snapshot via ``version`` (Delta's
        ``VERSION AS OF``), or the snapshot current AT a unix
        timestamp via ``as_of_ts`` (``TIMESTAMP AS OF``: the highest
        retained version committed at or before that instant; see
        ``history()`` for commit timestamps)."""
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_ts, not both")
            version = self._version_at(self._table_path(doc_type), as_of_ts)
        return self._read_state(self._table_path(doc_type), version=version).drop(
            SEQ_COL, "_cw_bucket"
        )

    def _version_at(self, path: str, ts: float) -> int:
        """Highest retained version whose commit timestamp ≤ ``ts``.
        Manifests are tiny JSONs; retention (vacuum) bounds how many
        exist, so this scan is a handful of local reads."""
        best = None
        for v in self._list_versions(path):
            m = self._load_manifest(path, v)
            if m is not None and float(m.get("ts", 0.0)) <= ts:
                best = v if best is None else max(best, v)
        if best is None:
            raise ValueError(
                f"no version committed at or before ts={ts} for table at {path} "
                f"(earliest retained: {self._list_versions(path)[:1]})"
            )
        return best

    def changes(
        self,
        since_version: int,
        doc_type: str = DEFAULT_TYPE,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change feed BETWEEN table versions (Delta's
        ``table_changes`` / CDF, built on the manifest snapshots): one
        row per key that differs between ``since_version`` and the
        current version, carrying ``change_type`` (insert / update /
        delete), the new column values (NULLs for deletes) and
        ``_cw_deleted`` — exactly the shape the live sinks apply
        (``SQLiteSink.insert_bulk(deleted_col=...)``,
        ``push_bulk_http(deleted_col=...)``), so a downstream consumer
        that missed N batches catches up with ONE incremental diff
        instead of a re-export.

        Scale: one full-outer join on the id key between two snapshots
        sharing the same bucket layout (seq comparison, not row
        comparison), then one join of the changed-key set back to the
        new state — the changed set is batch-sized, so AQE broadcasts
        it.

        Retention bounds how far back ``since_version`` can reach:
        ``vacuum()`` / ``auto_vacuum=N`` drop old manifests AND their
        files, so a consumer that lags past the retention window gets
        a ``ValueError`` (missing version) and must re-baseline from a
        full ``table()`` export — the same contract as Delta CDF after
        VACUUM. Size retention to your slowest consumer's poll period.
        """
        from couchwarehouse_spark.operators.upsert import (
            DELETED_COL,
            snapshot_diff,
        )

        path = self._table_path(doc_type)
        old = self._read_state(path, version=since_version)
        # ``to_version`` bounds the window (Delta's table_changes(start,
        # end)): the diff is between two PINNED retained snapshots, so a
        # consumer can replay history version-pair by version-pair even
        # while new commits keep landing. Default: the current head.
        new = self._read_state(path, version=to_version)
        diff = snapshot_diff(old, new)
        # cdc_payload's shape plus the change_type label (the sinks
        # ignore labels; a consumer routing on insert-vs-update wants it).
        marked = diff.select(
            "id",
            "change_type",
            (F.col("change_type") == "delete").alias(DELETED_COL),
        )
        return marked.join(
            new.drop("_cw_bucket", SEQ_COL), "id", "left"
        )

    def lookup(self, doc_id: str, doc_type: str = DEFAULT_TYPE) -> DataFrame:
        """Point lookup by document id — the reference's ``id PRIMARY
        KEY`` access path (reference lib/sqlite.js:38-40, ``WHERE id =
        ?`` at :83), served on the driver from the manifest and the
        part files' row-group statistics, with no Spark job. The driver
        hashes the id to its bucket (``_bucket_of_id``, under the
        version's recorded bucket count) — hash buckets spread ids over
        the whole key range, so the per-file id ranges of DIFFERENT
        buckets overlap and cannot narrow the read by themselves.
        Within the bucket, the manifest's recorded ranges drop every
        file whose [min, max] cannot contain the id (files without
        recorded stats are kept), and pyarrow reads the rest with an
        ``id`` equality filter whose row-group statistics skip every
        row group that cannot hold the id (merges write part files
        id-sorted, so that leaves one row group per file). Versions
        the bucket's dead set names are dropped in memory, leaving the
        live one. The read declares the manifest's schema, so a file
        written before ``evolve_schema`` added a column reads it as
        typed NULLs, as ``table()`` does.

        The result is materialised when ``lookup`` is called: a local
        relation holding the head version's row, which collecting does
        not recompute — it survives a later ``vacuum``. The driver
        needs the same view of storage that reading manifests and
        footer stats already requires. A table with no readable
        manifest raises ``FileNotFoundError``, as ``table()`` does.
        """
        path = self._table_path(doc_type)
        manifest = self._committed_manifest(path)
        b = self._bucket_of_id(doc_id, self._manifest_buckets_n(manifest))
        from pyspark.sql.pandas.types import to_arrow_schema

        stored = T.StructType.fromJson(json.loads(manifest["schema"]))
        schema = T.StructType([f for f in stored.fields if f.name != SEQ_COL])
        per = manifest["stats"].get(str(b), {})
        files = [
            os.path.join(path, f"_cw_bucket={b}", fn)
            for fn in manifest["buckets"].get(str(b), [])
            if per.get(fn) is None or per[fn][0] <= doc_id <= per[fn][1]
        ]
        rows = self._read_live_rows(
            files,
            to_arrow_schema(stored),
            set(self._dead(manifest).get(str(b), [])),
            filters=[("id", "=", doc_id)],
        ).drop_columns([SEQ_COL])
        return self.spark.createDataFrame(rows, schema)

    def query(
        self, sql: str, substitutions: dict | list | None = None
    ) -> DataFrame:
        """SQL passthrough over the warehouse tables (R17; the seam the
        reference documents at README.md:306-328 — here it's real:
        ``spark.sql`` with full Catalyst planning).

        ``substitutions`` mirrors the reference's
        ``query(sql, substitutions)`` (lib/sqlite.js:123-134 prepared-
        statement params) via Spark's parameterized SQL: named
        (``:name`` + dict) or positional (``?`` + list) markers —
        values bind as literals, never string-spliced, so user input
        cannot inject SQL.
        """
        if substitutions is None:
            return self.spark.sql(sql)
        return self.spark.sql(sql, args=substitutions)

    def start(
        self,
        feed_dir: str,
        checkpoint_dir: str | None = None,
        monitor: bool = False,
        processing_time: str = "10 seconds",
    ):
        """Reference-lifecycle entry point (reference index.js:181-255):
        spool everything currently in the landing zone, then — when
        ``monitor=True`` — keep tailing it with a processing-time
        trigger. Returns the StreamingQuery when monitoring, else the
        last spooled seq token.
        """
        from couchwarehouse_spark.streaming.ingest import monitor_warehouse

        ckpt = checkpoint_dir or os.path.join(self.warehouse_dir, "_stream_ckpt")
        spool_q = monitor_warehouse(self, feed_dir, ckpt, available_now=True)
        spool_q.awaitTermination()
        if self.verbose:
            self.message()
        if monitor:
            self._active_query = monitor_warehouse(
                self, feed_dir, ckpt, available_now=False, processing_time=processing_time
            )
            return self._active_query
        return self.checkpoints.read(self.db_name)

    def stop(self) -> None:
        """Stop a running monitor (the reference's exported ``stop``,
        reference index.js:257-260 / 172-178) — the streaming query
        AND the HTTP tailer thread when the package-level ``start``
        attached one (``_tailer_stop``). Idempotent: no-op when
        nothing is monitoring."""
        ev = getattr(self, "_tailer_stop", None)
        if ev is not None:
            ev.set()
        self._tailer_stop = None
        q = getattr(self, "_active_query", None)
        if q is not None and q.isActive:
            q.stop()
        self._active_query = None

    def message(self) -> None:
        """R18 — tell the user how to query (reference lib/sqlite.js:172-179)."""
        for doc_type in self.schemas:
            name = self.table_name(doc_type)
            log.info('table %r ready — query with spark.sql("SELECT * FROM %s LIMIT 10")', name, name)


def _pid_alive(pid: int) -> bool:
    """Is a process with this pid alive on THIS host? (Scratch-dir
    ownership check — single-host contract, same as the hardlink
    commit protocol.)"""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True
