"""End-to-end warehouse pipeline under the oracle gate.

The E2E golden tests (tests/test_warehouse.py) replay fixture feeds;
this entry goes further: it derives a changes feed FROM the orders
table deterministically — inserts, amendments (higher seq) and
tombstones — spools it through the REAL Warehouse (flatten → frozen
schema → conform → latest-wins merge → delete propagation →
checkpoint), then aggregates the resulting table. The DuckDB oracle
states the expected post-ETL semantics directly over ``orders``, so a
hash match certifies the whole R1→R14 kernel, not just one operator.

Feed construction is itself distributed (``to_json`` + text write);
nothing transits the driver but the per-type first doc.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from couchwarehouse_spark.catalog import load_table
from couchwarehouse_spark.plans.registry import (
    e2e_scratch_dir,
    query_scoped_shuffle,
    sf_tag,
)
from couchwarehouse_spark.plans.sizing import data_width, state_partitions
from couchwarehouse_spark.warehouse import Warehouse

# The spool/merge pipelines in this module run over bounded e2e
# fixtures (hundreds-to-thousands of rows): the session's 32 shuffle
# partitions are fixed per-task overhead for every merge window and
# join inside Warehouse. Same volume-derived scoped-count discipline
# as the streaming e2es (sizing.state_partitions — source bytes/64 MB,
# floor 8, env-overridable; r11 verdict #2 measured the floor); oracle
# hashes are partitioning-invariant and re-proven at sf0.01+sf0.1.


def query(name: str, oracle: str | None = None):
    """Module-local registration shim: run the whole entry body under
    the volume-derived scoped shuffle-partition count (the returned
    lazy census aggregate evaluates under the restored session
    default)."""
    return query_scoped_shuffle(name, oracle, partitions=state_partitions)

AMEND = 7  # orders with o_orderkey % 7 == 0 get amended (status overwrite)
DELETE = 10  # orders with o_orderkey % 10 == 0 get tombstoned
# Declared doc schema for the derived feed (strict mode): the spool
# parses with one schema-declared read instead of inference + read —
# the production posture for a known doc type.
FEED_DOC_DDL = (
    "_id string, _rev string, status string, total double, "
    "customer struct<id: bigint>"
)
TT_SUBSET = 3  # time_travel_cdc feeds only o_orderkey % 3 == 0 (spool
# throughput is already benchmarked by warehouse_e2e_pipeline; the
# manifest-layer certification doesn't need a second full-corpus spool)


def _build_feed(
    spark: SparkSession,
    sf_dir: str,
    feed_dir: str,
    phase: int | None = None,
    subset: int | None = None,
) -> None:
    """``phase=None``: one feed with inserts + amendments + tombstones.
    ``phase=1``: inserts only. ``phase=2``: amendments + tombstones
    only (the later changes) — the two-phase split time_travel_cdc
    spools to produce two distinct table versions. ``subset=k`` keeps
    only orders with ``o_orderkey % k == 0``."""
    # One parquet file = one task: without this the whole JSON
    # serialization runs on a single core AND the spooler inherits a
    # near-sequential read of one big text file. Widening here
    # parallelizes both sides of the feed.
    orders = load_table(spark, sf_dir, "orders")
    if subset is not None:
        orders = orders.filter(F.col("o_orderkey") % subset == 0)
    orders = orders.repartition(data_width(spark, sf_dir, "orders"))
    doc = F.struct(
        F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("_id"),
        F.lit("1-x").alias("_rev"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
        # nested struct → exercises flatten into customer_id
        F.struct(F.col("o_custkey").alias("id")).alias("customer"),
    )

    def envelope(seq_col, doc_col, deleted: bool):
        fields = [
            F.concat(seq_col.cast("string"), F.lit("-seq")).alias("seq"),
            F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("id"),
        ]
        if deleted:
            fields.append(F.lit(True).alias("deleted"))
        if doc_col is not None:
            fields.append(doc_col.alias("doc"))
        return F.to_json(F.struct(*fields))

    amended_doc = F.struct(
        doc["_id"].alias("_id"),
        F.lit("2-x").alias("_rev"),
        F.lit("amended").alias("status"),
        doc["total"].alias("total"),
        doc["customer"].alias("customer"),
    )
    # One scan of orders, not three union branches: each row emits its
    # insert envelope plus (conditionally) an amendment and a tombstone,
    # null-filtered and exploded — the same rows, a third of the I/O.
    insert_env = envelope(F.col("o_orderkey"), doc, False)
    amend_env = F.when(
        F.col("o_orderkey") % AMEND == 0,
        envelope(F.col("o_orderkey") + F.lit(1_000_000_000), amended_doc, False),
    )
    tomb_env = F.when(
        F.col("o_orderkey") % DELETE == 0,
        envelope(F.col("o_orderkey") + F.lit(2_000_000_000), None, True),
    )
    if phase == 1:
        envs = F.array(insert_env)
    elif phase == 2:
        envs = F.array(amend_env, tomb_env)
        orders = orders.filter(
            (F.col("o_orderkey") % AMEND == 0) | (F.col("o_orderkey") % DELETE == 0)
        )
    else:
        envs = F.array(insert_env, amend_env, tomb_env)
    feed = orders.select(
        F.explode(F.filter(envs, lambda x: x.isNotNull())).alias("value")
    )
    feed.write.mode("overwrite").text(feed_dir)


def _build_two_phase_feeds(
    spark: SparkSession, sf_dir: str, base: str, subset: int
) -> tuple[str, str]:
    """Both time-travel feeds from ONE orders scan: every row emits its
    phase-1 insert envelope plus any phase-2 amendment/tombstone, and a
    partitionBy('phase') text write routes them into phase=1/ and
    phase=2/ subdirectories — the two spool inputs — in a single job
    (halves the feed-construction I/O vs two _build_feed passes)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % subset == 0)
        .repartition(data_width(spark, sf_dir, "orders"))
    )
    doc = F.struct(
        F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("_id"),
        F.lit("1-x").alias("_rev"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.struct(F.col("o_custkey").alias("id")).alias("customer"),
    )
    amended_doc = F.struct(
        doc["_id"].alias("_id"),
        F.lit("2-x").alias("_rev"),
        F.lit("amended").alias("status"),
        doc["total"].alias("total"),
        doc["customer"].alias("customer"),
    )

    def envelope(seq_col, doc_col, deleted: bool):
        fields = [
            F.concat(seq_col.cast("string"), F.lit("-seq")).alias("seq"),
            F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("id"),
        ]
        if deleted:
            fields.append(F.lit(True).alias("deleted"))
        if doc_col is not None:
            fields.append(doc_col.alias("doc"))
        return F.to_json(F.struct(*fields))

    tagged = F.filter(
        F.array(
            F.struct(F.lit(1).alias("phase"), envelope(F.col("o_orderkey"), doc, False).alias("value")),
            F.struct(
                F.lit(2).alias("phase"),
                F.when(
                    F.col("o_orderkey") % AMEND == 0,
                    envelope(F.col("o_orderkey") + F.lit(1_000_000_000), amended_doc, False),
                ).alias("value"),
            ),
            F.struct(
                F.lit(2).alias("phase"),
                F.when(
                    F.col("o_orderkey") % DELETE == 0,
                    envelope(F.col("o_orderkey") + F.lit(2_000_000_000), None, True),
                ).alias("value"),
            ),
        ),
        lambda s: s["value"].isNotNull(),
    )
    feed = orders.select(F.explode(tagged).alias("e")).select("e.phase", "e.value")
    feed.write.mode("overwrite").partitionBy("phase").text(base)
    return os.path.join(base, "phase=1"), os.path.join(base, "phase=2")


@query(
    "warehouse_e2e_pipeline",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           count(*)                           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue,
           count(DISTINCT o_custkey)          AS n_customers
    FROM orders
    WHERE o_orderkey % {DELETE} <> 0
    GROUP BY 1
    """,
)
def warehouse_e2e_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1→R14 end-to-end: orders → changes feed (insert + amend +
    tombstone) → Warehouse spool → SQL over the conformed table.

    The oracle never sees the warehouse — it states what correct ETL
    must produce straight from the source rows: amendments win by seq,
    tombstoned orders vanish, everything else survives exactly once.
    """
    base = e2e_scratch_dir("cw_e2e", sf_dir)
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")

    _build_feed(spark, sf_dir, feed_dir)
    wh = Warehouse(spark, wh_dir, "e2eorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)

    t = wh.table()
    return t.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
        F.countDistinct("customer_id").cast("long").alias("n_customers"),
    )


@query(
    "time_travel_cdc",
    oracle=f"""
    WITH sub AS (SELECT * FROM orders WHERE o_orderkey % {TT_SUBSET} = 0)
    SELECT 'delete' AS change_type, count(*) AS n_ids
    FROM sub WHERE o_orderkey % {DELETE} = 0
    UNION ALL
    SELECT 'update', count(*)
    FROM sub WHERE o_orderkey % {AMEND} = 0 AND o_orderkey % {DELETE} <> 0
    UNION ALL
    SELECT 'unchanged', count(*)
    FROM sub WHERE o_orderkey % {AMEND} <> 0 AND o_orderkey % {DELETE} <> 0
    """,
)
def time_travel_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two MANIFEST SNAPSHOT VERSIONS of the same table
    (warehouse.py time travel): spool the insert feed (commits version
    1), spool the amendment + tombstone feed (commits version 2), then
    read BOTH versions with ``table(version=N)`` and classify every id
    as delete / update / unchanged. The oracle states the expected
    change census straight from ``orders``, so a hash match certifies
    the manifest layer end-to-end: version 1 must still read exactly
    as committed AFTER version 2 superseded some of its files, and
    version 2 must reflect precisely the second feed's changes.

    Scale: the diff is one full-outer join on the id key between two
    snapshots sharing the same bucket layout, then a 3-group count —
    the same shape as snapshot_cdc (operators/upsert.py:snapshot_diff),
    here applied across table VERSIONS instead of table copies.
    """
    base = e2e_scratch_dir("cw_ttcdc", sf_dir)
    wh_dir = os.path.join(base, "wh")

    feed1, feed2 = _build_two_phase_feeds(
        spark, sf_dir, os.path.join(base, "feeds"), TT_SUBSET
    )
    wh = Warehouse(spark, wh_dir, "ttorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed1)
    wh.spool(feed2)

    v1 = wh.table(version=1).select("id", F.col("status").alias("s1"))
    v2 = wh.table(version=2).select("id", F.col("status").alias("s2"))
    change = (
        F.when(F.col("s2").isNull(), F.lit("delete"))
        .when(F.col("s1").isNull(), F.lit("insert"))
        .when(F.col("s1") != F.col("s2"), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        v1.join(v2, "id", "full_outer")
        .select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count("*").alias("n_ids"))
    )


PD_SUBSET = 5  # predicate_delete_cdc feeds only o_orderkey % 5 == 0
PD_CUT = 150_000.0  # delete_where threshold on the flattened total


@query(
    "predicate_delete_cdc",
    oracle=f"""
    WITH sub AS (
      SELECT * FROM orders
      WHERE o_orderkey % {PD_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    )
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN o_totalprice > {PD_CUT} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_deleted,
           CAST(sum(CASE WHEN o_totalprice > {PD_CUT} THEN 0 ELSE 1 END)
                AS BIGINT) AS n_surviving
    FROM sub
    GROUP BY 1
    """,
)
def predicate_delete_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level predicate DELETE under the oracle gate: spool the
    full insert+amend+tombstone feed, run ``delete_where("total >
    cut")`` (bucket-pruned copy-on-write, a new manifest version),
    then reconcile THREE reads — the pre-delete snapshot
    (``table(version=pre)``), the post-delete head, and the CDF diff
    ``changes(since_version=pre)`` — into one census per status. The
    DuckDB oracle states the expected row/delete/survivor counts
    straight from ``orders``, so a hash match certifies delete_where's
    predicate semantics, the version isolation of the snapshot it
    left behind, AND that the change feed reports exactly the deleted
    keys (every ``changes`` row must be a delete here; asserted by
    construction since n_rows = n_deleted + n_surviving).

    Scale: delete_where's probe is one filter+group job (pushed
    predicate); the rewrite touches only matching buckets; the final
    reconciliation joins the CDF diff (delete-count sized) to the
    pre-delete snapshot on the bucket-colocated id key.
    """
    base = e2e_scratch_dir("cw_pdel", sf_dir)
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")

    _build_feed(spark, sf_dir, feed_dir, subset=PD_SUBSET)
    wh = Warehouse(spark, wh_dir, "pdorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)
    pre = wh._load_manifest(wh._table_path("_default"))["version"]

    wh.delete_where(F.col("total") > PD_CUT)

    snap = wh.table(version=pre).select("id", "status")
    deleted_ids = (
        wh.changes(since_version=pre)
        .filter(F.col("change_type") == "delete")
        .select("id", F.lit(1).alias("_del"))
    )
    return (
        snap.join(F.broadcast(deleted_ids), "id", "left")
        .groupBy("status")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.coalesce(F.col("_del"), F.lit(0))).cast("long").alias("n_deleted"),
            F.sum(F.when(F.col("_del").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_surviving"),
        )
    )


ST_SUBSET = 9  # split/transform e2e feeds only o_orderkey % 9 == 0
# (coprime with AMEND=7 and DELETE=10 so the subset still carries
# amendments and tombstones; spool throughput is already benchmarked
# by warehouse_e2e_pipeline — this entry certifies ROUTING semantics,
# which don't need volume)
ST_CUT = 150_000.0  # kind routing boundary on the order total
# Same declared-schema posture as FEED_DOC_DDL, plus the routing field.
ST_FEED_DDL = (
    "_id string, _rev string, status string, total double, kind string, "
    "customer struct<id: bigint>"
)


def _split_transform(flat: DataFrame) -> DataFrame:
    """R5 frame-level transform hook: runs INSIDE the warehouse on each
    type's flattened frame BEFORE schema freezing, so the derived
    columns become part of the frozen schema — proof the hook executed
    in the pipeline, not as post-processing. Pure Catalyst projection
    (the fast path the reference's per-doc JS function cannot be)."""
    return flat.withColumn("status_norm", F.lower(F.col("status"))).withColumn(
        "total_k", F.floor(F.col("total") / 1000).cast("long")
    )


@query(
    "warehouse_split_transform_e2e",
    oracle=f"""
    WITH sub AS (
      SELECT CASE WHEN o_totalprice >= {ST_CUT} THEN 'large'
                  ELSE 'small' END AS kind,
             lower(CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                        ELSE o_orderstatus END) AS status_norm,
             CAST(floor(o_totalprice / 1000) AS BIGINT) AS total_k
      FROM orders
      WHERE o_orderkey % {ST_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    )
    SELECT kind, status_norm,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(total_k) AS BIGINT) AS total_k_sum
    FROM sub
    GROUP BY kind, status_norm
    """,
)
def warehouse_split_transform_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 + R8 under the oracle gate (r7 verdict #6 — the last two
    R-tier behaviors that were pytest-only): spool a feed whose docs
    carry a ``kind`` routing field through a Warehouse in SPLIT mode
    (``split='kind'`` → one table per doc type, reference
    index.js:52 / bin/couchwarehouse.bin.js:6-16) WITH a frame-level
    transform hook installed (reference's ``--transform``,
    index.js:61-66). The final query unions BOTH type tables back
    together and aggregates the TRANSFORM-DERIVED columns per kind —
    a hash match therefore certifies, in one driver row: (a) every
    doc landed in exactly the table its kind routes to, (b) typeless
    tombstones deleted their id from every type table, (c) amendments
    won by seq within the right table, and (d) the transform ran
    inside the pipeline (its outputs are in the frozen schema the
    conformed tables serve).

    Scale: identical spool kernel as warehouse_e2e_pipeline (the
    feed is a distributed to_json write, the merge is bucket-pruned);
    splitting multiplies tables, not data — each doc is written once,
    to its own type's table. The final union+agg reads two conformed
    tables and hash-aggregates on (kind, status_norm).
    """
    base = e2e_scratch_dir("cw_split", sf_dir)
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")

    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % ST_SUBSET == 0)
        .repartition(data_width(spark, sf_dir, "orders"))
    )
    kind = F.when(F.col("o_totalprice") >= ST_CUT, "large").otherwise("small")

    def doc_struct(rev: str, status):
        return F.struct(
            F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("_id"),
            F.lit(rev).alias("_rev"),
            status.alias("status"),
            F.col("o_totalprice").alias("total"),
            kind.alias("kind"),  # the routing field — same for amendments
            F.struct(F.col("o_custkey").alias("id")).alias("customer"),
        )

    def envelope(seq_col, doc_col, deleted: bool):
        fields = [
            F.concat(seq_col.cast("string"), F.lit("-seq")).alias("seq"),
            F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("id"),
        ]
        if deleted:
            fields.append(F.lit(True).alias("deleted"))
        if doc_col is not None:
            fields.append(doc_col.alias("doc"))
        return F.to_json(F.struct(*fields))

    envs = F.array(
        envelope(F.col("o_orderkey"), doc_struct("1-x", F.col("o_orderstatus")), False),
        F.when(
            F.col("o_orderkey") % AMEND == 0,
            envelope(
                F.col("o_orderkey") + F.lit(1_000_000_000),
                doc_struct("2-x", F.lit("amended")),
                False,
            ),
        ),
        F.when(
            F.col("o_orderkey") % DELETE == 0,
            envelope(F.col("o_orderkey") + F.lit(2_000_000_000), None, True),
        ),
    )
    orders.select(
        F.explode(F.filter(envs, lambda x: x.isNotNull())).alias("value")
    ).write.mode("overwrite").text(feed_dir)

    wh = Warehouse(
        spark,
        wh_dir,
        "sporders",
        split="kind",
        transform=_split_transform,
        reset=True,
        feed_schema=ST_FEED_DDL,
    )
    wh.spool(feed_dir)

    both = wh.table("large").withColumn("_kind", F.lit("large")).unionByName(
        wh.table("small").withColumn("_kind", F.lit("small"))
    )
    return (
        both.groupBy(F.col("_kind").alias("kind"), "status_norm")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("total_k").cast("long").alias("total_k_sum"),
        )
    )


ZR_SUBSET = 4  # zorder e2e feeds only o_orderkey % 4 == 0
ZR_LO, ZR_HI = 60_000.0, 120_000.0  # range predicate on total


@query(
    "zorder_relayout_e2e",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_in_range
    FROM orders
    WHERE o_orderkey % {ZR_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
      AND o_totalprice BETWEEN {ZR_LO} AND {ZR_HI}
    GROUP BY 1
    ORDER BY 1
    """,
)
def zorder_relayout_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER under the oracle gate: spool the derived feed
    (inserts + amendments + tombstones, the full R-tier kernel), run
    ``optimize_zorder(['total', 'customer_id'])`` — a Morton-order
    file REWRITE committed as a new manifest version — then answer a
    range query on ``total`` from the relaid-out table. The oracle
    states the answer straight from ``orders``: a hash match proves
    the relayout moved BYTES and nothing else (every row, every
    latest-wins/tombstone outcome, byte-identical values through the
    z-value sort, quantization bounds and rewrite).

    The pruning PAYOFF (the reason z-order exists) is pinned by
    tests/test_round9_ops.py: on a z-ordered file, parquet row-group
    min/max stats on ``total`` become tight, so this entry's BETWEEN
    predicate — pushed to the scan (plan pin) — skips the row groups
    whose [min, max] misses the range; at 100 TB with one file per
    z-run that's whole-file skipping driven by the manifest's
    per-file stats (``describe_stats``/``analyze``).

    Scale: the rewrite is one repartition-by-bucket + within-bucket
    sort (no extra shuffle beyond the relayout itself); the z-value is
    integer bit arithmetic; bounds come from ONE broadcast one-row
    aggregate. Bucket layout is preserved, so merge pruning and point
    lookups keep their contract after the relayout.
    """
    base = e2e_scratch_dir("cw_zorder", sf_dir)
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")

    _build_feed(spark, sf_dir, feed_dir, subset=ZR_SUBSET)
    wh = Warehouse(spark, wh_dir, "zorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)
    wh.optimize_zorder(["total", "customer_id"])

    return (
        wh.table()
        .filter(F.col("total").between(ZR_LO, ZR_HI))
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("total"), 2).alias("total_in_range"),
        )
        .orderBy("status")
    )


SE_SUBSET = 6  # schema_evolution_e2e feeds only o_orderkey % 6 == 0
# Phase-2 amendments carry a NEW field the phase-1 freeze never saw;
# strict mode widens the declared feed contract alongside the table.
FEED_DOC_DDL_EVOLVED = FEED_DOC_DDL + ", channel string"


def _build_evolution_feeds(
    spark: SparkSession, sf_dir: str, base: str, subset: int
) -> tuple[str, str]:
    """Two-phase evolution feed from ONE orders scan: phase 1 inserts
    the original doc shape; phase 2 amends every AMEND-th order with a
    doc that ADDS a ``channel`` field (the evolution trigger) and
    tombstones every DELETE-th — the reference's run_evolve.js feed
    shape, derived distributedly (same partitionBy('phase') routing as
    ``_build_two_phase_feeds``)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % subset == 0)
        .repartition(data_width(spark, sf_dir, "orders"))
    )
    doc = F.struct(
        F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("_id"),
        F.lit("1-x").alias("_rev"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.struct(F.col("o_custkey").alias("id")).alias("customer"),
    )
    amended_doc = F.struct(
        doc["_id"].alias("_id"),
        F.lit("2-x").alias("_rev"),
        F.lit("amended").alias("status"),
        doc["total"].alias("total"),
        doc["customer"].alias("customer"),
        F.lit("web").alias("channel"),  # the field that evolves the schema
    )

    def envelope(seq_col, doc_col, deleted: bool):
        fields = [
            F.concat(seq_col.cast("string"), F.lit("-seq")).alias("seq"),
            F.concat(F.lit("order"), F.col("o_orderkey").cast("string")).alias("id"),
        ]
        if deleted:
            fields.append(F.lit(True).alias("deleted"))
        if doc_col is not None:
            fields.append(doc_col.alias("doc"))
        return F.to_json(F.struct(*fields))

    tagged = F.filter(
        F.array(
            F.struct(
                F.lit(1).alias("phase"),
                envelope(F.col("o_orderkey"), doc, False).alias("value"),
            ),
            F.struct(
                F.lit(2).alias("phase"),
                F.when(
                    F.col("o_orderkey") % AMEND == 0,
                    envelope(
                        F.col("o_orderkey") + F.lit(1_000_000_000), amended_doc, False
                    ),
                ).alias("value"),
            ),
            F.struct(
                F.lit(2).alias("phase"),
                F.when(
                    F.col("o_orderkey") % DELETE == 0,
                    envelope(F.col("o_orderkey") + F.lit(2_000_000_000), None, True),
                ).alias("value"),
            ),
        ),
        lambda s: s["value"].isNotNull(),
    )
    feed = orders.select(F.explode(tagged).alias("e")).select("e.phase", "e.value")
    feed.write.mode("overwrite").partitionBy("phase").text(base)
    return os.path.join(base, "phase=1"), os.path.join(base, "phase=2")


@query(
    "schema_evolution_e2e",
    oracle=f"""
    WITH sub AS (SELECT * FROM orders WHERE o_orderkey % {SE_SUBSET} = 0)
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           CAST(sum(CASE WHEN o_orderkey % {AMEND} = 0 THEN 1 ELSE 0 END)
                AS BIGINT)                    AS n_with_channel,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM sub
    WHERE o_orderkey % {DELETE} <> 0
    GROUP BY 1
    """,
)
def schema_evolution_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in SCHEMA EVOLUTION under the oracle gate (the one R-tier
    semantic previously proven only by pytest —
    tests/test_warehouse.py::test_schema_evolution_opt_in; reference
    semantics at /root/reference/test/run_evolve.js:53-69 and
    README.md:300-304): spool the insert feed (freezes the original
    5-column doc shape, commits version 1), then spool an amendment +
    tombstone feed whose amended docs ADD a ``channel`` field — with
    ``evolve_schema=True`` the batch WIDENS the frozen schema
    (Delta's mergeSchema) instead of silently dropping the field —
    and query the evolved table.

    The oracle states the expected census straight from ``orders``:
    every amended survivor must carry the new column's value and
    every pre-evolution survivor must read it as NULL (null
    backfill through per-version explicit-schema file reads — the
    time_travel_cdc manifest machinery), so ``count(channel)`` per
    status group certifies both directions of the evolution contract
    in one hash match. Version isolation is asserted in-entry:
    ``table(version=1)`` must still read WITHOUT the evolved column.

    Scale: evolution is a metadata-only widen (no file rewrite —
    pre-evolution parquet is read with its own explicit schema and
    null-backfilled at scan time, exactly Delta/iceberg add-column
    semantics); the amendment merge itself stays bucket-pruned.
    """
    base = e2e_scratch_dir("cw_sevo", sf_dir)
    wh_dir = os.path.join(base, "wh")

    feed1, feed2 = _build_evolution_feeds(
        spark, sf_dir, os.path.join(base, "feeds"), SE_SUBSET
    )
    wh = Warehouse(
        spark,
        wh_dir,
        "evorders",
        reset=True,
        evolve_schema=True,
        feed_schema=FEED_DOC_DDL,
    )
    wh.spool(feed1)
    # The feed contract widens with the doc type (strict mode keeps
    # the one-pass schema-declared read; inference would also work).
    wh.feed_schema = FEED_DOC_DDL_EVOLVED
    wh.spool(feed2)

    # Version isolation: the pre-evolution snapshot keeps ITS schema.
    v1_cols = set(wh.table(version=1).columns)
    head_cols = set(wh.table().columns)
    assert "channel" not in v1_cols, f"version 1 leaked evolved column: {v1_cols}"
    assert "channel" in head_cols, f"evolution did not widen head: {head_cols}"

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.count("channel").cast("long").alias("n_with_channel"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
    )


CQ_SUBSET = 12  # constraint e2e feeds only o_orderkey % 12 == 0
CQ_CAP = 300_000.0  # CHECK: total <= cap; offenders -> dead letter


@query(
    "constraint_quarantine_e2e",
    oracle=f"""
    WITH sub AS (SELECT * FROM orders WHERE o_orderkey % {CQ_SUBSET} = 0)
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_rows,
           round(sum(o_totalprice), 2)        AS total_value
    FROM sub
    WHERE o_orderkey % {DELETE} <> 0 AND o_totalprice <= {CQ_CAP}
    GROUP BY 1
    UNION ALL
    SELECT '__quarantined',
           CAST(sum(CASE WHEN o_orderkey % {AMEND} = 0 THEN 2 ELSE 1 END)
                AS BIGINT),
           round(sum((CASE WHEN o_orderkey % {AMEND} = 0 THEN 2 ELSE 1 END)
                     * o_totalprice), 2)
    FROM sub WHERE o_totalprice > {CQ_CAP}
    """,
)
def constraint_quarantine_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint QUARANTINE mode under the oracle gate (the
    dead-letter pattern for unattended monitors — Delta CHECK
    constraints crossed with a dead-letter queue): the warehouse gets
    ``CHECK (total <= {CQ_CAP})`` in ``constraint_mode='quarantine'``
    BEFORE the insert+amend+tombstone feed spools, so offending doc
    rows (insert AND amendment copies — constraints see the conformed
    batch before latest-wins) divert to ``_quarantine/`` parquet while
    everything else merges normally. The entry reconciles BOTH sides:
    the per-status census of the merged table (offenders absent,
    amendments of surviving ids applied, tombstones propagated) plus
    a '__quarantined' row counting the dead-letter copies and their
    value. The DuckDB oracle states both censuses straight from
    ``orders`` — a hash match certifies the constraint gate diverted
    exactly the right rows and nothing leaked into (or out of) the
    table.

    Scale: enforcement is ONE extra partial-aggregated violation
    count per batch plus a filtered dead-letter append — no second
    scan of the table; the merge itself stays bucket-pruned.
    """
    base = e2e_scratch_dir("cw_cquar", sf_dir)
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")

    _build_feed(spark, sf_dir, feed_dir, subset=CQ_SUBSET)
    wh = Warehouse(
        spark,
        wh_dir,
        "cqorders",
        reset=True,
        feed_schema=FEED_DOC_DDL,
        constraint_mode="quarantine",
    )
    wh.add_constraint("total_cap", f"total <= {CQ_CAP}")
    wh.spool(feed_dir)

    table_census = (
        wh.table()
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("total"), 2).alias("total_value"),
        )
    )
    q = wh.quarantined()
    quarantine_census = q.agg(
        F.lit("__quarantined").alias("status"),
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum("total"), 2).alias("total_value"),
    ).select("status", "n_rows", "total_value")
    return table_census.unionByName(quarantine_census)


RV_SUBSET = 13  # restore e2e feeds only o_orderkey % 13 == 0
RV_CUT = 150_000.0  # the "bad" delete_where the restore undoes


@query(
    "restore_version_e2e",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM orders
    WHERE o_orderkey % {RV_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    GROUP BY 1
    """,
)
def restore_version_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE under the oracle gate (Delta's RESTORE TABLE ... TO
    VERSION, the operational undo for a bad write): spool the full
    insert+amend+tombstone feed (version 1), run a destructive
    ``delete_where(total > {RV_CUT})`` (version 2 — the incident),
    then ``restore(1)`` (version 3, a pure-metadata commit
    re-referencing version 1's files). The entry queries the restored
    HEAD; the DuckDB oracle states the post-ETL census from
    ``orders`` as if the delete never happened — a hash match
    certifies the rollback re-exposed every row byte-for-byte AND
    that the restore is itself a versioned commit (asserted in-entry:
    three manifest versions, and the incident snapshot really did
    lose rows, so the restore demonstrably undid something).

    Scale: restore is O(1) data I/O — a manifest that re-references
    the target version's file list; nothing is rewritten, and the
    incident version stays readable for forensics until vacuum.
    """
    base = e2e_scratch_dir("cw_restore", sf_dir)
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")

    _build_feed(spark, sf_dir, feed_dir, subset=RV_SUBSET)
    wh = Warehouse(spark, wh_dir, "rvorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)
    n_v1 = wh.table().count()
    n_deleted = wh.delete_where(f"total > {RV_CUT}")
    assert n_deleted > 0, "incident delete removed nothing — nothing to undo"
    assert wh.table().count() == n_v1 - n_deleted
    wh.restore(1)
    n_versions = wh.history().count()
    assert n_versions == 3, f"restore must be a versioned commit: {n_versions}"

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
    )


CL_SUBSET = 15  # clone e2e feeds only o_orderkey % 15 == 0


@query(
    "clone_divergence_e2e",
    oracle=f"""
    WITH sub AS (SELECT * FROM orders WHERE o_orderkey % {CL_SUBSET} = 0)
    SELECT 'live' AS table_name,
           CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM sub
    WHERE o_orderkey % {DELETE} <> 0
    GROUP BY 1, 2
    UNION ALL
    SELECT 'branch', o_orderstatus,
           CAST(count(*) AS BIGINT),
           round(sum(o_totalprice), 2)
    FROM sub
    GROUP BY 1, 2
    """,
)
def clone_divergence_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy CLONE + divergence under the oracle gate (Delta
    CLONE semantics; hardlinked, O(files) not O(bytes)): spool the
    insert feed, branch the table (``clone('_default', 'branch')``),
    then spool the amendment + tombstone feed into the LIVE table
    only. The entry reconciles BOTH tables' censuses: the live side
    must show amendments applied and tombstones propagated; the
    frozen branch must still read exactly the pre-clone snapshot —
    including that the feed's tombstone fan-out never reached it (a
    delete in the live feed must not mutate a frozen branch; the
    clone-exclusion rule in the merge path). The DuckDB oracle states
    both censuses from ``orders`` in one UNION — a hash match
    certifies isolation in both directions.

    Scale: the clone links the current snapshot's files (no rewrite);
    post-clone divergence is ordinary copy-on-write at bucket
    granularity on each side — shared inodes free when the last
    referencing table vacuums, so neither side's retention can
    corrupt the other.
    """
    base = e2e_scratch_dir("cw_clone", sf_dir)
    wh_dir = os.path.join(base, "wh")

    feed1, feed2 = _build_two_phase_feeds(
        spark, sf_dir, os.path.join(base, "feeds"), CL_SUBSET
    )
    wh = Warehouse(spark, wh_dir, "clorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed1)
    n_linked = wh.clone("_default", "branch")
    assert n_linked > 0, "clone linked no files"
    wh.spool(feed2)

    def census(doc_type: str, name: str, status_col) -> DataFrame:
        return (
            wh.table(doc_type)
            .groupBy(status_col.alias("status"))
            .agg(
                F.count("*").cast("long").alias("n_orders"),
                F.round(F.sum("total"), 2).alias("total_revenue"),
            )
            .select(
                F.lit(name).alias("table_name"),
                "status",
                "n_orders",
                "total_revenue",
            )
        )

    live = census("_default", "live", F.col("status"))
    branch = census("branch", "branch", F.col("status"))
    return live.unionByName(branch)


UW_SUBSET = 17  # update e2e feeds only o_orderkey % 17 == 0
UW_CUT = 50_000.0  # update_where predicate: total < cut gets discounted


@query(
    "update_where_cdc_e2e",
    oracle=f"""
    WITH sub AS (
      SELECT * FROM orders
      WHERE o_orderkey % {UW_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    )
    SELECT CASE WHEN o_totalprice < {UW_CUT} THEN 'discounted'
                WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_rows,
           round(sum(CASE WHEN o_totalprice < {UW_CUT}
                          THEN o_totalprice * 2 ELSE o_totalprice END), 2)
             AS total_value
    FROM sub
    GROUP BY 1
    UNION ALL
    SELECT '__cdf_updates',
           CAST(count(*) AS BIGINT),
           round(sum(o_totalprice * 2), 2)
    FROM sub WHERE o_totalprice < {UW_CUT}
    """,
)
def update_where_cdc_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate UPDATE + change-data-feed under the oracle gate
    (Delta's ``UPDATE ... SET`` and ``table_changes`` reconciled in
    one hash match): spool the full insert+amend+tombstone feed, run
    ``update_where(total < {UW_CUT}, {{status: 'discounted', total:
    total*2}})`` — assignments evaluate against the row's CURRENT
    values through the bucket-pruned copy-on-write rewrite — then
    reconcile the post-update census AND a pinned-snapshot diff
    (``table(version=pre)`` vs the head): every differing key must
    carry exactly the doubled total. The DuckDB oracle states both
    from ``orders``; the DELETE twin is ``predicate_delete_cdc``.

    CDF note: the seq-based ``changes()`` feed deliberately does NOT
    report in-place predicate updates — row seqs are FEED version
    stamps and a rewrite is not a feed event (synthesizing seqs would
    break idempotent feed replay), so seq CDC sees inserts/deletes/
    feed amendments while predicate rewrites are consumed by pinned-
    snapshot diffs, exactly what this entry certifies.

    Exactness: the predicate and assignments are exact double
    arithmetic (x2) on values both engines carry identically; counts
    are integers; revenue rounds once.

    Scale: the probe is one pushed-filter aggregate; only matching
    buckets rewrite; the CDF diff joins two snapshots on the
    bucket-colocated id key.
    """
    base = e2e_scratch_dir("cw_uwcdc", sf_dir)
    feed_dir = os.path.join(base, "feed")
    wh_dir = os.path.join(base, "wh")

    _build_feed(spark, sf_dir, feed_dir, subset=UW_SUBSET)
    wh = Warehouse(spark, wh_dir, "uworders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)
    pre = wh._load_manifest(wh._table_path("_default"))["version"]
    n_updated = wh.update_where(
        f"total < {UW_CUT}",
        {"status": "'discounted'", "total": "total * 2"},
    )
    assert n_updated > 0, "update matched nothing — the e2e is vacuous"

    census = wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum("total"), 2).alias("total_value"),
    )
    pre_t = wh.table(version=pre).select("id", F.col("total").alias("t_pre"))
    head = wh.table().select("id", "total")
    cdf = (
        head.join(pre_t, "id")
        .filter(F.col("total") != F.col("t_pre"))
        .agg(
            F.lit("__cdf_updates").alias("status"),
            F.count("*").cast("long").alias("n_rows"),
            F.round(F.sum("total"), 2).alias("total_value"),
        )
        .select("status", "n_rows", "total_value")
    )
    return census.unionByName(cdf)


CP_SUBSET = 18  # compaction e2e feeds only o_orderkey % 18 == 0


def _build_insert_wave(
    spark: SparkSession,
    sf_dir: str,
    feed_dir: str,
    subset: int,
    prefix: str,
    seq_offset: int = 0,
) -> None:
    """One insert-only feed wave whose doc ids carry ``prefix`` — two
    waves with DISJOINT id-string ranges model two source shards
    landing in the same warehouse: the merge's file-level id-range
    pruning carries the first wave's part files forward untouched,
    which is exactly how buckets fragment in production. A later wave
    must carry HIGHER seqs (``seq_offset``) — a changes feed is
    seq-monotone and the spool's checkpoint resume skips anything at
    or below the last committed seq."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % subset == 0)
        .repartition(data_width(spark, sf_dir, "orders"))
    )
    doc = F.struct(
        F.concat(F.lit(prefix), F.col("o_orderkey").cast("string")).alias("_id"),
        F.lit("1-x").alias("_rev"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.struct(F.col("o_custkey").alias("id")).alias("customer"),
    )
    env = F.to_json(
        F.struct(
            F.concat(
                (F.col("o_orderkey") + F.lit(seq_offset)).cast("string"),
                F.lit("-seq"),
            ).alias("seq"),
            F.concat(F.lit(prefix), F.col("o_orderkey").cast("string")).alias("id"),
            doc.alias("doc"),
        )
    )
    orders.select(env.alias("value")).write.mode("overwrite").text(feed_dir)


@query(
    "compact_small_files_e2e",
    oracle=f"""
    SELECT o_orderstatus                      AS status,
           CAST(2 * count(*) AS BIGINT)       AS n_rows,
           round(2 * sum(o_totalprice), 2)    AS total_value
    FROM orders
    WHERE o_orderkey % {CP_SUBSET} = 0
    GROUP BY 1
    """,
)
def compact_small_files_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE / small-file compaction under the oracle gate: two
    insert waves with DISJOINT id prefixes (two source shards) land
    in the same buckets — the merge's file-level id-range pruning
    carries wave A's part files forward untouched while wave B
    appends its own, so hot buckets genuinely fragment (the
    small-files problem that kills scan throughput at 100 TB). Then
    ``compact()`` rewrites every fragmented
    bucket to ~one file as a NEW manifest version and the entry
    queries the compacted table. The oracle states the doubled census
    straight from ``orders`` — a hash match certifies compaction
    moved bytes and changed NOTHING else (the content-preservation
    contract, like the z-order relayout but for the file-count
    dimension). Asserted in-entry: buckets were actually fragmented,
    compaction rewrote them, and the current version references
    strictly fewer files.

    Scale: compaction reads only over-fragmented buckets (manifest
    file counts decide — no data scan to plan it); superseded
    fragments stay for older snapshots until vacuum, so concurrent
    readers never break.
    """
    base = e2e_scratch_dir("cw_compact", sf_dir)
    wh_dir = os.path.join(base, "wh")

    feed_a = os.path.join(base, "feed_a")
    feed_b = os.path.join(base, "feed_b")
    _build_insert_wave(spark, sf_dir, feed_a, CP_SUBSET, "order")
    _build_insert_wave(
        spark, sf_dir, feed_b, CP_SUBSET, "xorder", seq_offset=1_000_000_000
    )
    wh = Warehouse(spark, wh_dir, "cporders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_a)
    wh.spool(feed_b)
    path = wh._table_path("_default")
    files_before = sum(
        len(fs) for fs in wh._load_manifest(path)["buckets"].values()
    )
    n_buckets = wh.compact()
    assert n_buckets > 0, "two disjoint waves left nothing fragmented"
    files_after = sum(
        len(fs) for fs in wh._load_manifest(path)["buckets"].values()
    )
    assert files_after < files_before, (files_before, files_after)

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum("total"), 2).alias("total_value"),
    )


VC_SUBSET = 19  # vacuum e2e feeds only o_orderkey % 19 == 0


@query(
    "vacuum_retention_e2e",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM orders
    WHERE o_orderkey % {VC_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    GROUP BY 1
    """,
)
def vacuum_retention_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM retention under the oracle gate: two spools and a
    compaction create superseded files (a merge appends and marks the
    rows it supersedes dead, so only a rewrite leaves a file
    unreferenced), ``vacuum(retain_versions=1, min_age_seconds=0)``
    reclaims every file only the older versions reference, and the
    entry queries the surviving head — the oracle
    states the full post-ETL census from ``orders``, so a hash match
    certifies vacuum deleted ONLY unreferenced bytes (one live row
    lost or one stale file resurrected would flip a count). The
    retention contract is asserted in-entry: vacuum reclaimed a
    nonzero file count, and the time-travel read of the dropped
    version now fails LOUDLY rather than returning partial data —
    the same RETAIN-bounds-time-travel trade Delta documents.

    Scale: vacuum is a manifest-set difference plus unlink calls —
    O(files), no data reads; the grace window (min_age_seconds)
    protects in-flight readers in production (0 here: the entry owns
    the table).
    """
    base = e2e_scratch_dir("cw_vacuum", sf_dir)
    wh_dir = os.path.join(base, "wh")

    feed1, feed2 = _build_two_phase_feeds(
        spark, sf_dir, os.path.join(base, "feeds"), VC_SUBSET
    )
    wh = Warehouse(spark, wh_dir, "vcorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed1)
    wh.spool(feed2)
    assert wh.compact() > 0, "the second spool appended nothing"
    n_reclaimed = wh.vacuum(retain_versions=1, min_age_seconds=0.0)
    assert n_reclaimed > 0, "nothing reclaimed — the retention e2e is vacuous"
    try:
        wh.table(version=1).collect()
    except Exception:
        pass  # loud failure is the contract
    else:
        raise AssertionError("vacuumed version 1 still readable")

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
    )


RB_SUBSET = 23  # rebucket e2e feeds only o_orderkey % 23 == 0
RB_NEW_BUCKETS = 4  # partition-strategy evolution target


@query(
    "rebucket_e2e",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM orders
    WHERE o_orderkey % {RB_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    GROUP BY 1
    """,
)
def rebucket_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-STRATEGY EVOLUTION under the oracle gate: spool the
    insert feed under the default 16-bucket id-hash layout, run
    ``rebucket({RB_NEW_BUCKETS})`` (the bucket count sized for
    today's table is wrong at 100x the data — this is the lever that
    re-sizes the merge/lookup unit), then spool the amendment +
    tombstone feed INTO THE NEW LAYOUT: the post-rebucket merge must
    hash its bucket pruning with the NEW count (a merge that hashed
    with the old count would write files no reader looks for — the
    exact failure mode the per-version n_buckets state prevents). The
    DuckDB oracle states the final census straight from ``orders``,
    so a hash match certifies content through relayout + divergence;
    the in-entry asserts pin the layout change itself and that the
    pre-rebucket snapshot still reads under ITS OWN layout.

    Scale: rebucket rewrites the current snapshot once (the planned
    migration cost); every later merge prunes against the new,
    right-sized units. Bucket count is version state, so time travel
    across the relayout keeps working.
    """
    base = e2e_scratch_dir("cw_rebucket", sf_dir)
    wh_dir = os.path.join(base, "wh")

    feed1, feed2 = _build_two_phase_feeds(
        spark, sf_dir, os.path.join(base, "feeds"), RB_SUBSET
    )
    wh = Warehouse(spark, wh_dir, "rborders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed1)
    n_v1 = wh.table().count()
    wh.rebucket(RB_NEW_BUCKETS)
    path = wh._table_path("_default")
    m = wh._load_manifest(path)
    assert wh._manifest_buckets_n(m) == RB_NEW_BUCKETS, m.get("n_buckets")
    assert len(m["buckets"]) <= RB_NEW_BUCKETS
    wh.spool(feed2)
    # The pre-rebucket snapshot still reads under its own 16-bucket
    # layout (bucket count is version state).
    assert wh.table(version=1).count() == n_v1

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
    )


# ---------------------------------------------------------------------------
# Round 11: MERGE INTO, ANALYZE, and TIMESTAMP AS OF under the oracle
# gate — the remaining pytest-only warehouse verbs.
# ---------------------------------------------------------------------------

MI_SUBSET = 29  # merge_into e2e feeds only o_orderkey % 29 == 0


@query(
    "merge_into_upsert_e2e",
    oracle=f"""
    WITH s AS (
      SELECT * FROM orders WHERE o_orderkey % {MI_SUBSET} = 0
    ),
    final AS (
      SELECT CASE WHEN o_orderkey % {AMEND} = 0 AND o_orderkey % {DELETE} <> 0
                  THEN 'merged' ELSE o_orderstatus END   AS status,
             CASE WHEN o_orderkey % {AMEND} = 0 AND o_orderkey % {DELETE} <> 0
                  THEN o_totalprice + 10 ELSE o_totalprice END AS total
      FROM s WHERE o_orderkey % {DELETE} <> 0
      UNION ALL
      SELECT 'newrow', o_totalprice FROM s WHERE o_orderkey % 3 = 0
    )
    SELECT status,
           CAST(count(*) AS BIGINT)  AS n_rows,
           round(sum(total), 2)      AS total_value
    FROM final
    GROUP BY 1
    """,
)
def merge_into_upsert_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct-DataFrame MERGE INTO under the oracle gate (Delta's
    ``MERGE ... WHEN MATCHED UPDATE / WHEN MATCHED DELETE / WHEN NOT
    MATCHED INSERT``, keyed on id) — until now pytest-only
    (tests/test_warehouse.py): a spooled base table takes ONE
    ``merge_into`` batch that simultaneously updates matched rows
    (status → 'merged', total + 10), tombstones matched rows
    (``delete_col``), and inserts brand-new ids ('morder…'), then the
    SAME frame REPLAYS — the docstring's idempotent-by-content claim
    — before the census crosses the oracle. The oracle states the
    post-merge answer straight from ``orders``; a double-applied
    update (total + 20), a resurrected delete, or a duplicated insert
    flips a count or a sum.

    In-entry asserts: the first merge's applied-row count is exactly
    updates + inserts + MATCHED deletes (a tombstone for an absent id
    is a no-op and must not count), and the replay counts only
    updates + inserts (its deletes no longer match anything).

    Scale: merge_into reuses the bucket-pruned incremental merge —
    only buckets the incoming ids hash into rewrite; the seq probe is
    one partial-aggregated max.
    """
    base = e2e_scratch_dir("cw_mi", sf_dir)
    wh_dir = os.path.join(base, "wh")
    feed_dir = os.path.join(base, "feed")

    _build_feed(spark, sf_dir, feed_dir, phase=1, subset=MI_SUBSET)
    wh = Warehouse(spark, wh_dir, "miorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)

    s = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % MI_SUBSET == 0
    )
    key = F.col("o_orderkey")
    oid = F.concat(F.lit("order"), key.cast("string"))
    upd = s.filter((key % AMEND == 0) & (key % DELETE != 0)).select(
        oid.alias("id"),
        F.lit("2-m").alias("rev"),
        F.lit("merged").alias("status"),
        (F.col("o_totalprice") + 10).alias("total"),
        F.col("o_custkey").alias("customer_id"),
        F.lit(False).alias("gone"),
    )
    dels = s.filter(key % DELETE == 0).select(
        oid.alias("id"),
        F.lit(None).cast("string").alias("rev"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("double").alias("total"),
        F.lit(None).cast("long").alias("customer_id"),
        F.lit(True).alias("gone"),
    )
    ins = s.filter(key % 3 == 0).select(
        F.concat(F.lit("morder"), key.cast("string")).alias("id"),
        F.lit("1-m").alias("rev"),
        F.lit("newrow").alias("status"),
        F.col("o_totalprice").alias("total"),
        F.col("o_custkey").alias("customer_id"),
        F.lit(False).alias("gone"),
    )
    incoming = upd.unionByName(dels).unionByName(ins)
    # One aggregate job over the subset instead of three count() jobs
    # (each re-scanning orders): the three legs are disjoint predicates
    # on the same scan, so conditional sums give identical counts.
    n_upd, n_del, n_ins = (
        s.agg(
            F.sum(((key % AMEND == 0) & (key % DELETE != 0)).cast("long")),
            F.sum((key % DELETE == 0).cast("long")),
            F.sum((key % 3 == 0).cast("long")),
        ).first()
    )
    n_upd, n_del, n_ins = int(n_upd or 0), int(n_del or 0), int(n_ins or 0)
    n1 = wh.merge_into(incoming, delete_col="gone")
    assert n1 == n_upd + n_ins + n_del, (n1, n_upd, n_ins, n_del)
    # Replay the SAME frame: updates/inserts re-apply with identical
    # content; the deletes' ids are gone, so they are no-ops.
    n2 = wh.merge_into(incoming, delete_col="gone")
    assert n2 == n_upd + n_ins, (n2, n_upd, n_ins)

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum("total"), 2).alias("total_value"),
    )


AZ_SUBSET = 31  # analyze e2e feeds only o_orderkey % 31 == 0


@query(
    "analyze_stats_e2e",
    oracle=f"""
    WITH survivors AS (
      SELECT concat('order', CAST(o_orderkey AS VARCHAR)) AS id,
             o_totalprice AS total
      FROM orders
      WHERE o_orderkey % {AZ_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    )
    SELECT CAST(count(*) AS BIGINT)   AS n_rows,
           CAST(0 AS BIGINT)          AS n_total_nulls,
           round(min(total), 2)       AS min_total,
           round(max(total), 2)       AS max_total,
           min(id)                    AS min_id,
           max(id)                    AS max_id
    FROM survivors
    """,
)
def analyze_stats_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE under the oracle gate: after a full
    insert+amend+tombstone spool, ``analyze()`` scans the current
    version's files once and commits per-file column statistics
    (min / max / nulls / rows) as a metadata-only version; the entry
    then answers the oracle's question FROM THE RECORDED STATS ALONE
    — no data read. The oracle states count/min/max straight from
    ``orders``, so a hash match certifies the statistics a cost-based
    planner or a stat-skipping reader would trust are exactly right
    (a stale file's stats surviving a merge, or a min/max computed
    over superseded rows, flips a value).

    In-entry asserts pin the incremental contract: the first
    ``analyze()`` scans every referenced file, an immediate second
    one scans ZERO (files are immutable; stats key by file identity),
    and after a 1-id ``delete_where`` the third scans only the
    rewritten bucket's files.

    Scale: ANALYZE is one distributed pass grouped by file, driver
    traffic is one result row per file, and incrementality means
    steady-state re-ANALYZE cost tracks the merge rate, not the
    table size.
    """
    base = e2e_scratch_dir("cw_az", sf_dir)
    wh_dir = os.path.join(base, "wh")
    feed_dir = os.path.join(base, "feed")

    _build_feed(spark, sf_dir, feed_dir, subset=AZ_SUBSET)
    wh = Warehouse(spark, wh_dir, "azorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)

    path = wh._table_path("_default")
    n_files = sum(
        len(fs) for fs in wh._load_manifest(path)["buckets"].values()
    )
    n1 = wh.analyze()
    assert n1 == n_files, (n1, n_files)
    assert wh.analyze() == 0, "re-ANALYZE of unchanged files must scan nothing"
    vrow = wh.table().select("id", "total").orderBy("id").limit(1).collect()[0]
    victim, victim_total = vrow["id"], float(vrow["total"])
    assert wh.delete_where(f"id = '{victim}'") == 1
    n3 = wh.analyze()
    assert 0 < n3 < n_files, (n3, n_files)

    stats = wh._load_manifest(path)["column_stats"]
    n_rows = n_nulls = 0
    mins_t, maxs_t, mins_i, maxs_i = [], [], [], []
    for per_file in stats.values():
        for entry in per_file.values():
            n_rows += entry["_rows"]
            n_nulls += entry["total"]["nulls"]
            mins_t.append(entry["total"]["min"])
            maxs_t.append(entry["total"]["max"])
            mins_i.append(entry["id"]["min"])
            maxs_i.append(entry["id"]["max"])
    # The deleted row was the lexicographic min id; fold its id AND
    # its total back so the oracle can state the census without
    # modeling the victim — complete by construction even when the
    # victim happened to hold the min or max surviving total.
    mins_i.append(victim)
    mins_t.append(victim_total)
    maxs_t.append(victim_total)
    row_sql = (
        f"SELECT CAST({n_rows + 1} AS BIGINT) AS n_rows, "
        f"CAST({n_nulls} AS BIGINT) AS n_total_nulls, "
        f"round(CAST('{min(mins_t)!r}' AS DOUBLE), 2) AS min_total, "
        f"round(CAST('{max(maxs_t)!r}' AS DOUBLE), 2) AS max_total, "
        f"'{min(mins_i)}' AS min_id, "
        f"'{max(maxs_i)}' AS max_id"
    )
    return spark.sql(row_sql)


AO_SUBSET = 37  # timestamp-as-of e2e feeds only o_orderkey % 37 == 0


@query(
    "asof_timestamp_read_e2e",
    oracle=f"""
    SELECT o_orderstatus                 AS status,
           CAST(count(*) AS BIGINT)      AS n_orders,
           round(sum(o_totalprice), 2)   AS total_revenue
    FROM orders
    WHERE o_orderkey % {AO_SUBSET} = 0
    GROUP BY 1
    """,
)
def asof_timestamp_read_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TIMESTAMP AS OF`` under the oracle gate (Delta's second
    time-travel axis; ``time_travel_cdc`` proves ``VERSION AS OF``):
    two spools commit two versions, and the entry reads the table AT
    an instant strictly between their commit timestamps — the oracle
    states the PHASE-1 census (inserts only, no amendments, no
    deletes), so the read must resolve to version 1 by timestamp
    alone. A resolution to the head (amended statuses, missing
    deleted rows) or an off-by-one at the boundary flips counts.

    In-entry asserts pin the boundary semantics: an ``as_of_ts``
    exactly equal to a commit's timestamp resolves to THAT version
    (at-or-before is inclusive), and an instant before the first
    retained commit raises loudly rather than returning an empty
    frame.

    Scale: timestamp resolution is a scan of retained manifest JSONs
    (bounded by retention), then the ordinary snapshot read.
    """
    base = e2e_scratch_dir("cw_ao", sf_dir)
    wh_dir = os.path.join(base, "wh")

    feed1, feed2 = _build_two_phase_feeds(
        spark, sf_dir, os.path.join(base, "feeds"), AO_SUBSET
    )
    wh = Warehouse(spark, wh_dir, "aoorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed1)
    wh.spool(feed2)

    path = wh._table_path("_default")
    m1 = wh._load_manifest(path, version=1)
    m2 = wh._load_manifest(path, version=2)
    assert float(m2["ts"]) > float(m1["ts"]), (m1["ts"], m2["ts"])
    mid = (float(m1["ts"]) + float(m2["ts"])) / 2.0
    assert wh._version_at(path, mid) == 1
    assert wh._version_at(path, float(m2["ts"])) == 2, "at-or-before is inclusive"
    try:
        wh._version_at(path, float(m1["ts"]) - 1e6)
    except ValueError:
        pass  # loud failure before the first retained commit
    else:
        raise AssertionError("pre-history as_of_ts returned a version")

    return wh.table(as_of_ts=mid).groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
    )


FSCK_SUBSET = 41  # fsck e2e feeds only o_orderkey % 41 == 0


@query(
    "fsck_integrity_e2e",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % {AMEND} = 0 THEN 'amended'
                ELSE o_orderstatus END        AS status,
           CAST(count(*) AS BIGINT)           AS n_orders,
           round(sum(o_totalprice), 2)        AS total_revenue
    FROM orders
    WHERE o_orderkey % {FSCK_SUBSET} = 0 AND o_orderkey % {DELETE} <> 0
    GROUP BY 1
    """,
)
def fsck_integrity_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-integrity FSCK under the oracle gate (Delta's FSCK, read
    side): after a full insert+amend+tombstone spool the checker must
    certify all three invariants — every referenced part file exists,
    recorded id-range stats match the parquet footers, and every row
    hashes into the bucket directory it lives in — and it must
    DETECT damage: the entry moves one referenced part file aside
    (the classic lost-object failure after a botched manual cleanup
    or an eventually-consistent store), asserts fsck reports exactly
    that missing file with ``ok = false``, restores it, and asserts
    the report is clean again before the census crosses the oracle.
    A checker that misses a lost file — or one that false-positives
    on a healthy table — fails in-entry before any hash compare.

    Scale: checks (1)-(2) are manifest-bounded metadata reads; check
    (3) is one partial-aggregated bucket-recompute scan — the cost of
    a single census query, not a repair job.
    """
    base = e2e_scratch_dir("cw_fsck", sf_dir)
    wh_dir = os.path.join(base, "wh")
    feed_dir = os.path.join(base, "feed")

    _build_feed(spark, sf_dir, feed_dir, subset=FSCK_SUBSET)
    wh = Warehouse(spark, wh_dir, "fsckorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)

    (clean,) = wh.fsck().collect()
    assert clean["ok"] and clean["n_missing_files"] == 0, clean

    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    b, files = next(
        (b, fs) for b, fs in sorted(manifest["buckets"].items()) if fs
    )
    victim = os.path.join(path, f"_cw_bucket={b}", files[0])
    hidden = victim + ".hidden"
    os.rename(victim, hidden)
    try:
        (broken,) = wh.fsck().collect()
        assert not broken["ok"] and broken["n_missing_files"] == 1, broken
    finally:
        os.rename(hidden, victim)
    (healed,) = wh.fsck().collect()
    assert healed["ok"], healed

    return wh.table().groupBy("status").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(F.sum("total"), 2).alias("total_revenue"),
    )


MV_SUBSET = 43  # masked-view e2e feeds only o_orderkey % 43 == 0


@query(
    "masked_view_e2e",
    oracle=f"""
    WITH masked AS (
      SELECT o_orderstatus AS status,
             substring(sha256(CAST(o_custkey AS VARCHAR)), 1, 8) AS cust_mask,
             floor(o_totalprice / 100) * 100 AS total_bucket
      FROM orders WHERE o_orderkey % {MV_SUBSET} = 0
    )
    SELECT status,
           CAST(count(*) AS BIGINT)               AS n_rows,
           CAST(count(DISTINCT cust_mask) AS BIGINT) AS n_distinct_customers,
           round(sum(total_bucket), 2)            AS bucketed_revenue,
           min(cust_mask)                         AS first_mask
    FROM masked
    GROUP BY status
    """,
)
def masked_view_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side column masking under the oracle gate (Unity/Snowflake
    masking-policy semantics via ``create_masked_view``): analysts
    query the VIEW — customer ids replaced by an 8-hex sha2 digest,
    totals coarsened to 100-unit buckets, the rev column dropped —
    while the underlying table keeps raw values. The oracle states
    the masked census straight from ``orders`` (DuckDB's sha256 and
    Spark's sha2(·, 256) agree byte-for-byte on identical input
    strings), so a hash match certifies the masking expressions were
    applied per-read exactly as written: distinct-count preservation
    (a digest is injective on this key space), bucket sums, and the
    lexicographic first digest all cross engines.

    In-entry asserts: the raw table still exposes unmasked values
    (masking is a view, not a rewrite), the dropped column is absent
    from the view, and a policy naming an unknown column raises
    loudly rather than silently no-opping (the leak mode).

    Scale: masking is a per-read projection on the scan — zero
    storage cost, always reflecting the current version.
    """
    base = e2e_scratch_dir("cw_mv", sf_dir)
    wh_dir = os.path.join(base, "wh")
    feed_dir = os.path.join(base, "feed")

    _build_feed(spark, sf_dir, feed_dir, phase=1, subset=MV_SUBSET)
    wh = Warehouse(spark, wh_dir, "mvorders", reset=True, feed_schema=FEED_DOC_DDL)
    wh.spool(feed_dir)

    view_name = f"cw_masked_{sf_tag(sf_dir)}"
    mv = wh.create_masked_view(
        view_name,
        rules={
            # The frozen logical "number" type stores as DOUBLE —
            # route through bigint so the digest input is '123', not
            # '123.0', matching the oracle's VARCHAR cast of o_custkey.
            "customer_id": (
                "substring(sha2(cast(cast(customer_id as bigint) as string),"
                " 256), 1, 8)"
            ),
            # Spark floor() returns BIGINT; keep the column double
            # so sums cross the oracle's float lane.
            "total": "cast(floor(total / 100) * 100 as double)",
        },
        drop=["rev"],
    )
    assert "rev" not in mv.columns
    assert dict(mv.dtypes)["customer_id"] == "string"
    assert dict(wh.table().dtypes)["customer_id"] != "string", (
        "raw table must stay unmasked"
    )
    try:
        wh.create_masked_view("cw_bad_policy", rules={"no_such_col": "1"})
    except ValueError:
        pass  # unknown-column policies must fail loudly
    else:
        raise AssertionError("masking policy on unknown column silently passed")

    return spark.sql(
        f"""
        SELECT status,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT customer_id) AS BIGINT)
                 AS n_distinct_customers,
               round(sum(total), 2) AS bucketed_revenue,
               min(customer_id) AS first_mask
        FROM {view_name}
        GROUP BY status
        """
    )
