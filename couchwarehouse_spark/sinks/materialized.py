"""Incrementally-maintained materialized aggregates over warehouse
tables (CREATE MATERIALIZED VIEW parity — the warehouse-level
integration of the delta math the ``incremental_agg_maintenance``
query entry certifies under the oracle gate).

A follower (see ``Warehouse.followers``) maintains a per-group
``sum(value), count(*)`` aggregate across merges WITHOUT rescanning
the table: per batch it retracts the touched keys' OLD contributions
(read from the pre-merge snapshot via manifest time travel — the
retraction stream classic incremental view maintenance requires) and
adds their NEW contributions (read from the post-merge snapshot), so
per-batch MV work is O(batch), not O(table). The MV state itself is
versioned alongside the table (``_mv/<table>/<name>/v<N>``), so a
reader always sees a complete snapshot and a crashed refresh leaves
the previous MV intact — the same commit discipline as the table's
manifests, at aggregate (tiny) scale.

If the MV ever lags the table by a version that changed rows (follower
detached, crash between table commit and MV write, an out-of-band
delete/update/restore), the next refresh detects the gap and falls
back to ONE full recompute — correctness never depends on an unbroken
incremental chain. Versions that leave rows unchanged
(``Warehouse.ROWS_UNCHANGED_OPS``) keep the chain intact.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mv_dir(wh, doc_type: str, name: str) -> str:
    return os.path.join(wh.warehouse_dir, "_mv", wh.table_name(doc_type), name)


def _mv_versions(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    out = []
    for fn in os.listdir(path):
        if fn.startswith("v"):
            try:
                out.append(int(fn[1:]))
            except ValueError:
                continue
    return sorted(out)


def read_mv(wh, name: str, doc_type: str = "_default") -> DataFrame:
    """The materialized aggregate's current snapshot (group_col,
    mv_sum, mv_count)."""
    path = _mv_dir(wh, doc_type, name)
    versions = _mv_versions(path)
    if not versions:
        raise ValueError(f"no materialized view {name!r} for {doc_type!r}")
    return wh.spark.read.parquet(os.path.join(path, f"v{versions[-1]}"))


def sum_count_mv_follower(name: str, group_col: str, value_col: str):
    """Follower maintaining ``group_col → (sum(value), count)``.

    Attach via ``Warehouse(..., followers=[sum_count_mv_follower(
    "rev_by_status", "status", "total")])`` — refreshed after every
    merged micro-batch with the SAME conformed frame the merge
    applied.
    """

    def follower(wh, doc_type, conformed: DataFrame, tombstones: DataFrame, cur: int, seq):
        mv_path = _mv_dir(wh, doc_type, name)
        mv_versions = _mv_versions(mv_path)

        def agg_of(df: DataFrame) -> DataFrame:
            return df.groupBy(group_col).agg(
                F.sum(value_col).alias("mv_sum"),
                F.count("*").alias("mv_count"),
            )

        prev = mv_versions[-1] if mv_versions else None
        if prev is None or not wh.rows_unchanged(doc_type, prev, cur - 1):
            # Bootstrap, or a broken chain — a missed merge, a vacuumed
            # base version (no time travel for the retraction read), or
            # an out-of-band delete/update/restore of rows this batch's
            # keys don't cover: ONE full recompute.
            out = agg_of(wh.table(doc_type=doc_type))
        else:
            prev_mv = wh.spark.read.parquet(os.path.join(mv_path, f"v{prev}"))
            keys = (
                conformed.select("id")
                .unionByName(tombstones.select("id"))
                .distinct()
            )
            # Retraction stream: the touched keys' contributions AS OF
            # the MV's base version (manifest time travel) come off;
            # their post-merge contributions go on. Both sides are
            # batch-keyed semi-joins — the table is never rescanned.
            old_c = agg_of(
                wh.table(version=prev, doc_type=doc_type).join(
                    keys, "id", "left_semi"
                )
            ).select(
                group_col,
                F.col("mv_sum").alias("_old_sum"),
                F.col("mv_count").alias("_old_n"),
            )
            new_c = agg_of(
                wh.table(version=cur, doc_type=doc_type).join(keys, "id", "left_semi")
            ).select(
                group_col,
                F.col("mv_sum").alias("_new_sum"),
                F.col("mv_count").alias("_new_n"),
            )
            out = (
                prev_mv.join(old_c, group_col, "full_outer")
                .join(new_c, group_col, "full_outer")
                .select(
                    group_col,
                    (
                        F.coalesce("mv_sum", F.lit(0.0))
                        - F.coalesce("_old_sum", F.lit(0.0))
                        + F.coalesce("_new_sum", F.lit(0.0))
                    ).alias("mv_sum"),
                    (
                        F.coalesce("mv_count", F.lit(0))
                        - F.coalesce("_old_n", F.lit(0))
                        + F.coalesce("_new_n", F.lit(0))
                    ).alias("mv_count"),
                )
                .filter(F.col("mv_count") > 0)
            )
        target = os.path.join(mv_path, f"v{cur}")
        out.write.mode("overwrite").parquet(target)
        # Retire superseded MV snapshots (each is aggregate-sized, but
        # an unattended monitor shouldn't accumulate them unboundedly).
        for v in _mv_versions(mv_path):
            if v < cur - 1:
                shutil.rmtree(
                    os.path.join(mv_path, f"v{v}"), ignore_errors=True
                )

    return follower
