"""merge_into's metadata-only probes (round-12 optimization):

- the base-seq probe answers max(_cw_seq) from per-file parquet footer
  maxima over the manifest's snapshot (no Spark job, no state scan);
- the delete-count probe reads only files whose bucket hash AND
  recorded id range can hold a tombstoned id.

Both must be EXACT (not bounds): the stamped seq values land in the
merged state that oracle-gated e2e entries hash, so any drift from the
old scan-based probes would show up as a changed result.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import couchwarehouse_spark.warehouse as W
from couchwarehouse_spark.operators.upsert import SEQ_COL
from couchwarehouse_spark.warehouse import Warehouse


def _scan_max_seq(wh: Warehouse, doc_type: str = "_default") -> int:
    path = wh._table_path(doc_type)
    row = wh._read_state(path).agg(F.max(SEQ_COL).alias("m")).collect()[0]
    return int(row["m"] or 0)


def _frame(spark, rows):
    return spark.createDataFrame(rows, "id string, total double")


def test_seq_probe_matches_scan_and_uses_footers(spark, tmp_path):
    """Footer-derived max == scan-derived max after several merges,
    and the probe actually populates the per-file footer cache (i.e.
    it took the metadata path, not the scan fallback)."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "db", n_buckets=4)
    wh.merge_into(_frame(spark, [("a", 1.0), ("b", 2.0), ("c", 3.0)]))
    wh.merge_into(_frame(spark, [("b", 4.0)]))
    wh.merge_into(_frame(spark, [("d", 5.0)]))

    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    probed = wh._state_max_seq(path, manifest)
    assert probed == _scan_max_seq(wh) == 3
    # Every current file's footer max is cached — the metadata path ran.
    files = set(wh._manifest_files(path, manifest))
    assert files <= set(wh._seq_stat_cache)
    assert all(wh._seq_stat_cache[fp] is not None for fp in files)


def test_seq_probe_exact_after_deleting_the_max_row(spark, tmp_path):
    """delete_where can remove the row carrying the global max seq;
    the probe must return the SURVIVORS' max (manifest lists only
    current files, and the touched bucket was rewritten), so the next
    merge stamps exactly scan_max + 1 — not a stale upper bound."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "db", n_buckets=2)
    wh.merge_into(_frame(spark, [("a", 1.0), ("b", 2.0)]))   # seq 1
    wh.merge_into(_frame(spark, [("b", 9.0)]))                # b now seq 2 = max
    wh.delete_where(F.col("id") == "b")

    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    assert wh._state_max_seq(path, manifest) == _scan_max_seq(wh) == 1

    wh.merge_into(_frame(spark, [("c", 7.0)]))                # must stamp seq 2
    state = wh._read_state(path)
    assert state.filter("id = 'c'").select(SEQ_COL).collect()[0][0] == 2


def test_seq_probe_scan_fallback_when_footer_stats_absent(spark, tmp_path):
    """A file without usable footer statistics falls back to ONE scan
    of just that file — same exact answer."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "db", n_buckets=2)
    wh.merge_into(_frame(spark, [("a", 1.0), ("b", 2.0)]))
    wh.merge_into(_frame(spark, [("a", 3.0)]))

    path = wh._table_path("_default")
    manifest = wh._load_manifest(path)
    orig = W._parquet_range
    try:
        W._parquet_range = lambda fp, col: None  # simulate stat-less files
        wh._seq_stat_cache.clear()
        assert wh._state_max_seq(path, manifest) == _scan_max_seq(wh) == 2
    finally:
        W._parquet_range = orig


def test_delete_count_pruned_probe_is_exact(spark, tmp_path):
    """merge_into(delete_col=...) counts applied deletes against the
    pre-merge state through the (bucket, id-range) metadata prune:
    existing ids count, absent ids are no-ops, and the final applied
    total matches the unpruned semantics."""
    wh = Warehouse(spark, str(tmp_path / "wh"), "db", n_buckets=4)
    base = [(f"doc{i:03d}", float(i)) for i in range(40)]
    assert wh.merge_into(_frame(spark, base)) == 40

    inc = spark.createDataFrame(
        [
            ("doc001", 0.0, True),    # delete, exists  -> counts
            ("doc007", 0.0, True),    # delete, exists  -> counts
            ("zzz999", 0.0, True),    # delete, absent  -> no-op
            ("doc002", 99.0, False),  # upsert          -> counts
            ("new100", 1.0, False),   # insert          -> counts
        ],
        "id string, total double, gone boolean",
    )
    assert wh.merge_into(inc, delete_col="gone") == 4  # 2 live + 2 matched dels

    state = wh.table()
    ids = {r["id"] for r in state.select("id").collect()}
    assert "doc001" not in ids and "doc007" not in ids and "zzz999" not in ids
    assert "new100" in ids
    assert state.filter("id = 'doc002'").collect()[0]["total"] == 99.0


def test_delete_count_footer_fallback_without_manifest_stats(spark, tmp_path):
    """A manifest with no recorded id ranges (stats map emptied) still
    counts deletes exactly: files with no recorded range are read."""
    import json as _json

    wh = Warehouse(spark, str(tmp_path / "wh"), "db", n_buckets=2)
    wh.merge_into(_frame(spark, [("a", 1.0), ("b", 2.0), ("c", 3.0)]))

    path = wh._table_path("_default")
    version = wh._load_manifest(path)["version"]
    mf = wh._manifest_file(path, version)
    manifest = _json.load(open(mf))
    manifest["stats"] = {}
    with open(mf, "w") as f:
        _json.dump(manifest, f)

    inc = spark.createDataFrame(
        [("a", 0.0, True), ("nope", 0.0, True)],
        "id string, total double, gone boolean",
    )
    assert wh.merge_into(inc, delete_col="gone") == 1
    assert {r["id"] for r in wh.table().select("id").collect()} == {"b", "c"}
