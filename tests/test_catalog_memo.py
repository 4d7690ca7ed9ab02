"""The load_table scan-relation memo (r13 optimization): repeated
loads of an UNCHANGED table reuse the lazy relation (no file listing /
footer schema inference per call), while a REWRITTEN table re-resolves
— and nothing is ever persisted by the catalog."""

from __future__ import annotations

import pyspark.sql.functions as F

from couchwarehouse_spark.catalog import load_table


def test_memo_reuses_handle_and_stays_lazy(spark, sf_dir):
    a = load_table(spark, sf_dir, "documents")
    b = load_table(spark, sf_dir, "documents")
    assert a is b, "unchanged table must hit the memo"
    # Lazy handle only: the catalog must never persist base tables
    # (at 100 TB you never blanket-cache them; bench timing integrity
    # also depends on it).
    sl = a.storageLevel
    assert not (sl.useMemory or sl.useDisk), sl


def test_memo_invalidates_on_rewrite(spark, tmp_path):
    d = str(tmp_path)
    p = f"{d}/documents.parquet"
    spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit("a").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("s1").alias("source"),
    ).write.mode("overwrite").parquet(p)
    first = load_table(spark, d, "documents")
    assert first.count() == 3
    assert load_table(spark, d, "documents") is first
    # Rewrite in place (what unit fixtures do): the memo must notice
    # the changed stat fingerprint and serve a fresh relation.
    spark.range(5).select(
        F.col("id").alias("doc_id"),
        F.lit("b").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("s2").alias("source"),
    ).write.mode("overwrite").parquet(p)
    again = load_table(spark, d, "documents")
    assert again is not first
    assert again.count() == 5


def test_memo_invalidates_on_nested_rewrite(spark, tmp_path):
    """A partitioned table: a part file rewritten in place one level
    down (``lang=en/``) leaves every entry of the table directory
    unchanged, and the memo must still miss."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    part = tmp_path / "documents.parquet" / "lang=en" / "part-0.parquet"
    part.parent.mkdir(parents=True)

    def write(n):
        pq.write_table(
            pa.table(
                {
                    "doc_id": list(range(n)),
                    "text": ["a"] * n,
                    "source": ["s"] * n,
                }
            ),
            str(part),
        )

    write(3)
    first = load_table(spark, d, "documents")
    assert first.count() == 3
    assert load_table(spark, d, "documents") is first
    top = sorted(p.name for p in (tmp_path / "documents.parquet").iterdir())
    write(7)  # same file name, same directory entries, new bytes
    assert sorted(p.name for p in (tmp_path / "documents.parquet").iterdir()) == top
    again = load_table(spark, d, "documents")
    assert again is not first
    assert again.count() == 7
