"""What the merge's one batch collect must hold, through both ingest
lanes (``Warehouse.spool`` and ``Warehouse.start``).

The merge collects the conformed batch and does the rest on the
driver, so its keys, its dead set and its part files come only from
the rows that pass the selector and the CHECK constraints, typed by
the frozen schema. Checked here: a selector on a field no doc of the
batch carries, a selector or a CHECK that rejects an update of a
stored id, and docs whose values conflict with the frozen type.
"""

from __future__ import annotations

import random

import pytest

from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import envelope, order_doc, product_doc, user_doc
from .test_streaming import _write_feed_page

LANES = ["spool", "start"]


def _run(wh: Warehouse, lane: str, feed_dir: str) -> None:
    """Apply what the landing dir holds beyond the lane's resume point."""
    getattr(wh, lane)(feed_dir)


def _dead(wh: Warehouse, doc_type: str = "_default") -> set[str]:
    manifest = wh._load_manifest(wh._table_path(doc_type))
    return {k for keys in wh._dead(manifest).values() for k in keys}


@pytest.mark.parametrize("lane", LANES)
def test_selector_field_no_doc_of_the_batch_carries(spark, tmp_path, lane):
    """``{"currency": {"$ne": "USD"}}`` over a page of product and user
    docs, none with ``currency``, plus an order tombstone that fans out
    to the order table: the missing field reads as NULL (``$ne``
    includes it), nothing raises, the tombstone deletes the stored
    order, and the helper column is never adopted by evolution."""
    rng = random.Random(81)
    feed_dir = str(tmp_path / "feed")
    orders = [order_doc(i, rng) for i in range(6)]  # currency GBP/USD/EUR by i % 3
    _write_feed_page(feed_dir, "p0.json", [envelope(i + 1, d) for i, d in enumerate(orders)])
    wh = Warehouse(
        spark,
        str(tmp_path / "wh"),
        "sel",
        split="type",
        selector={"currency": {"$ne": "USD"}},
        evolve_schema=True,
    )
    _run(wh, lane, feed_dir)
    assert sorted(r["id"] for r in wh.table("order").collect()) == [
        "order00000", "order00002", "order00003", "order00005"
    ]

    others = [product_doc(i, rng) for i in range(3)] + [user_doc(i, rng) for i in range(2)]
    _write_feed_page(
        feed_dir,
        "p1.json",
        [envelope(10 + i, d) for i, d in enumerate(others)]
        + [envelope(20, None, doc_id="order00003", deleted=True)],
    )
    _run(wh, lane, feed_dir)
    _write_feed_page(feed_dir, "p2.json", [envelope(30, product_doc(7, rng))])
    _run(wh, lane, feed_dir)

    assert sorted(r["id"] for r in wh.table("order").collect()) == [
        "order00000", "order00002", "order00005"
    ]
    assert sorted(r["id"] for r in wh.table("product").collect()) == ["A0", "A1", "A2", "A7"]
    assert wh.table("user").count() == 2
    assert "currency" not in wh.schemas["product"]
    assert "currency" not in wh.table("product").columns


@pytest.mark.parametrize("lane", LANES)
def test_selector_rejected_update_leaves_the_stored_row_live(spark, tmp_path, lane):
    """An update of a stored id that the selector rejects never reaches
    the merge: the stored version is not marked dead, and both
    ``lookup`` and ``table`` still return it."""
    rng = random.Random(82)
    feed_dir = str(tmp_path / "feed")
    docs = [order_doc(i, rng, extra={"status": "paid"}) for i in range(4)]
    _write_feed_page(feed_dir, "p0.json", [envelope(i + 1, d) for i, d in enumerate(docs)])
    wh = Warehouse(spark, str(tmp_path / "wh"), "rej", selector={"status": {"$ne": "cancelled"}})
    _run(wh, lane, feed_dir)

    _write_feed_page(feed_dir, "p1.json", [
        envelope(10, dict(docs[1], status="cancelled", _rev="2-x")),
        envelope(11, dict(docs[2], status="dispatched", _rev="2-y")),
    ])
    _run(wh, lane, feed_dir)

    dead = _dead(wh)
    assert "2:order00001" not in dead
    assert "3:order00002" in dead
    assert [r["status"] for r in wh.lookup("order00001").collect()] == ["paid"]
    got = {r["id"]: r["status"] for r in wh.table().collect()}
    assert got == {
        "order00000": "paid", "order00001": "paid", "order00002": "dispatched", "order00003": "paid"
    }


@pytest.mark.parametrize("lane", LANES)
def test_quarantined_update_leaves_the_stored_row_live(spark, tmp_path, lane):
    """Under ``constraint_mode="quarantine"`` an update that fails a
    CHECK is diverted, and the stored version it would have replaced
    stays live: not in the dead set, returned by ``lookup``."""
    rng = random.Random(83)
    feed_dir = str(tmp_path / "feed")
    docs = [order_doc(i, rng) for i in range(4)]
    _write_feed_page(feed_dir, "p0.json", [envelope(i + 1, d) for i, d in enumerate(docs)])
    wh = Warehouse(spark, str(tmp_path / "wh"), "quar", constraint_mode="quarantine")
    _run(wh, lane, feed_dir)
    wh.add_constraint("total_positive", "total > 0")

    _write_feed_page(feed_dir, "p1.json", [
        envelope(10, dict(docs[1], total=-5.0, _rev="2-x")),
        envelope(11, dict(docs[2], total=7.0, _rev="2-y")),
    ])
    _run(wh, lane, feed_dir)

    dead = _dead(wh)
    assert "2:order00001" not in dead
    assert "3:order00002" in dead
    assert [r["total"] for r in wh.lookup("order00001").collect()] == [docs[1]["total"]]
    assert [r["total"] for r in wh.lookup("order00002").collect()] == [7.0]
    assert [r["id"] for r in wh.quarantined().collect()] == ["order00001"]
    assert wh.table().count() == 4


@pytest.mark.parametrize("lane", LANES)
def test_values_that_conflict_with_the_frozen_type(spark, tmp_path, lane):
    """The conform output for docs whose values conflict with the
    frozen type: a string in a number field reads as its number when it
    parses and as NULL when it doesn't; a number in a string field
    reads as its text — in a page where other docs agree with the
    frozen type and in a page of its own."""
    rng = random.Random(84)
    feed_dir = str(tmp_path / "feed")
    docs = [order_doc(i, rng) for i in range(5)]
    _write_feed_page(feed_dir, "p0.json", [envelope(i + 1, d) for i, d in enumerate(docs)])
    wh = Warehouse(spark, str(tmp_path / "wh"), "conflict")
    _run(wh, lane, feed_dir)
    assert (wh.schemas["_default"]["total"], wh.schemas["_default"]["status"]) == ("number", "string")

    _write_feed_page(feed_dir, "p1.json", [
        envelope(10, dict(docs[0], total="abc", _rev="2-a")),
        envelope(11, dict(docs[1], total="12.5", _rev="2-b")),
        envelope(12, dict(docs[2], status=42, _rev="2-c")),
        envelope(13, dict(docs[3], total=31.25, status="paid", _rev="2-d")),
    ])
    _run(wh, lane, feed_dir)
    _write_feed_page(feed_dir, "p2.json", [
        envelope(20, dict(docs[4], total="99", status=7, _rev="2-e")),
    ])
    _run(wh, lane, feed_dir)

    want = {
        "order00000": (None, docs[0]["status"]),
        "order00001": (12.5, docs[1]["status"]),
        "order00002": (docs[2]["total"], "42"),
        "order00003": (31.25, "paid"),
        "order00004": (99.0, "7"),
    }
    got = {r["id"]: (r["total"], r["status"]) for r in wh.table().collect()}
    assert got == want
    for doc_id, row in want.items():
        assert [(r["total"], r["status"]) for r in wh.lookup(doc_id).collect()] == [row]
    assert dict(wh.table().dtypes)["total"] == "double"
    assert dict(wh.table().dtypes)["status"] == "string"
