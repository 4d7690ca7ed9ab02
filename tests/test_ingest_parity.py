"""The batch spool and the stream share one driver-side batch parse
(``sources.changes.parse_page``): the same landing dir gives the same
warehouse through ``Warehouse.spool`` and ``Warehouse.start``, with or
without the ``doc_transform`` and ``feed_schema`` hooks; a spooled page
submits no Spark job and a streamed one only its ``toArrow``.
"""

from __future__ import annotations

import gc
import os
import random

import pytest

from couchwarehouse_spark.sources.changes import ENVELOPE_SCHEMA
from couchwarehouse_spark.streaming import ingest
from couchwarehouse_spark.streaming.progress import sync_lag
from couchwarehouse_spark.warehouse import Warehouse

from .fixtures import envelope, jobs_run_by, order_doc, product_doc, user_doc
from .test_streaming import _write_feed_page


def _orders(n: int, seed: int) -> list[dict]:
    rng = random.Random(seed)
    return [order_doc(i, rng) for i in range(n)]


def _plain_pages():
    docs = _orders(8, 71)
    return [
        [envelope(i + 1, d) for i, d in enumerate(docs)],
        [
            envelope(9, dict(docs[0], status="updated", _rev="2-zz")),
            envelope(10, None, doc_id=docs[3]["_id"], deleted=True),
            envelope(11, _orders(9, 72)[8]),
        ],
    ]


def _mixed_pages():
    rng = random.Random(73)
    docs = (
        [order_doc(i, rng) for i in range(8)]
        + [product_doc(i, rng) for i in range(4)]
        + [user_doc(i, rng) for i in range(3)]
    )
    return [
        [envelope(i + 1, d) for i, d in enumerate(docs[:10])],
        [envelope(i + 11, d) for i, d in enumerate(docs[10:])]
        + [envelope(20, None, doc_id=docs[1]["_id"], deleted=True)],
    ]


def _tombstone_page():
    docs = _orders(6, 74)
    return [
        [envelope(i + 1, d) for i, d in enumerate(docs)],
        [envelope(7 + i, None, doc_id=docs[i]["_id"], deleted=True) for i in (1, 4)],
    ]


def _evolve_pages():
    """A field carried by a first-page doc only: a resumed spool whose
    doc parse saw the first page too would evolve it into a column."""
    docs = _orders(3, 76)
    return [
        [envelope(1, docs[0]), envelope(2, dict(docs[1], promo="P1"))],
        [envelope(3, docs[2])],
    ]


def _tag(doc: dict) -> dict:
    return {**doc, "tag": doc["_id"][-2:], "customerEmail": doc.get("customerEmail", "").upper()}


CASES = {
    "plain": (_plain_pages, {}),
    "doc_transform": (_plain_pages, {"doc_transform": _tag}),
    "feed_schema": (
        _plain_pages,
        {"feed_schema": "_id string, _rev string, status string, total double, basket string"},
    ),
    "split_selector": (
        _mixed_pages,
        {"split": "type", "selector": {"name": {"$ne": "prod2"}}},
    ),
    "tombstone_page": (_tombstone_page, {}),
    "evolve_resume": (_evolve_pages, {"evolve_schema": True}),
    "empty": (lambda: [[], []], {}),
}


def _state(wh: Warehouse) -> dict:
    tables = {}
    for doc_type in sorted(wh.schemas):
        df = wh.table(doc_type)
        tables[doc_type] = (df.columns, sorted(map(repr, df.collect())))
    return {
        "tables": tables,
        "schemas": wh.schemas,
        "checkpoint": wh.checkpoints.read(wh.db_name),
    }


@pytest.mark.parametrize("case", list(CASES))
def test_spool_and_stream_give_the_same_warehouse(spark, tmp_path, case):
    """Two pages landed one at a time, each followed by a ``spool``
    of the landing dir on one warehouse and a ``start`` on another:
    after each page both hold the same rows, columns, schemas and
    checkpoint. The second ``start`` resumes from its stream offsets,
    so a tombstone-only page is a micro-batch of its own."""
    make_pages, kwargs = CASES[case]
    feed_dir = str(tmp_path / "feed")
    os.makedirs(feed_dir)
    spooled = Warehouse(spark, str(tmp_path / "spooled"), "par", **kwargs)
    streamed = Warehouse(spark, str(tmp_path / "streamed"), "par", **kwargs)
    for n, page in enumerate(make_pages()):
        if page:
            _write_feed_page(feed_dir, f"page{n}.json", page)
        spooled.spool(feed_dir)
        streamed.start(feed_dir)
        assert _state(spooled) == _state(streamed), f"after page {n}"
    state = _state(streamed)
    if case == "empty":
        assert state == {"tables": {}, "schemas": {}, "checkpoint": None}
        return
    assert all(rows for _, rows in state["tables"].values())
    columns = state["tables"][sorted(state["tables"])[0]][0]
    if case == "doc_transform":
        assert "tag" in columns
    if case == "evolve_resume":
        assert "promo" not in columns
    if case == "feed_schema":
        assert "customerEmail" not in columns and "total" in columns


def _int_seq_feed(feed_dir: str) -> None:
    """A CouchDB 1.x feed: integer seqs."""
    docs = _orders(3, 75)
    _write_feed_page(feed_dir, "p.json", [
        {"seq": i + 1, "id": d["_id"], "changes": [{"rev": d["_rev"]}], "doc": d}
        for i, d in enumerate(docs)
    ])


def test_integer_seqs_resume(spark, tmp_path):
    """Integer seqs are read as seq tokens: a second spool of the same
    feed applies nothing and raises nothing, the stream leaves the
    same checkpoint, and ``sync_lag`` reads it."""
    feed_dir = str(tmp_path / "feed")
    _int_seq_feed(feed_dir)
    spooled = Warehouse(spark, str(tmp_path / "spooled"), "intseq")
    assert spooled.spool(feed_dir) == "3"
    head = spooled._load_manifest(spooled._table_path("_default"))["version"]
    assert spooled.spool(feed_dir) is None
    assert spooled._load_manifest(spooled._table_path("_default"))["version"] == head
    assert spooled.checkpoints.read("intseq") == "3"

    streamed = Warehouse(spark, str(tmp_path / "streamed"), "intseq")
    assert streamed.start(feed_dir) == "3"
    assert sync_lag(spark, feed_dir, spooled) == (3, 3)
    assert sync_lag(spark, feed_dir, streamed) == (3, 3)
    assert sorted(map(repr, streamed.table().collect())) == sorted(
        map(repr, spooled.table().collect())
    )


ORDER_FEED_DDL = (
    "_id string, _rev string, status string, total double, priority string, "
    "date string, customer struct<id: bigint, nation: bigint>, lines bigint"
)


@pytest.mark.parametrize(
    "feed_schema, want_jobs", [(None, 1), (ORDER_FEED_DDL, 1)], ids=["inferred", "feed_schema"]
)
def test_stream_batch_job_count(spark, tmp_path, feed_schema, want_jobs):
    """The stream's batch body on a 1 000-change page against a
    3 000-doc preload: the ``toArrow`` of its envelopes, and nothing
    else — the parse, inference, conform and merge run on the driver."""
    from perfbench import gen

    pre = gen.orders_feed(1, 3000)
    pages = gen.sync_pages(1, pre, 1, 1000)
    pre_path = str(tmp_path / "preload.jsonl")
    gen.write_lines(pre_path, pre.lines)
    gen.stage_pages(pages.pages, str(tmp_path / "stage"), str(tmp_path / "feed"))
    wh = Warehouse(spark, str(tmp_path / "wh"), "orders", feed_schema=feed_schema)
    wh.spool(pre_path)

    batch = spark.read.schema(ENVELOPE_SCHEMA).json(str(tmp_path / "feed"))
    _, n_jobs = jobs_run_by(spark, f"stream-batch-{feed_schema is None}", lambda: ingest._sync_batch(wh, batch))
    assert n_jobs == want_jobs
    assert wh.checkpoints.read("orders") == pages.last_seq
    assert wh.table().count() == len(pages.expected)


def test_cold_spool_job_count(spark, tmp_path):
    """A cold spool of a 3 000-doc feed submits no Spark job: the lines
    are read, parsed, inferred, frozen, conformed and merged on the
    driver."""
    from perfbench import gen

    pre = gen.orders_feed(1, 3000)
    pre_path = str(tmp_path / "preload.jsonl")
    gen.write_lines(pre_path, pre.lines)
    wh = Warehouse(spark, str(tmp_path / "wh"), "orders")
    last, n_jobs = jobs_run_by(spark, "cold-spool", lambda: wh.spool(pre_path))
    assert n_jobs == 0
    assert last == f"{pre.last_seq}-g"
    assert wh.table().count() == 3000


def test_spooled_page_py4j_round_trips(spark, tmp_path, monkeypatch):
    """A spooled 1 000-change page over a 3 000-doc preload makes at
    most 100 py4j round trips (1 332 when the page was parsed and
    merged through Spark): what is left is ``register_view``'s
    DataFrame for the new version."""
    from perfbench import gen

    pre = gen.orders_feed(1, 3000)
    pages = gen.sync_pages(1, pre, 1, 1000)
    pre_path, page_path = str(tmp_path / "preload.jsonl"), str(tmp_path / "page.jsonl")
    gen.write_lines(pre_path, pre.lines)
    gen.write_lines(page_path, pre.lines + pages.pages[0])
    wh = Warehouse(spark, str(tmp_path / "wh"), "orders")
    wh.spool(pre_path)

    client = spark.sparkContext._gateway._gateway_client
    sent = []
    send = client.send_command

    def counting(command, *args, **kwargs):
        # Memory commands release JVM objects that Python garbage
        # collection let go, whichever earlier code made them.
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    gc.collect()
    monkeypatch.setattr(client, "send_command", counting)
    assert wh.spool(page_path) == pages.last_seq
    monkeypatch.undo()
    assert 0 < len(sent) <= 100, len(sent)
    assert wh.table().count() == len(pages.expected)


@pytest.mark.parametrize("lane", ["spool", "start"])
def test_split_evolve_adopts_only_the_types_own_fields(spark, tmp_path, lane):
    """Under ``split`` + ``evolve_schema``, two pages that mix order and
    product docs leave each table with its own docs' fields only: a
    type's schema is inferred from that type's docs, not the page's."""
    feed_dir = str(tmp_path / "feed")
    rng = random.Random(77)
    wh = Warehouse(spark, str(tmp_path / "wh"), "evo", split="type", evolve_schema=True)
    for n in range(2):
        _write_feed_page(feed_dir, f"p{n}.json", [
            envelope(2 * n + 1, order_doc(n, rng)),
            envelope(2 * n + 2, product_doc(n, rng)),
        ])
        getattr(wh, lane)(feed_dir)
    product = {"id", "rev"} | set(product_doc(0, rng)) - {"_id", "_rev"}
    assert set(wh.schemas["product"]) == product
    assert set(wh.table("product").columns) == product
    assert "currency" in wh.schemas["order"] and "price" not in wh.schemas["order"]
