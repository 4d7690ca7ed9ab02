"""Golden ingest data: seeded hypothesis feeds, and what a warehouse
holds after spooling them page by page.

``python tests/golden_ingest.py --record tests/golden/ingest_golden.json``
draws the feeds (hypothesis, seeded per scenario, so one hypothesis
version always draws the same ones), spools each scenario's pages into a fresh
warehouse with whichever ``couchwarehouse_spark`` is importable, and
writes the feeds together with the states it saw. The committed file
was recorded with the Spark ingest lane that preceded the driver-side
one (JSON inference, ``from_json``, the DataFrame flatten and conform);
``tests/test_ingest_golden.py`` replays the same pages through the
current code and compares.

Each state holds, per table: the columns with their Spark types, every
row, the ``lookup`` rows of a few ids, and the warehouse's
``_schemas.json`` and checkpoint; a scenario with a CHECK constraint in
quarantine mode adds the quarantined rows, one with a sqlite follower
the mirrored rows. Floats are written with ``repr``, so the comparison
is exact.

The feeds cover nested objects, arrays (of scalars, of objects, mixed,
empty), type conflicts within a page and across pages, NULLs,
tombstones (with and without a doc body), design docs, malformed lines,
``split`` with a selector, ``feed_schema``, ``doc_transform``,
``evolve_schema``, a CHECK constraint and a sqlite follower. Numbers
stay below 1e12 in magnitude: text written for larger doubles depends
on the JVM's ``Double.toString``, which before JDK 19 is not always the
shortest round-trip form.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import sys
import tempfile

SCENARIOS = {
    "plain": {},
    "evolve": {"evolve_schema": True},
    "split_selector": {
        "split": "type",
        "selector": {"$or": [{"status": {"$ne": "cancelled"}}, {"price": {"$gt": 5}}]},
    },
    "split_evolve": {"split": "type", "evolve_schema": True},
    "feed_schema": {
        "feed_schema": (
            "_id string, _rev string, status string, total double, qty bigint, "
            "flag boolean, meta struct<a: bigint, b: struct<c: string>>, tags array<string>"
        )
    },
    "doc_transform": {"doc_transform": "tag"},
    "constraint_follower": {
        "constraint_mode": "quarantine",
        "constraint": ("total_nonneg", "try_cast(total AS DOUBLE) >= 0"),
        "follower": True,
    },
}
# Scenarios whose ``split`` routes by ``type``: their docs come from the
# per-type pools below, so no two types carry one field with two types,
# and a doc with no ``type`` carries only a field no typed doc has. A
# type's column types are then the same whether inferred from the
# type's docs or from the whole page; ``split_evolve`` shows where the
# two differ: the fields evolution adopts.
SPLIT_SCENARIOS = {"split_selector", "split_evolve"}
PAGES = 3
LOOKUPS = 3
MALFORMED = ["THIS IS NOT JSON {{{", '{"seq":"999-x"', "[1, 2", '{"id": }']


def tag_transform(doc: dict) -> dict:
    """The ``doc_transform`` scenario's per-doc hook: adds a field,
    rewrites one and drops one."""
    out = {k: v for k, v in doc.items() if k != "note"}
    out["tagged"] = str(doc.get("_id", ""))[-2:]
    if isinstance(doc.get("status"), str):
        out["status"] = doc["status"].upper()
    return out


def _strategies():
    from hypothesis import strategies as st

    text = st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=6
    )
    small = st.floats(min_value=-1e12, max_value=1e12, allow_nan=False).filter(
        lambda x: x == 0 or abs(x) > 1e-200
    )
    ints = st.integers(min_value=-(10**12), max_value=10**12)
    scalar = st.one_of(st.none(), st.booleans(), ints, small, text, st.just(12345678901234567890123))
    total = st.one_of(small, small, ints, st.sampled_from(["12.5", "abc", " 7 ", "1e3", "NaN"]), st.none(), st.booleans())
    status = st.one_of(st.sampled_from(["paid", "cancelled", "dispatched"]), st.sampled_from(["paid", "cancelled"]), ints)
    qty = st.one_of(ints, ints, small)
    flag = st.one_of(st.booleans(), st.booleans(), st.sampled_from(["yes", "1", "n", "maybe"]))
    meta = st.one_of(
        st.fixed_dictionaries({"a": ints}, optional={"b": st.fixed_dictionaries({}, optional={"c": text, "d": small})}),
        st.fixed_dictionaries({"a": ints}),
        scalar,
    )
    tags = st.one_of(st.lists(text, max_size=3), st.lists(st.one_of(ints, small), max_size=3), st.lists(scalar, max_size=3), st.none())
    items = st.lists(st.fixed_dictionaries({"sku": text}, optional={"n": ints, "price": small}), max_size=3)
    common = {"status": status, "total": total, "qty": qty, "flag": flag, "meta": meta, "tags": tags, "items": items, "note": st.one_of(text, st.none()), "extra_field": scalar}
    per_type = {
        "order": {"status": status, "total": total, "basket": items, "address": st.fixed_dictionaries({"town": text}, optional={"zip": ints})},
        "product": {"name": text, "price": small, "stock": ints, "tags": st.lists(text, max_size=3)},
        "user": {"name": text, "email": text, "active": st.booleans(), "visits": st.lists(ints, max_size=3)},
    }
    return st, common, per_type


def _draw_doc(data, st, pool: dict, doc_id: str, rev: str, extra: dict, full: bool = False) -> dict:
    keys = data.draw(st.lists(st.sampled_from(sorted(pool)), min_size=len(pool) if full else 3, max_size=len(pool), unique=True))
    doc = {"_id": doc_id, "_rev": rev, **extra}
    for k in keys:
        doc[k] = data.draw(pool[k])
    return doc


def draw_pages(data, split: bool) -> list[list[str]]:
    """``PAGES`` pages of feed lines: new docs, updates of earlier ids,
    tombstones, design docs, docs without a split value and malformed
    lines."""
    st, common, per_type = _strategies()
    seq = 0
    ids: list[str] = []
    pages = []
    for p in range(PAGES):
        lines = []
        for _ in range(data.draw(st.integers(min_value=12, max_value=18))):
            seq += 1
            # The feed opens with a doc of every field, whose types freeze
            # the (first) table's schema.
            first = seq == 1
            kind = "new" if first else data.draw(st.sampled_from(["new", "new", "update", "delete", "design", "malformed", "typeless"]))
            env: dict = {"seq": f"{seq}-g{seq:04d}"}
            if kind == "malformed":
                lines.append(data.draw(st.sampled_from(MALFORMED)))
                continue
            if kind == "design":
                env.update(id="_design/v", doc={"_id": "_design/v", "_rev": f"{seq}-d", "views": {"by": {"map": "function(doc){}"}}, "language": "javascript"})
            elif kind == "delete" and ids:
                doc_id = data.draw(st.sampled_from(ids))
                env.update(id=doc_id, deleted=True)
                if data.draw(st.booleans()):
                    env["doc"] = {"_id": doc_id, "_rev": f"{seq}-x", "_deleted": True}
            else:
                doc_id = data.draw(st.sampled_from(ids)) if kind == "update" and ids else f"d{seq:03d}"
                if doc_id not in ids:
                    ids.append(doc_id)
                if split and kind == "typeless":
                    doc = {"_id": doc_id, "_rev": f"{seq}-r", "comment": data.draw(st.text(max_size=4))}
                elif split:
                    t = data.draw(st.sampled_from(sorted(per_type)))
                    doc = _draw_doc(data, st, per_type[t], doc_id, f"{seq}-r", {"type": t}, first)
                else:
                    doc = _draw_doc(data, st, common, doc_id, f"{seq}-r", {}, first)
                env.update(id=doc_id, doc=doc)
            lines.append(json.dumps(env))
        pages.append(lines)
    return pages


def draw_feeds() -> dict[str, list[list[str]]]:
    """Each scenario's pages, from a hypothesis run of its own seeded by
    the scenario's name (the last complete example, past the simplest
    draws)."""
    import zlib

    from hypothesis import HealthCheck, Phase, given, seed, settings
    from hypothesis import strategies as st

    out: dict = {}

    def drawer(name: str):
        @seed(zlib.crc32(name.encode()))
        @settings(max_examples=4, database=None, phases=[Phase.generate],
                  suppress_health_check=list(HealthCheck), deadline=None)
        @given(st.data())
        def run(data):
            out[name] = draw_pages(data, name in SPLIT_SCENARIOS)

        return run

    for name in SCENARIOS:
        drawer(name)()
    return out


def _value(v):
    if isinstance(v, float):
        return repr(v)
    return v


def _rows(df) -> list:
    return sorted(json.dumps({k: _value(v) for k, v in r.asDict().items()}, sort_keys=True, ensure_ascii=False) for r in df.collect())


def make_warehouse(spark, root: str, name: str):
    from couchwarehouse_spark.warehouse import Warehouse

    cfg = dict(SCENARIOS[name])
    cfg.pop("constraint", None)
    follower = cfg.pop("follower", False)
    if cfg.get("doc_transform") == "tag":
        cfg["doc_transform"] = tag_transform
    if follower:
        from couchwarehouse_spark.sinks.sqlite import sqlite_follower

        cfg["followers"] = [sqlite_follower(os.path.join(root, "mirror.sqlite"))]
    wh = Warehouse(spark, os.path.join(root, "wh"), "gold", **cfg)
    if "constraint" in SCENARIOS[name]:
        wh.add_constraint(*SCENARIOS[name]["constraint"])
    return wh


def state(wh, root: str, name: str, ids: list[str]) -> dict:
    """What a golden state records (see the module docstring)."""
    with open(os.path.join(wh.warehouse_dir, "_schemas.json")) as f:
        schemas_file = json.load(f)
    tables = {}
    for doc_type in sorted(wh.schemas):
        df = wh.table(doc_type)
        present = {r["id"] for r in df.select("id").collect()}
        look = [i for i in ids if i in present][:LOOKUPS] + ["no-such-id"]
        tables[doc_type] = {
            "dtypes": df.dtypes,
            "rows": _rows(df),
            "lookups": {i: _rows(wh.lookup(i, doc_type)) for i in look},
        }
    out = {"tables": tables, "schemas_file": schemas_file, "checkpoint": wh.checkpoints.read(wh.db_name)}
    if "constraint" in SCENARIOS[name] and os.path.isdir(os.path.join(wh.warehouse_dir, "_quarantine")):
        out["quarantined"] = {t: _rows(wh.quarantined(t)) for t in sorted(wh.schemas) if os.path.isdir(os.path.join(wh.warehouse_dir, "_quarantine", t))}
    if SCENARIOS[name].get("follower"):
        con = sqlite3.connect(os.path.join(root, "mirror.sqlite"))
        try:
            out["mirror"] = {
                t: sorted(json.dumps([_value(v) for v in r], ensure_ascii=False) for r in con.execute(f"SELECT * FROM {wh.table_name(t)}"))
                for t in sorted(wh.schemas)
            }
        finally:
            con.close()
    return out


def replay(spark, root: str, name: str, pages: list[list[str]], lane: str = "spool") -> list[dict]:
    """Land each page in a feed dir and apply it with ``lane``
    (``spool`` or ``start``); the state after each."""
    feed_dir = os.path.join(root, "feed")
    os.makedirs(feed_dir, exist_ok=True)
    wh = make_warehouse(spark, root, name)
    ids: list[str] = []
    for line in (x for page in pages for x in page):
        try:
            doc_id = json.loads(line).get("id")
        except (ValueError, AttributeError):
            continue
        if doc_id and not doc_id.startswith("_design") and doc_id not in ids:
            ids.append(doc_id)
    states = []
    for n, page in enumerate(pages):
        with open(os.path.join(feed_dir, f"page{n}.jsonl"), "w", encoding="utf-8") as f:
            f.write("\n".join(page) + "\n")
        getattr(wh, lane)(feed_dir)
        states.append(state(wh, root, name, ids))
    return states


def record(path: str) -> None:
    from couchwarehouse_spark.session import get_spark

    spark = get_spark(app_name="golden_ingest", master="local[2]", shuffle_partitions=2)
    feeds = draw_feeds()
    out = {}
    for name, pages in feeds.items():
        root = tempfile.mkdtemp(prefix=f"golden_{name}_")
        try:
            out[name] = {"pages": pages, "states": replay(spark, root, name, pages)}
        finally:
            shutil.rmtree(root, ignore_errors=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--record":
        sys.exit(__doc__)
    record(sys.argv[2])
