"""The driver-side ingest lane against golden data recorded with the
Spark lane it replaced (``tests/golden_ingest.py``): every scenario's
pages, spooled one at a time, leave the same tables, rows, lookups,
``_schemas.json``, checkpoints, quarantined rows and sqlite mirror, byte
for byte.

One difference is intended. The Spark lane inferred one doc schema per
page, over every doc of the page — other split types' docs, design docs
and tombstone bodies included — so under ``evolve_schema`` a type
adopted fields none of its own docs carry, as columns that are NULL in
every row. The driver lane infers each type's schema from its own docs.
Under ``evolve_schema`` the test therefore compares the golden state
without exactly the columns the driver lane did not adopt, and checks
that each of them is NULL in every golden row: every other column, its
type and every value match.
"""

from __future__ import annotations

import json
import os

import pytest

from . import golden_ingest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "ingest_golden.json")

with open(GOLDEN, encoding="utf-8") as _f:
    RECORDED = json.load(_f)


def _flat_keys(doc: dict, prefix: str = ""):
    """The flattened column names one doc's fields give (a NULL field
    too: inference records its key)."""
    for k, v in doc.items():
        name = k[1:] if not prefix and k in ("_id", "_rev") else f"{prefix}_{k}" if prefix else k
        if isinstance(v, dict):
            yield from _flat_keys(v, name)
        else:
            yield name


def _carried(pages: list[list[str]], name: str) -> dict[str, set[str]]:
    """Each table type's flattened column names its own live docs
    give, over ``pages``."""
    split = golden_ingest.SCENARIOS[name].get("split")
    out: dict[str, set[str]] = {}
    for line in (x for page in pages for x in page):
        try:
            env = json.loads(line)
        except ValueError:
            continue
        doc = env.get("doc") if isinstance(env, dict) else None
        if not isinstance(doc, dict) or env.get("deleted") or env["id"].startswith("_design"):
            continue
        doc_type = doc.get(split) if split else "_default"
        if doc_type is not None:
            out.setdefault(doc_type, set()).update(_flat_keys(doc))
    return out


def _without(state: dict, dropped: dict[str, set[str]]) -> dict:
    """A golden state with each table's ``dropped`` columns taken out."""
    state = json.loads(json.dumps(state))
    for doc_type, table in state["tables"].items():
        gone = dropped.get(doc_type, set())
        table["dtypes"] = [d for d in table["dtypes"] if d[0] not in gone]

        def strip(rows):
            return sorted(
                json.dumps({k: v for k, v in json.loads(r).items() if k not in gone}, sort_keys=True, ensure_ascii=False)
                for r in rows
            )

        table["rows"] = strip(table["rows"])
        table["lookups"] = {i: strip(rows) for i, rows in table["lookups"].items()}
        state["schemas_file"][doc_type] = {
            k: v for k, v in state["schemas_file"][doc_type].items() if k not in gone
        }
    return state


def _first_difference(got, want, path="") -> str:
    if isinstance(got, dict) and isinstance(want, dict):
        for k in sorted(set(got) | set(want)):
            if got.get(k) != want.get(k):
                return _first_difference(got.get(k), want.get(k), f"{path}/{k}")
    if isinstance(got, list) and isinstance(want, list) and len(got) == len(want):
        for i, (a, b) in enumerate(zip(got, want)):
            if a != b:
                return _first_difference(a, b, f"{path}[{i}]")
    return f"{path}: {got!r} != {want!r}"


CASES = [(name, "spool") for name in sorted(golden_ingest.SCENARIOS)] + [
    ("plain", "start"),
    ("split_selector", "start"),
    ("constraint_follower", "start"),
]


@pytest.mark.parametrize("name, lane", CASES)
def test_driver_lane_matches_the_recorded_spark_lane(spark, tmp_path, name, lane):
    """Each page of the scenario's feed, spooled (or streamed with
    ``start``), leaves the recorded state."""
    pages = RECORDED[name]["pages"]
    want = RECORDED[name]["states"]
    got = json.loads(json.dumps(golden_ingest.replay(spark, str(tmp_path), name, pages, lane)))
    assert len(got) == len(want)
    for n, (g, w) in enumerate(zip(got, want)):
        if golden_ingest.SCENARIOS[name].get("evolve_schema"):
            dropped = {
                t: {c for c in w["schemas_file"][t] if c not in g["schemas_file"].get(t, {})}
                for t in w["tables"]
            }
            for t, cols in dropped.items():
                for c in cols:
                    assert all(json.loads(r).get(c) is None for r in w["tables"][t]["rows"]), (name, n, t, c)
            w = _without(w, dropped)
        assert g == w, f"{name}: state after page {n} differs at {_first_difference(g, w)}"


def test_the_split_evolve_feed_shows_the_per_type_fix():
    """The recorded Spark lane adopted other types' fields under
    ``split`` + ``evolve_schema``: the golden data holds the fault the
    driver lane fixes."""
    last = RECORDED["split_evolve"]["states"][-1]["schemas_file"]
    carried = _carried(RECORDED["split_evolve"]["pages"], "split_evolve")
    assert any(set(last[t]) - carried[t] for t in carried)
