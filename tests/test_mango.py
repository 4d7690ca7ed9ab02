"""Unit tests for the Mango selector compilers (R4) — full operator
surface against in-memory frames. Every case runs through both: the
Catalyst ``Column`` (``compile_selector``) and the Arrow mask
(``compile_arrow_selector``, the ingest lane's) must keep the same rows.
"""

from __future__ import annotations

import pytest

from couchwarehouse_spark.functions.mango import (
    MangoError,
    compile_arrow_selector,
    compile_selector,
)


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [
            (1, "alice", 30.0, "york", None),
            (2, "bob", 45.0, "leeds", "x"),
            (3, "carol", 20.0, "york", "y"),
            (4, "dan", 60.0, None, None),
        ],
        "id long, name string, age double, city string, tag string",
    )


def ids(df, sel):
    """The ids ``sel`` keeps, the same through both compilers."""
    got = sorted(r["id"] for r in df.filter(compile_selector(sel)).collect())
    table = df.toArrow()
    assert sorted(table.filter(compile_arrow_selector(sel)(table))["id"].to_pylist()) == got
    return got


def raises_in_both(sel):
    with pytest.raises(MangoError):
        compile_selector(sel)
    with pytest.raises(MangoError):
        compile_arrow_selector(sel)


def test_implicit_eq_and_and(people):
    assert ids(people, {"city": "york"}) == [1, 3]
    assert ids(people, {"city": "york", "age": {"$gt": 25}}) == [1]


def test_comparisons(people):
    assert ids(people, {"age": {"$gte": 45}}) == [2, 4]
    assert ids(people, {"age": {"$lt": 30}}) == [3]
    assert ids(people, {"age": {"$gt": 20, "$lte": 45}}) == [1, 2]


def test_ne_includes_missing(people):
    # Mango $ne matches docs where the field is absent (NULL here).
    assert ids(people, {"city": {"$ne": "york"}}) == [2, 4]


def test_in_nin(people):
    assert ids(people, {"city": {"$in": ["york", "leeds"]}}) == [1, 2, 3]
    assert ids(people, {"city": {"$nin": ["york"]}}) == [2, 4]


def test_exists(people):
    assert ids(people, {"tag": {"$exists": True}}) == [2, 3]
    assert ids(people, {"tag": {"$exists": False}}) == [1, 4]


def test_regex(people):
    assert ids(people, {"name": {"$regex": "^[ab]"}}) == [1, 2]


def test_logical_operators(people):
    assert ids(people, {"$or": [{"city": "leeds"}, {"age": {"$lt": 25}}]}) == [2, 3]
    assert ids(people, {"$and": [{"city": "york"}, {"age": {"$lt": 25}}]}) == [3]
    assert ids(people, {"$nor": [{"city": "york"}, {"city": "leeds"}]}) == [4]
    assert ids(people, {"$not": {"age": {"$gte": 30}}}) == [3]
    assert ids(people, {"age": {"$not": {"$lt": 45}}}) == [2, 4]


def test_dotted_paths_flattened(people):
    # dotted → flattened column name when flattened=True (default)
    df = people.withColumnRenamed("city", "address_city")
    assert ids(df, {"address.city": "york"}) == [1, 3]


def test_empty_selector_matches_all(people):
    assert ids(people, {}) == [1, 2, 3, 4]


def test_errors():
    raises_in_both({"selector": {"a": 1}})  # wrapper, reference index.js:210-213
    raises_in_both({"a": {"$bogus": 1}})
    raises_in_both({"$bogus": [{"a": 1}]})


@pytest.fixture(scope="module")
def carts(spark):
    return spark.createDataFrame(
        [
            (1, ["apple", "pear"], [2.0, 8.0]),
            (2, ["apple"], [12.0]),
            (3, ["fig", "pear", "plum"], [3.0, 4.0, 5.0]),
            (4, [], []),
        ],
        "id long, items array<string>, prices array<double>",
    )


def test_mod(people):
    assert ids(people, {"age": {"$mod": [20, 0]}}) == [3, 4]
    raises_in_both({"age": {"$mod": 3}})


def test_all(carts):
    assert ids(carts, {"items": {"$all": ["apple"]}}) == [1, 2]
    assert ids(carts, {"items": {"$all": ["pear", "plum"]}}) == [3]


def test_elem_match_and_all_match(carts):
    assert ids(carts, {"prices": {"$elemMatch": {"$gt": 10}}}) == [2]
    assert ids(carts, {"prices": {"$elemMatch": {"$gte": 3, "$lt": 5}}}) == [3]
    # $allMatch: vacuously true on empty arrays (CouchDB semantics)
    assert ids(carts, {"prices": {"$allMatch": {"$lt": 10}}}) == [1, 3, 4]
    assert ids(carts, {"items": {"$elemMatch": {"$beginsWith": "p"}}}) == [1, 3]
    raises_in_both({"prices": {"$elemMatch": {"$bogus": 1}}})


def test_elem_match_struct_fields(spark):
    orders = spark.createDataFrame(
        [(1, [(5.0, "a")]), (2, [(20.0, "b"), (1.0, "a")]), (3, [])],
        "id long, basket array<struct<price: double, sku: string>>",
    )
    assert ids(orders, {"basket": {"$elemMatch": {"price": {"$gt": 10}}}}) == [2]


def test_type_and_begins_with(people, carts):
    assert ids(people, {"tag": {"$type": "null"}}) == [1, 4]
    assert ids(people, {"tag": {"$type": "string"}}) == [2, 3]
    assert ids(people, {"age": {"$type": "number"}}) == [1, 2, 3, 4]
    assert ids(carts, {"items": {"$type": "array"}}) == [1, 2, 3, 4]
    assert ids(people, {"name": {"$beginsWith": "c"}}) == [3]
    raises_in_both({"age": {"$type": "wat"}})


def test_array_operators_with_null_elements(spark):
    """NULL elements and NULL arrays follow SQL's three-valued
    ``exists``/``forall``/``array_contains`` in both compilers — seen
    through ``$not``, which keeps the rows whose result is NULL."""
    df = spark.createDataFrame(
        [(1, [1.0, None]), (2, [None]), (3, [20.0, None]), (4, []), (5, None), (6, [2.0])],
        "id long, p array<double>",
    )
    for sel in (
        {"p": {"$elemMatch": {"$gt": 10}}},
        {"p": {"$allMatch": {"$lt": 10}}},
        {"p": {"$all": [1.0]}},
    ):
        ids(df, sel)
        ids(df, {"$not": sel})
