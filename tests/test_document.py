"""Unit tests for the document-ETL kernel (R6/R7/R13/R15/R16).

The flatten/discover expected values reproduce the reference's own
unit expectations (reference test/flatten.js:28-39,
test/schema.js:26-41) — same doc shape, same output contract.
"""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from couchwarehouse_spark.operators.document import (
    conform_frame,
    discover_schema,
    extract_seq_number,
    flatten_doc,
    flatten_frame,
    generate_create_table_sql,
    sanitize_identifier,
    seq_number_col,
    usable_table_name,
)

# The reference's canonical test document (test/flatten.js:6-25).
DOC = {
    "_id": "001g6oKR0vDE2w0VHHGR0cWpbd4TxhKZ",
    "_rev": "1-24e48b12e537a24e9c893054f996b67b",
    "name": "Jina Pulley",
    "age": 30,
    "verified": False,
    "description": "suited internal sussex hotmail shots deficit meal outcome date congratulations",
    "address": {
        "street": "6343 Boden Road,New York City,Texas,69487",
        "location": {"long": -80.5833, "lat": 35.2358},
    },
    "tags": ["feet", "sections", "increased"],
}


def test_flatten_doc_matches_reference_contract():
    flat = flatten_doc(DOC)
    assert flat["id"] == DOC["_id"]
    assert flat["rev"] == DOC["_rev"]
    assert flat["name"] == DOC["name"]
    assert flat["age"] == DOC["age"]
    assert flat["verified"] is False
    assert flat["address_street"] == DOC["address"]["street"]
    assert flat["address_location_long"] == -80.5833
    assert flat["address_location_lat"] == 35.2358
    # Arrays become JSON text (reference lib/flatten.js:45).
    assert flat["tags"] == json.dumps(DOC["tags"], separators=(",", ":"))
    assert "_id" not in flat and "address" not in flat


def test_discover_schema_matches_reference_ideal():
    # reference test/schema.js:28-39 idealSchema, key for key.
    assert discover_schema(DOC) == {
        "name": "string",
        "age": "number",
        "verified": "boolean",
        "description": "string",
        "tags": "string",
        "id": "string",
        "rev": "string",
        "address_street": "string",
        "address_location_long": "number",
        "address_location_lat": "number",
    }


def test_flatten_doc_drops_nulls():
    # JS typeof null === 'object' → the key vanishes (lib/flatten.js:37-42).
    assert flatten_doc({"_id": "x", "_rev": "1-a", "gone": None}) == {"id": "x", "rev": "1-a"}


def test_identifiers_and_seq():
    assert sanitize_identifier("my-db-name") == "mydbname"  # lib/util.js:1-3
    assert usable_table_name("my-db") == "mydb"
    assert usable_table_name("my-db", "the-type", split=True) == "mydb_thetype"
    assert extract_seq_number("47-1abc2") == 47  # index.js:30-32


def test_ddl_generation():
    stmts = generate_create_table_sql("t1", {"id": "string", "total": "number"}, reset=True)
    assert stmts[0] == "DROP TABLE IF EXISTS `t1`"
    assert "CREATE TABLE IF NOT EXISTS `t1`" in stmts[1]
    assert "`total` DOUBLE" in stmts[1]


def test_flatten_frame_and_conform(spark):
    df = spark.createDataFrame(
        [
            (
                "001",
                "1-a",
                "Jina",
                30.0,
                {"street": "s1", "location": {"long": -80.5, "lat": 35.2}},
                ["a", "b"],
            )
        ],
        "_id string, _rev string, name string, age double, "
        "address struct<street: string, location: struct<long: double, lat: double>>, "
        "tags array<string>",
    )
    flat = flatten_frame(df)
    assert set(flat.columns) == {
        "id", "rev", "name", "age",
        "address_street", "address_location_long", "address_location_lat", "tags",
    }
    row = flat.collect()[0]
    assert row["id"] == "001"
    assert row["address_location_lat"] == 35.2
    assert row["tags"] == '["a","b"]'

    # Conformance: extra column dropped, missing column null-filled,
    # number cast to double (R13; reference test/run_evolve.js:62-69).
    frozen = {"id": "string", "name": "string", "age": "number", "missing_col": "string"}
    conformed = conform_frame(flat, frozen)
    assert conformed.columns == ["id", "name", "age", "missing_col"]
    out = conformed.collect()[0]
    assert out["missing_col"] is None
    assert out["age"] == 30.0


def test_seq_number_col(spark):
    df = spark.createDataFrame([("47-1abc2",), ("100-zz",)], "seq string")
    vals = [r[0] for r in df.select(seq_number_col("seq")).collect()]
    assert vals == [47, 100]


# -- the driver lane's casts against Spark's own -----------------------------

_EDGE_DOUBLES = [
    0.1, 100.0, 1e7, 9999999.0, 1e-3, 0.00099999, 2.0**-24, 2.0**-1074, 2.0**60,
    2.0**53 + 2, 12345678901234567890.0, 1.7976931348623157e308, 123456789.123, -0.0,
]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.floats(allow_nan=False, allow_infinity=False), min_size=1, max_size=60))
def test_double_text_matches_spark_cast(spark, values):
    """``java_double`` writes a double as Spark's cast to string does
    (the JVM's ``Double.toString``), digit for digit — powers of two,
    integers past 2**53 and subnormals included."""
    import pandas as pd

    from couchwarehouse_spark.operators.document import java_double

    values = values + _EDGE_DOUBLES
    df = spark.createDataFrame(pd.DataFrame({"d": values}))
    want = [r[0] for r in df.select(F.col("d").cast("string")).collect()]
    assert [java_double(v) for v in values] == want


_CAST_TEXT = st.text(alphabet=" \t+-.0123456789eEfdDxXpPaAInNtTyYsSlL_", max_size=8)


@settings(max_examples=15, deadline=None)
@given(st.lists(_CAST_TEXT, min_size=1, max_size=60))
def test_text_casts_match_spark_try_cast(spark, values):
    """``string_to_double`` and ``string_to_boolean`` give Spark's
    ``try_cast`` of a string to DOUBLE and BOOLEAN."""
    import math

    import pandas as pd

    from couchwarehouse_spark.operators.document import string_to_boolean, string_to_double

    values = values + ["1e400", "0x1p3", "1d", " 12 ", "Infinity", "-inf", "nan", "yes", " T "]
    df = spark.createDataFrame(pd.DataFrame({"s": values}))
    rows = df.select(F.col("s").try_cast("double"), F.col("s").try_cast("boolean")).collect()
    for v, (d, b) in zip(values, rows):
        got = string_to_double(v)
        assert (got is None and d is None) or (got == d or (math.isnan(got) and math.isnan(d))), v
        assert string_to_boolean(v) == b, v
