"""JDBC sink adapter (S18) — the PostgreSQL/MySQL parity lane.

The reference ships whole PG/MySQL drivers (reference
lib/postgresql.js, lib/mysql.js) whose job is DDL + upsert + delete;
in Spark the same parity is ``df.write.jdbc`` (the
BASELINE-sanctioned approach). The adapter only assembles
options; connectivity needs a JDBC driver jar on the classpath and a
live database — neither exists in this container, so tests validate
option assembly and the conformed-write contract against the parquet
fallback.

Upsert-to-JDBC note: plain ``mode('append')`` after the warehouse's
latest-wins merge is already idempotent per snapshot; for true
in-place MERGE semantics, stage to a temp table and issue the
``INSERT ... ON CONFLICT (id) DO UPDATE`` the reference uses
(lib/postgresql.js:91) via a JDBC statement — documented, not
automated here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from couchwarehouse_spark.operators.document import LOGICAL_TO_SPARK


def jdbc_column_types(schema: dict[str, str]) -> str:
    """``createTableColumnTypes`` option from a frozen logical schema —
    the Spark-side analog of the reference's DDL generation (R10,
    lib/postgresql.js:28-57)."""
    return ", ".join(
        f"{name} {LOGICAL_TO_SPARK[logical].simpleString().upper()}"
        for name, logical in schema.items()
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    mode: str = "overwrite",
    schema: dict[str, str] | None = None,
) -> None:
    """Write a conformed table to a JDBC warehouse (S18)."""
    writer = df.write.mode(mode)
    props: dict[str, str] = {}
    if user is not None:
        props["user"] = user
    if password is not None:
        props["password"] = password
    if schema is not None:
        writer = writer.option("createTableColumnTypes", jdbc_column_types(schema))
    writer.jdbc(url, table, properties=props)

