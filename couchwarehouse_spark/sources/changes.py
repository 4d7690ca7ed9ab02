"""Changes-feed source: batch replay of a CouchDB ``_changes`` feed (R1).

The reference spools the feed in one long HTTP request and processes
it in batches (reference index.js:75-140); the wire format is one
JSON envelope per change — ``{seq, id, changes[{rev}], deleted?,
doc}`` (reference test/samplechanges.txt:2, FIXTURES.md §D).

Here the feed is a JSON-lines file/directory (a spooled dump or a
landing zone that a streaming job tails — see streaming.ingest).
Reading it is one ``spark.read.json`` scan: schema inference unions
fields across doc types, which is fine because the warehouse's
frozen-schema conformance (operators.document.conform_frame) is what
decides each table's columns — exactly the reference's split between
"whatever arrives" and "what the table stores".
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couchwarehouse_spark.operators.document import seq_number_col

DESIGN_DOC_RE = "^_design"


def _envelope_ddl(doc_schema: str) -> str:
    """Full ``_changes`` envelope DDL around a declared doc schema."""
    return (
        "seq string, id string, deleted boolean, "
        "changes array<struct<rev: string>>, "
        f"doc struct<{doc_schema}>"
    )


def infer_json_schema(spark: SparkSession, frame: DataFrame) -> T.StructType:
    """The schema ``spark.read.json`` would infer for ``frame``'s rows.

    ``frame`` has one string column of JSON texts. It is handed to the
    JVM's ``DataFrameReader.json(Dataset[String])``, which runs the
    same ``JsonInferSchema`` pass as a directory read — one Spark job,
    nothing written to storage.
    """
    jvm = spark._jvm
    lines = getattr(frame._jdf, "as")(jvm.org.apache.spark.sql.Encoders.STRING())
    return DataFrame(spark._jsparkSession.read().json(lines), spark).schema


def read_changes_feed(
    spark: SparkSession,
    path: str,
    doc_transform: Callable[[dict], dict] | None = None,
    doc_schema: str | None = None,
) -> DataFrame:
    """Read a JSON-lines changes feed into an envelope DataFrame.

    Output columns: the feed's own (``seq``, ``id``, ``deleted``,
    ``doc`` struct, …) plus ``_cw_seq`` — the numeric prefix of the
    seq token (R15) used for latest-wins ordering.

    ``doc_transform`` is the reference's per-document transform hook
    (R5, reference index.js:46-49): a ``dict → dict`` Python function
    applied to every ``doc`` before anything else sees it. It runs in
    an Arrow-batched ``mapInPandas`` over the raw JSON lines — the
    documented UDF slow path; prefer the frame-level transform on
    :class:`~couchwarehouse_spark.warehouse.Warehouse` when the
    transform is expressible in columns (the README's example —
    drop/trim/concat — is).

    ``doc_schema`` (strict mode): a DDL string for the transformed
    ``doc`` struct, e.g. ``"_id string, name string"``. When given,
    the transform lane parses envelopes with ONE ``from_json``
    projection — no RDD round-trip, no inference scan — the shape to
    use when the doc type is known (the warehouse's frozen schema can
    supply it). When omitted, the lane infers the full-union schema
    from the transformed lines with :func:`infer_json_schema` (one
    extra scan that runs the transform a second time), then parses
    them with that schema.
    """
    if doc_transform is None:
        if doc_schema is not None:
            # Strict mode, no-transform lane: a declared doc schema
            # skips the JSON inference scan entirely — one read of the
            # feed instead of two. At 100 TB feeds the inference pass
            # is a full extra scan; production spools should always
            # declare the envelope.
            env = spark.read.schema(_envelope_ddl(doc_schema)).json(path)
        else:
            env = spark.read.json(path)
    else:
        import pandas as pd

        lines = spark.read.text(path)

        def _tx(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                out = []
                for line in pdf["value"]:
                    if not line.strip():
                        continue
                    envelope = json.loads(line)
                    if envelope.get("doc") is not None:
                        envelope["doc"] = doc_transform(envelope["doc"])
                    out.append(json.dumps(envelope))
                yield pd.DataFrame({"value": out})

        transformed = lines.mapInPandas(_tx, "value string")
        schema = (
            _envelope_ddl(doc_schema)
            if doc_schema is not None
            else infer_json_schema(spark, transformed)
        )
        env = transformed.select(F.from_json("value", schema).alias("e")).select("e.*")

    # Null-fill any missing envelope column — an EMPTY feed (a
    # maintenance-only CLI run, a fully caught-up monitor poll) infers
    # no columns at all, and a tombstone-only page lacks ``doc``; both
    # must flow through as zero/partial envelopes, not crash on an
    # unresolved ``seq``.
    if "seq" not in env.columns:
        env = env.withColumn("seq", F.lit(None).cast("string"))
    if "id" not in env.columns:
        env = env.withColumn("id", F.lit(None).cast("string"))
    if "deleted" not in env.columns:
        env = env.withColumn("deleted", F.lit(None).cast("boolean"))
    if "doc" not in env.columns:  # tombstone-only feed page
        env = env.withColumn("doc", F.lit(None).cast("struct<_id: string>"))
    return env.withColumn("_cw_seq", seq_number_col("seq"))


def filter_design_docs(env: DataFrame) -> DataFrame:
    """Drop ``_design/*`` documents (R9; reference index.js:55,
    lib/sqlite.js:70 — excluded from both schema discovery and
    inserts) — and corrupt feed lines, which PERMISSIVE JSON parsing
    surfaces as all-null envelopes. The ``isNotNull`` guard makes that
    drop explicit rather than a side effect of three-valued ``rlike``:
    a malformed page line can never reach the merge with a null id.
    """
    return env.filter(F.col("id").isNotNull() & ~F.col("id").rlike(DESIGN_DOC_RE))


def split_envelopes(env: DataFrame, split_field: str | None) -> DataFrame:
    """Attach the routing column ``_cw_type`` (R8).

    ``doc[split_field]`` when splitting (reference index.js:52), the
    sentinel ``'_default'`` otherwise. Tombstones carry no doc, so
    their type is null — they are routed to every table's delete set
    by id (CouchDB tombstones don't say which type they were).
    """
    if split_field is None:
        type_col = F.lit("_default")
    else:
        doc_fields = [
            f.name
            for f in env.schema["doc"].dataType.fields
        ] if hasattr(env.schema["doc"].dataType, "fields") else []
        if split_field in doc_fields:
            type_col = F.col(f"doc.{split_field}")
        else:  # batch carries no doc with the split field (e.g. all tombstones)
            type_col = F.lit(None).cast("string")
    return env.withColumn("_cw_type", type_col)
