"""Changes-feed source: the one envelope parse both ingest lanes share (R1).

The reference spools the feed in one long HTTP request and processes
it in batches (reference index.js:75-140); the wire format is one
JSON envelope per change — ``{seq, id, changes[{rev}], deleted?,
doc}`` (reference test/samplechanges.txt:2, FIXTURES.md §D).

Here the feed is a JSON-lines file/directory (a spooled dump, or a
landing zone that a streaming job tails — see streaming.ingest). The
batch spool (:func:`read_changes_feed`) and every streamed
micro-batch read the envelope with the one declared
:data:`ENVELOPE_SCHEMA`, ``doc`` still a JSON string, and hand it to
the same :func:`parse_changes`, which honours both of the warehouse's
hooks: the per-doc ``doc_transform`` (the reference runs one
``'batch'`` handler with it for spool and monitor, index.js:46-49,
87-105, 147-148) and the declared ``feed_schema``. Schema inference
over the docs unions fields across doc types, which is fine because
the warehouse's frozen-schema conformance
(operators.document.conform_frame) is what decides each table's
columns — exactly the reference's split between "whatever arrives"
and "what the table stores".
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from couchwarehouse_spark.operators.document import extract_seq_number, seq_number_col

DESIGN_DOC_RE = "^_design"

# Envelope wire format (FIXTURES.md §D; reference test/samplechanges.txt:2).
# ``doc`` stays a JSON string at the boundary: ``parse_changes`` gives it
# structure, and a seq token — CouchDB 2.x ``"3-g1AA…"`` or 1.x ``3`` —
# is always read as a string.
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("deleted", T.BooleanType()),
        T.StructField("doc", T.StringType()),
    ]
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


def parse_changes(
    spark: SparkSession,
    env: DataFrame,
    doc_transform: Callable[[dict], dict] | None = None,
    doc_schema: str | None = None,
) -> DataFrame:
    """Parse an :data:`ENVELOPE_SCHEMA` frame's ``doc`` strings into a
    struct column and add ``_cw_seq``, the numeric prefix of the seq
    token (R15) used for latest-wins ordering.

    ``doc_transform`` is the reference's per-document transform hook
    (R5, reference index.js:46-49): a ``dict → dict`` Python function
    applied to every ``doc`` before anything else sees it. It runs in
    an Arrow-batched ``mapInPandas`` over the doc strings — the
    documented UDF slow path; prefer the frame-level transform on
    :class:`~couchwarehouse_spark.warehouse.Warehouse` when the
    transform is expressible in columns (the README's example —
    drop/trim/concat — is).

    ``doc_schema`` (strict mode): a DDL string for the transformed
    ``doc`` struct, e.g. ``"_id string, name string"``. When given,
    the docs are parsed with ONE ``from_json`` projection and no Spark
    job. When omitted, the schema is the union
    :func:`infer_json_schema` infers over every doc of ``env`` — one
    job, which runs the transform once more — so a field carried by
    any doc becomes a struct field (first-doc-only inference would
    null it out, and the latest-wins merge would then overwrite stored
    values).
    """
    if doc_transform is not None:
        import pandas as pd

        def _tx(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
            for pdf in batches:
                pdf["doc"] = [
                    None if d is None else json.dumps(doc_transform(json.loads(d)))
                    for d in pdf["doc"]
                ]
                yield pdf

        env = env.mapInPandas(_tx, env.schema)
    if doc_schema is None:
        doc_schema = infer_json_schema(
            spark, env.select(F.coalesce(F.col("doc"), F.lit("{}")).alias("value"))
        )
    return env.withColumn("doc", F.from_json("doc", doc_schema)).withColumn(
        "_cw_seq", seq_number_col("seq")
    )


def read_changes_feed(
    spark: SparkSession,
    path: str,
    doc_transform: Callable[[dict], dict] | None = None,
    doc_schema: str | None = None,
    since: str | None = None,
) -> DataFrame:
    """Read a JSON-lines changes feed into a parsed envelope DataFrame
    (``seq``, ``id``, ``deleted``, ``doc`` struct, ``_cw_seq``) — the
    declared envelope read, then :func:`parse_changes`. ``since``, a
    seq token, keeps only the later changes, and does so BEFORE the doc
    parse, so inference sees only the changes a resumed spool applies.
    """
    env = spark.read.schema(ENVELOPE_SCHEMA).json(path)
    if since is not None:
        env = env.filter(seq_number_col("seq") > extract_seq_number(since))
    return parse_changes(spark, env, doc_transform, doc_schema)


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
    elif split_field in env.schema["doc"].dataType.fieldNames():
        type_col = F.col(f"doc.{split_field}")
    else:  # batch carries no doc with the split field (e.g. all tombstones)
        type_col = F.lit(None).cast("string")
    return env.withColumn("_cw_type", type_col)
