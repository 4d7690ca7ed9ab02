"""Elasticsearch sink (S19) + metadata strip (R20).

The reference's ES driver bulk-indexes raw documents (no flatten!)
after stripping ``_id``/``_rev``/``_attachments``, using the doc id
as the ES ``_id`` (reference lib/elasticsearch.js:16-44; strip at
:31-33; deletes as bulk ``delete`` actions at :26-28).

Two lanes:

* **connector** — ``df.write.format('org.elasticsearch.spark.sql')``
  when the es-hadoop jar is on the classpath (not in this container;
  gated behind a runtime check).
* **bulk-file** — build the exact ES bulk-API payload (action line +
  source line per doc) as a DataFrame of strings and write text
  files: network-free, testable, and precisely the reference's wire
  format. At scale this doubles as the hand-off format for an
  external indexer fleet.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from couchwarehouse_spark.operators.upsert import DELETED_COL
from couchwarehouse_spark.sinks.follow import Mirror

ES_META_COLUMNS = ("_id", "_rev", "_attachments")


def strip_es_metadata(df: DataFrame) -> DataFrame:
    """R20 — drop CouchDB housekeeping fields before indexing
    (reference lib/elasticsearch.js:31-33)."""
    return df.drop(*[c for c in ES_META_COLUMNS if c in df.columns])


def bulk_action_lines(
    df: DataFrame, index: str, id_col: str = "id", deleted_col: str | None = None
) -> DataFrame:
    """ES bulk-API payload as a one-string-column DataFrame.

    Upserts become ``{"index": {...}}\\n{doc}``, tombstones become
    ``{"delete": {...}}`` (reference lib/elasticsearch.js:24-30).
    Pure column expressions — ``to_json(struct(*))`` serializes each
    row JVM-side.
    """
    meta = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"), F.col(id_col).alias("_id")
            ).alias("index")
        )
    )
    delete_meta = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"), F.col(id_col).alias("_id")
            ).alias("delete")
        )
    )
    source_cols = [c for c in df.columns if c != deleted_col]
    source = F.to_json(F.struct(*[F.col(c) for c in source_cols]))
    if deleted_col is not None:
        line = F.when(F.col(deleted_col), delete_meta).otherwise(
            F.concat(meta, F.lit("\n"), source)
        )
    else:
        line = F.concat(meta, F.lit("\n"), source)
    return df.select(line.alias("value"))


def write_bulk_files(df: DataFrame, index: str, path: str, id_col: str = "id") -> None:
    """Write the bulk payload as text part-files (the network-free lane)."""
    bulk_action_lines(strip_es_metadata(df), index, id_col=id_col).write.mode(
        "overwrite"
    ).text(path)


def es_connector_available(spark) -> bool:
    """True when the es-hadoop connector is loadable in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName("org.elasticsearch.spark.sql.DefaultSource")
        return True
    except Exception:
        return False


def write_elasticsearch(
    df: DataFrame,
    index: str,
    nodes: str = "localhost:9200",
    id_col: str = "id",
    fallback_path: str | None = None,
) -> str:
    """Index a DataFrame into ES via the connector, or fall back to
    bulk files. Returns which lane ran ('connector' | 'bulk-file')."""
    clean = strip_es_metadata(df)
    if es_connector_available(df.sparkSession):
        (
            clean.write.format("org.elasticsearch.spark.sql")
            .option("es.nodes", nodes)
            .option("es.mapping.id", id_col)
            .mode("append")
            .save(index)
        )
        return "connector"
    if fallback_path is None:
        raise RuntimeError(
            "es-hadoop connector not on classpath and no fallback_path given"
        )
    write_bulk_files(clean, index, fallback_path, id_col=id_col)
    return "bulk-file"


def push_bulk_http(
    df: DataFrame,
    index: str,
    url: str,
    id_col: str = "id",
    deleted_col: str | None = None,
    chunk_actions: int = 500,
    timeout: float = 60.0,
) -> None:
    """Live ES egress: POST the exact reference wire format to the
    ``_bulk`` endpoint (reference lib/elasticsearch.js:16-44 — one
    ``index``/``delete`` action per change, doc id as ``_id``), via
    stdlib urllib with NO client library.

    Scale shape: the payload rows are built JVM-side
    (``bulk_action_lines``) and each EXECUTOR partition posts its own
    chunked ``_bulk`` requests straight to the ingest endpoint —
    egress bandwidth scales with the cluster instead of funnelling
    through the driver (the reference's single client is the
    single-node degenerate case). A bulk response with
    ``errors: true`` raises — partial indexing must not pass
    silently.
    """
    endpoint = url.rstrip("/") + "/_bulk"
    lines = bulk_action_lines(
        strip_es_metadata(df), index, id_col=id_col, deleted_col=deleted_col
    )

    def _post_partition(rows) -> None:
        import json as _json
        import urllib.request as _rq

        buf: list[str] = []

        def flush() -> None:
            if not buf:
                return
            body = ("\n".join(buf) + "\n").encode("utf-8")
            req = _rq.Request(
                endpoint,
                data=body,
                headers={"Content-Type": "application/x-ndjson"},
                method="POST",
            )
            with _rq.urlopen(req, timeout=timeout) as resp:
                reply = _json.load(resp)
            if reply.get("errors"):
                bad = [
                    it for it in reply.get("items", [])
                    if next(iter(it.values()), {}).get("status", 200) >= 300
                ]
                raise RuntimeError(f"ES bulk rejected {len(bad)} actions: {bad[:3]}")
            buf.clear()

        for row in rows:
            buf.append(row.value)  # one action (1 or 2 NDJSON lines)
            if len(buf) >= chunk_actions:
                flush()
        flush()

    lines.foreachPartition(_post_partition)


def es_index_name(doc_type: str, base: str = "couchwarehouse") -> str:
    """ONE naming rule for warehouse→ES egress: split-mode types get
    per-type indices, the default type the base index."""
    return f"{base}_{doc_type}" if doc_type != "_default" else base


# Holds one position doc per mirrored index, keyed by its name (the
# reference's checkpoint doc, lib/elasticsearch.js:52-76).
ES_META_INDEX = "couchwarehousemeta"


def _es_request(method: str, url: str, body: dict | None = None):
    """One JSON request over stdlib urllib: the parsed reply, or None
    on a 404 (an absent doc or index)."""
    import urllib.error
    import urllib.request

    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(url, data, {"Content-Type": "application/json"}, method=method)
    try:
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.load(resp)
    except urllib.error.HTTPError as err:
        if err.code != 404:
            raise
        return None


class _ESMirror(Mirror):
    def __init__(self, url: str, index: str):
        self.url = url.rstrip("/")
        self.index = index

    def _meta_url(self, doc_type: str) -> str:
        return f"{self.url}/{ES_META_INDEX}/_doc/{es_index_name(doc_type, base=self.index)}"

    def read_position(self, wh, doc_type: str) -> tuple | None:
        src = (_es_request("GET", self._meta_url(doc_type)) or {}).get("_source", {})
        return (src["version"], src["ts"]) if "version" in src else None

    def write(self, wh, doc_type, rows, position, seq, reset) -> None:
        index = es_index_name(doc_type, base=self.index)
        if reset:
            _es_request("DELETE", f"{self.url}/{index}")
            _es_request("PUT", f"{self.url}/{index}")
        if rows is not None:
            push_bulk_http(rows, index, self.url, deleted_col=DELETED_COL)
        doc = {"seq": seq, "version": position[0], "ts": position[1]}
        _es_request("PUT", self._meta_url(doc_type), doc)


def es_follower(url: str, index: str = "couchwarehouse") -> Mirror:
    """Warehouse follower: mirror every merged micro-batch into a live
    ES index over ``_bulk`` — the reference's elasticsearch
    databaseType (lib/elasticsearch.js:16-44, one index/delete action
    per change) — and PUT the table version it mirrors to a
    ``couchwarehousemeta`` doc after each batch (see ``sinks.follow``).

    Usage::

        wh = Warehouse(spark, dir, "mydb",
                       followers=[es_follower("http://localhost:9200")])
    """
    return _ESMirror(url, index)


def full_text_search(df: DataFrame, text_col: str, query: str) -> DataFrame:
    """Native fallback for ES's query_string search (S19; reference
    README.md:147-148 ``?q=name:"York"``): case-insensitive term
    match + a naive term-frequency relevance score, as expressions."""
    import re as _re

    terms = [t for t in query.lower().split() if t]
    score: Column = F.lit(0)
    for t in terms:
        # Terms are LITERALS: escape regex metacharacters ("c++",
        # "3.5") or regexp_replace would treat them as patterns.
        occurrences = (
            F.length(F.lower(F.col(text_col)))
            - F.length(F.regexp_replace(F.lower(F.col(text_col)), _re.escape(t), ""))
        ) / len(t)
        score = score + occurrences
    return (
        df.withColumn("_score", score.cast("double"))
        .filter(F.col("_score") > 0)
        .orderBy(F.col("_score").desc())
    )
