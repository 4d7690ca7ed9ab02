"""Changes-feed source: the one envelope parse both ingest lanes share (R1).

The reference spools the feed in one long HTTP request and processes
it in batches (reference index.js:75-140); the wire format is one
JSON envelope per change — ``{seq, id, changes[{rev}], deleted?,
doc}`` (reference test/samplechanges.txt:2, FIXTURES.md §D).

Here the feed is a JSON-lines file/directory (a spooled dump, or a
landing zone that a streaming job tails — see streaming.ingest). Both
lanes bring a batch to the driver as one Arrow table of envelopes,
``doc`` still JSON text (:data:`ENVELOPE_ARROW`): the batch spool
reads the lines in Python (:func:`read_changes_feed`, no Spark job),
a streamed micro-batch makes one ``toArrow`` of its
:data:`ENVELOPE_SCHEMA` rows. :func:`parse_page` then parses every
doc on the driver (orjson), drops design docs and malformed lines,
applies the per-doc ``doc_transform`` (the reference runs one
``'batch'`` handler with it for spool and monitor, index.js:46-49,
87-105, 147-148), routes each doc to its split type and infers each
type's doc schema from that type's own docs — or takes the declared
``feed_schema``. The warehouse's frozen-schema conformance
(operators.document.conform_table) then decides each table's
columns: exactly the reference's split between "whatever arrives"
and "what the table stores".
"""

from __future__ import annotations

import bisect
import json
import os
import re
from array import array
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import orjson
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from couchwarehouse_spark.operators.document import (
    FAILED,
    canonical_type,
    convert_value,
    extract_seq_number,
    json_text,
    widen,
)
from couchwarehouse_spark.operators.upsert import SEQ_COL

DESIGN_DOC_PREFIX = "_design"
DEFAULT_TYPE = "_default"  # reference index.js:52

# Envelope wire format (FIXTURES.md §D; reference test/samplechanges.txt:2).
# ``doc`` stays a JSON string at the boundary: ``parse_page`` gives it
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
ENVELOPE_ARROW = pa.schema(
    [("seq", pa.string()), ("id", pa.string()), ("deleted", pa.bool_()), ("doc", pa.string())]
)

# Rows parsed, routed or flattened per Python pass: bounds the dicts
# alive at once, whatever the page size.
CHUNK_ROWS = 4096

# An integer of 20+ digits does not fit a long: orjson would read it as
# a double, the stdlib keeps it exact (Spark infers a DECIMAL).
LONG_DIGITS = "[0-9]{20}"
_LONG_DIGITS = re.compile(LONG_DIGITS)


def _parse(text: str, long_digits: bool | None = None):
    """(value, the dump that writes it back as the same value): orjson
    first; the stdlib for what orjson refuses (NaN, Infinity, text after
    the value, which Spark ignores) and for text with integers beyond a
    long (``long_digits``, searched for when not given). Raises
    ``ValueError`` on malformed text."""
    if long_digits is None:
        long_digits = _LONG_DIGITS.search(text) is not None
    if not long_digits:
        try:
            return orjson.loads(text), _orjson_dumps
        except orjson.JSONDecodeError:
            pass
    return json.JSONDecoder().raw_decode(text.strip())[0], _json_dumps


def loads(text: str, long_digits: bool | None = None):
    """One JSON value, as Spark's reader takes it (see ``_parse``)."""
    return _parse(text, long_digits)[0]


def _long_digits(texts: pa.ChunkedArray | pa.Array) -> list[bool]:
    """Which JSON texts hold a digit run beyond a long, in one kernel."""
    return pc.fill_null(pc.match_substring_regex(texts, LONG_DIGITS), False).to_pylist()


def _orjson_dumps(v) -> str:
    return orjson.dumps(v).decode()


def _json_dumps(v) -> str:
    # The stdlib writes NaN and Infinity back as tokens, where orjson
    # would write null.
    return json.dumps(v, separators=(",", ":"))


def _feed_files(path: str) -> list[str]:
    """The data files of a feed path: the file itself, or every file
    under the directory whose name does not start with ``.`` or ``_``
    (in-flight temp files and markers, which Spark's reader skips too),
    in name order."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        out.extend(os.path.join(root, f) for f in sorted(files) if not f.startswith((".", "_")))
    return out


def _token(v) -> str | None:
    """A string envelope field as Spark's reader gives it: a string as
    is, any other JSON value as its text."""
    return v if v is None or type(v) is str else json_text(v)


def read_changes_feed(path: str, since: str | None = None) -> pa.Table:
    """Read a JSON-lines changes feed into an :data:`ENVELOPE_ARROW`
    table on the driver, with no Spark job. A line that is not a JSON
    object (or an array of them) is skipped, as Spark's permissive
    reader makes it an all-NULL row that ingest drops; a field of the
    wrong JSON type reads as NULL. ``since``, a seq token, keeps only
    the later changes. Built a chunk of lines at a time."""
    floor = None if since is None else extract_seq_number(since)
    chunks: list[pa.RecordBatch] = []
    cols: tuple[list, list, list, list] = ([], [], [], [])

    def flush():
        if cols[0]:
            arrays = [pa.array(c, f.type) for c, f in zip(cols, ENVELOPE_ARROW)]
            chunks.append(pa.record_batch(arrays, schema=ENVELOPE_ARROW))
            for c in cols:
                c.clear()

    for fp in _feed_files(path):
        with open(fp, encoding="utf-8", errors="replace") as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    obj, dumps = _parse(line)
                except ValueError:
                    continue
                for env in obj if isinstance(obj, list) else [obj]:
                    if not isinstance(env, dict):
                        continue
                    seq = _token(env.get("seq"))
                    if floor is not None and (seq is None or extract_seq_number(seq) <= floor):
                        continue
                    deleted = env.get("deleted")
                    doc = env.get("doc")
                    cols[0].append(seq)
                    cols[1].append(_token(env.get("id")))
                    cols[2].append(deleted if type(deleted) is bool else None)
                    cols[3].append(None if doc is None else doc if type(doc) is str else dumps(doc))
                    if len(cols[0]) >= CHUNK_ROWS:
                        flush()
    flush()
    return pa.Table.from_batches(chunks, schema=ENVELOPE_ARROW)


@dataclass
class TypeDocs:
    """One doc type's live docs in a page: their rows in the envelope
    table (ascending), the transformed docs' text after a
    ``doc_transform``, and the doc schema inferred from them."""

    rows: array = field(default_factory=lambda: array("q"))
    texts: list[str] | None = None
    struct: object = field(default_factory=lambda: ("struct", {}))


@dataclass
class Page:
    """An envelope batch parsed on the driver: the max-seq token, the
    tombstones (``id``, ``_cw_seq``) and each live type's docs."""

    env: pa.Table
    last_seq: str | None
    tombstones: pa.Table
    types: dict[str, TypeDocs]

    def doc_chunks(self, doc_type: str) -> Iterator[tuple[list, list]]:
        """(seqs, parsed docs) of one type, a chunk of the envelope
        table at a time: each chunk's docs are taken from that chunk
        alone, so no step copies the page's doc column."""
        docs = self.types[doc_type]
        rows = docs.rows
        start = 0
        for lo in range(0, self.env.num_rows, CHUNK_ROWS):
            end = bisect.bisect_left(rows, lo + CHUNK_ROWS, start)
            if end == start:
                continue
            part = self.env.slice(lo, CHUNK_ROWS)
            local = pa.array([r - lo for r in rows[start:end]], pa.int64())
            seqs = [None if s is None else extract_seq_number(s) for s in part["seq"].take(local).to_pylist()]
            if docs.texts is not None:
                texts = docs.texts[start:end]
                yield seqs, [loads(t) for t in texts]
            else:
                texts = part["doc"].take(local)
                yield seqs, [loads(t, big) for t, big in zip(texts.to_pylist(), _long_digits(texts))]
            start = end


TOMBSTONE_ARROW = pa.schema([("id", pa.string()), (SEQ_COL, pa.int64())])


def parse_page(
    env: pa.Table,
    split: str | None = None,
    doc_transform: Callable[[dict], dict] | None = None,
    doc_struct=None,
) -> Page:
    """Parse an envelope table on the driver (R1, R5, R8, R9).

    * ``_design/*`` changes (R9; reference index.js:55, lib/sqlite.js:70)
      and rows with no id (malformed lines) are dropped;
    * the page's last seq is the token of its highest ``_cw_seq`` (R15,
      the numeric prefix of the seq token) among the rest;
    * a ``deleted`` change is a tombstone: CouchDB tombstones carry no
      type, so it reaches every table (reference lib/sqlite.js:95-98);
    * every other change with a doc is parsed, passed through
      ``doc_transform`` (R5, a ``dict → dict`` call per doc; reference
      index.js:46-49) and routed to ``doc[split]`` (R8, reference
      index.js:52) or ``_default``; a doc that is not a JSON object, or
      has no split value, is left out;
    * each type's doc schema is inferred from its own docs, as Spark's
      JSON inference would over them (``widen``, ``canonical_type``), unless
      ``doc_struct`` declares it (``feed_schema``).
    """
    types: dict[str, TypeDocs] = {}
    tomb_ids: list[str] = []
    tomb_seqs: list[int | None] = []
    top: int | None = None
    last_seq: str | None = None
    for lo in range(0, env.num_rows, CHUNK_ROWS):
        part = env.slice(lo, CHUNK_ROWS)
        cols = zip(*(part[c].to_pylist() for c in ("seq", "id", "deleted", "doc")), _long_digits(part["doc"]))
        for i, (seq, doc_id, deleted, text, long_digits) in enumerate(cols, lo):
            if doc_id is None or doc_id.startswith(DESIGN_DOC_PREFIX):
                continue
            n = None if seq is None else extract_seq_number(seq)
            if n is not None and (top is None or n > top):
                top, last_seq = n, seq
            if deleted:
                tomb_ids.append(doc_id)
                tomb_seqs.append(n)
                continue
            if text is None:
                continue
            try:
                doc = loads(text, long_digits)
            except ValueError:
                continue
            if doc_transform is not None and isinstance(doc, dict):
                doc = doc_transform(doc)
            if not isinstance(doc, dict):
                continue
            if split is None:
                doc_type = DEFAULT_TYPE
            elif doc_struct is None:
                doc_type = _token(doc.get(split))
            else:  # the split value as the declared schema reads it
                declared = doc_struct[1].get(split)
                doc_type = None if declared is None else convert_value(doc.get(split), declared)
                doc_type = None if doc_type is FAILED else _token(doc_type)
            if doc_type is None:
                continue
            docs = types.get(doc_type)
            if docs is None:
                docs = types[doc_type] = TypeDocs(texts=[] if doc_transform else None)
            docs.rows.append(i)
            if doc_transform is not None:
                docs.texts.append(_json_dumps(doc))
            if doc_struct is None:
                docs.struct = widen(docs.struct, doc)
    for docs in types.values():
        docs.struct = doc_struct if doc_struct is not None else canonical_type(docs.struct) or ("struct", {})
    tombstones = pa.table([pa.array(tomb_ids, pa.string()), pa.array(tomb_seqs, pa.int64())], schema=TOMBSTONE_ARROW)
    return Page(env, last_seq, tombstones, types)
