"""Document-ETL kernel: flatten, schema discovery, conformance.

This is the reference's core product (SURVEY.md §1, §2.A R6/R7/R13):
every CouchDB document entering the warehouse is flattened to a wide
row, the first document of each type freezes the table schema, and
all later documents are conformed to it (extra fields dropped,
missing fields null-filled).

Semantics reproduced (cited for parity, no code copied):

* flatten — reference lib/flatten.js:25-50, expected values at
  reference test/flatten.js:28-39: nested objects become
  ``parent_child`` columns, arrays become JSON text, ``_id``/``_rev``
  are renamed ``id``/``rev``.
* schema discovery — reference lib/schema.js:4-14, expected map at
  reference test/schema.js:26-41: flatten, then map every value to
  JS ``typeof`` → exactly three logical types
  ``string | number | boolean``.
* conformance — reference lib/sqlite.js:87-92 (insert iterates the
  frozen schema's keys only) and test/run_evolve.js:53-69: extra
  fields silently dropped, missing fields become NULL.
* sequence extraction — reference index.js:30-32: ``'47-1abc2' → 47``.
* identifier sanitisation — reference lib/util.js:1-11: ``-`` stripped
  from database/docType names; split-mode table name is
  ``db_docType``.

Three lanes:

* **Reference contract** (``flatten_doc`` / ``discover_schema``) —
  per-doc functions with the reference's own semantics (NULL fields
  dropped, ``typeof`` types), checked against its unit expectations.
* **Driver lane** (``widen`` / ``flatten_docs`` / ``conform_table``) — the ingest path: a page of parsed docs becomes
  an Arrow table on the driver, with the results Spark's JSON
  inference, ``from_json`` and the DataFrame lane below give — struct
  fields name-sorted and flattened depth first, a number mixed with a
  string or boolean and a struct mixed with a scalar inferred as
  string (the value then reads as its JSON text), arrays as the JSON
  text ``to_json`` writes, and conformance by Spark's ``try_cast``
  rules, doubles written as the JVM's ``Double.toString``.
* **DataFrame** (``flatten_frame`` / ``conform_frame``) — projection
  builders that compile the same semantics into a single Catalyst
  ``select`` for frames already in Spark (the registry's ETL entries).
  A flatten is just column aliasing + ``to_json`` — zero shuffle, fully
  codegen'd, pushdown-transparent.
"""

from __future__ import annotations

import json
import math
import re
import struct
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Logical → Spark type, per the reference's 3-type system
# (reference lib/schema.js:9-11 via JS typeof; physical mappings at
# lib/sqlite.js:26-30 TEXT/REAL/INTEGER). Numbers are DoubleType
# because JS has only doubles.
LOGICAL_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "number": T.DoubleType(),
    "boolean": T.BooleanType(),
}


def combine(prefix: str, key: str) -> str:
    """Join a column-name prefix and key with ``_`` (lib/flatten.js:7-9)."""
    return f"{prefix}_{key}" if prefix else key


def flatten_doc(doc: Mapping, prefix: str = "") -> dict:
    """Flatten one JSON document to a wide row (reference lib/flatten.js:25-50).

    * top level: ``_id`` → ``id``, ``_rev`` → ``rev``
    * nested dicts recurse with a ``parent_child`` prefix
    * lists are serialised to JSON text (compact separators — matching
      ``JSON.stringify``, lib/flatten.js:45)
    * ``None`` values are dropped (the reference treats JS ``null`` as
      an object — ``typeof null === 'object'`` — so the key vanishes
      during recursion; we mirror that deliberately)
    """
    out: dict = {}
    items = list(doc.items())
    if not prefix:
        renamed = []
        for k, v in items:
            if k == "_id":
                renamed.append(("id", v))
            elif k == "_rev":
                renamed.append(("rev", v))
            else:
                renamed.append((k, v))
        items = renamed
    for k, v in items:
        if isinstance(v, Mapping):
            out.update(flatten_doc(v, combine(prefix, k)))
        elif v is None:
            continue
        elif isinstance(v, (list, tuple)):
            out[combine(prefix, k)] = json.dumps(list(v), separators=(",", ":"))
        else:
            out[combine(prefix, k)] = v
    return out


def typeof(value) -> str:
    """JS ``typeof`` → the reference's 3 logical types (lib/schema.js:9-11)."""
    if isinstance(value, bool):  # bool before int: True is an int in Python
        return "boolean"
    if isinstance(value, (int, float)):
        return "number"
    return "string"


def discover_schema(doc: Mapping) -> dict[str, str]:
    """First-doc schema discovery (reference lib/schema.js:4-14).

    Flatten, then map each value to its logical type. The caller
    freezes the result per docType (first-writer-wins,
    reference index.js:55-68).
    """
    return {k: typeof(v) for k, v in flatten_doc(doc).items()}


def schema_to_struct(schema: Mapping[str, str]) -> T.StructType:
    """Logical schema dict → Spark StructType (all fields nullable)."""
    return T.StructType(
        [T.StructField(k, LOGICAL_TO_SPARK[v], True) for k, v in schema.items()]
    )


def generate_create_table_sql(
    table: str, schema: Mapping[str, str], reset: bool = False, using: str = "parquet"
) -> list[str]:
    """DDL generation (R10; reference lib/sqlite.js:23-52).

    Returns the ``[DROP?, CREATE IF NOT EXISTS]`` statement list for
    ``spark.sql``. ``id`` has no PRIMARY KEY (Spark tables are not
    constrained) — uniqueness is enforced by the latest-wins upsert
    (operators.upsert).
    """
    cols = ", ".join(
        f"`{k}` {LOGICAL_TO_SPARK[v].simpleString().upper()}" for k, v in schema.items()
    )
    stmts = []
    if reset:
        stmts.append(f"DROP TABLE IF EXISTS `{table}`")
    stmts.append(f"CREATE TABLE IF NOT EXISTS `{table}` ({cols}) USING {using}")
    return stmts


# --------------------------------------------------------------------------
# DataFrame lane
# --------------------------------------------------------------------------


def _flatten_fields(schema: T.StructType, parent: Column | None, prefix: str) -> list[Column]:
    cols: list[Column] = []
    for field in schema.fields:
        name = field.name
        if not prefix and name in ("_id", "_rev"):
            out_name = name[1:]  # _id → id, _rev → rev (lib/flatten.js:29-32)
        else:
            out_name = combine(prefix, name)
        child = parent[name] if parent is not None else F.col(f"`{name}`")
        if isinstance(field.dataType, T.StructType):
            cols.extend(_flatten_fields(field.dataType, child, out_name))
        elif isinstance(field.dataType, T.ArrayType):
            # Arrays → JSON text (lib/flatten.js:45). The typed lane
            # (keep_arrays=True path below) retains the ArrayType too.
            cols.append(F.to_json(child).alias(out_name))
        else:
            cols.append(child.alias(out_name))
    return cols


def flatten_frame(df: DataFrame) -> DataFrame:
    """Flatten nested struct columns into ``parent_child`` scalars (R6).

    One Catalyst projection — no UDF, no shuffle; struct field access
    compiles to a columnar read, so at 100 TB this costs exactly a
    parquet scan of the referenced leaves.
    """
    return df.select(_flatten_fields(df.schema, None, ""))


def conform_frame(
    df: DataFrame,
    schema: Mapping[str, str] | T.StructType,
    keep: list[str] | None = None,
) -> DataFrame:
    """Frozen-schema conformance projection (R13).

    Projects exactly the frozen schema's columns, in its order:
    columns the batch lacks become typed NULLs, extra columns are
    dropped — matching reference lib/sqlite.js:87-92 (insert iterates
    schema keys, binding missing values as NULL) as verified by
    reference test/run_evolve.js:53-69. Existing columns are
    ``try_cast`` to the frozen type: a doc that flips e.g.
    number→string lands as NULL in that column instead of poisoning
    the table — and, under Spark 4's default ANSI mode, instead of
    throwing CAST_INVALID_INPUT and wedging the stream on a single
    poison doc (the batch would replay and fail forever). ``keep``
    carries named passthrough columns (e.g. the change-seq) alongside
    the conformed schema.
    """
    struct = schema if isinstance(schema, T.StructType) else schema_to_struct(schema)
    have = set(df.columns)
    cols = [
        (
            F.col(f.name).try_cast(f.dataType)
            if f.name in have
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in struct.fields
    ]
    cols += [F.col(k) for k in (keep or []) if k in have]
    return df.select(cols)


# --------------------------------------------------------------------------
# Identifier / sequence helpers
# --------------------------------------------------------------------------


def sanitize_identifier(name: str) -> str:
    """Strip ``-`` from identifiers (R16; reference lib/util.js:1-3)."""
    return name.replace("-", "")


def usable_table_name(db_name: str, doc_type: str | None = None, split: bool = False) -> str:
    """Warehouse table name (reference lib/util.js:5-11).

    ``db`` normally; ``db_docType`` in split mode.
    """
    if split and doc_type:
        return f"{sanitize_identifier(db_name)}_{sanitize_identifier(doc_type)}"
    return sanitize_identifier(db_name)


_SEQ_RE = re.compile(r"-.*$")


def extract_seq_number(seq: str) -> int:
    """``'47-1abc2' → 47`` (R15; reference index.js:30-32)."""
    return int(_SEQ_RE.sub("", seq))


def seq_number_col(seq: Column | str) -> Column:
    """Column-lane equivalent of :func:`extract_seq_number`."""
    c = F.col(seq) if isinstance(seq, str) else seq
    return F.regexp_replace(c, "-.*$", "").cast("long")


# --------------------------------------------------------------------------
# Driver lane: one ingest page, parsed, inferred, flattened and
# conformed on the driver into Arrow, with the results the DataFrame
# lane's JSON inference, ``from_json``, ``flatten_frame`` and
# ``conform_frame`` give.
# --------------------------------------------------------------------------

# Inferred types, mirroring Spark's JSON inference lattice
# (JsonInferSchema): atomic names, ("decimal", precision, scale),
# ("array", element) and ("struct", {name: type}).
NULL, STRING, LONG, DOUBLE, BOOLEAN = "null", "string", "long", "double", "boolean"
_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1
_MAX_PRECISION = 38


def _decimal_of_int(v: int):
    """A JSON integer beyond a long: Spark infers DECIMAL(digits, 0),
    or DOUBLE past DECIMAL's 38 digits."""
    p = len(str(abs(v)))
    return ("decimal", p, 0) if p <= _MAX_PRECISION else DOUBLE


def _wider_decimal(a, b):
    scale = max(a[2], b[2])
    rng = max(a[1] - a[2], b[1] - b[2])
    return ("decimal", min(rng + scale, _MAX_PRECISION), min(scale, _MAX_PRECISION))


def _merge_number(t, n):
    """Spark's ``compatibleType`` of an inferred type ``t`` and a number
    type ``n``: NULL gives way, numbers widen (long < decimal < double),
    anything else with a number is a string."""
    if t == NULL or t == n:
        return n
    kt = t[0] if type(t) is tuple else t
    kn = n[0] if type(n) is tuple else n
    if kt not in (LONG, DOUBLE, "decimal"):
        return STRING
    if DOUBLE in (kt, kn):
        return DOUBLE
    if kt == kn:
        return _wider_decimal(t, n)
    dec = t if kt == "decimal" else n
    return dec if dec[1] - dec[2] >= 20 else _wider_decimal(("decimal", 20, 0), dec)


def widen(t, v):
    """``t`` merged with the inferred type of the JSON value ``v``,
    without building ``v``'s type first. Struct types are
    accumulators: their field dict is updated in place."""
    if v is None:
        return t
    tv = type(v)
    if tv is str:
        return STRING
    if tv is dict:
        if t == NULL:
            t = ("struct", {})
        elif type(t) is not tuple or t[0] != "struct":
            return STRING
        fields = t[1]
        for k, x in v.items():
            # The common leaves inline; anything else recurses.
            ft = fields.get(k, NULL)
            tx = type(x)
            if tx is str:
                fields[k] = STRING
            elif x is None:
                fields[k] = ft
            elif tx is float and (ft == DOUBLE or ft == NULL or ft == LONG):
                fields[k] = DOUBLE
            elif tx is int and (ft == LONG or ft == NULL) and _LONG_MIN <= x <= _LONG_MAX:
                fields[k] = LONG
            elif tx is bool and (ft == BOOLEAN or ft == NULL):
                fields[k] = BOOLEAN
            else:
                fields[k] = widen(ft, x)
        return t
    if tv is bool:
        return BOOLEAN if t == NULL or t == BOOLEAN else STRING
    if tv is int:
        if _LONG_MIN <= v <= _LONG_MAX:
            if t == NULL or t == LONG:
                return LONG
            if t == DOUBLE:
                return DOUBLE
        return _merge_number(t, LONG if _LONG_MIN <= v <= _LONG_MAX else _decimal_of_int(v))
    if tv is float:
        return _merge_number(t, DOUBLE)
    if tv is list or tv is tuple:
        if t == NULL:
            t = ("array", NULL)
        elif type(t) is not tuple or t[0] != "array":
            return STRING
        e = t[1]
        for x in v:
            e = widen(e, x)
        return ("array", e)
    # Subclasses (a ``doc_transform`` may return them) as their JSON kind.
    for kind in (bool, int, float, str, dict, list):
        if isinstance(v, kind):
            return widen(t, kind(v))
    if isinstance(v, Mapping):
        return widen(t, dict(v))
    raise TypeError(f"not a JSON value: {type(v).__name__}")


def _utf16_key(name: str) -> bytes:
    # Spark orders struct fields by Java string comparison: UTF-16 code units.
    return name.encode("utf-16-be", "surrogatepass")


def canonical_type(t):
    """Spark's ``canonicalizeType``: NULL becomes string, fields with
    an empty name and empty structs go (an array of them too), and a
    struct's fields are sorted by name. None: the type vanishes."""
    if t == NULL:
        return STRING
    if isinstance(t, tuple) and t[0] == "struct":
        fields = {}
        for k in sorted(t[1], key=_utf16_key):
            c = canonical_type(t[1][k]) if k else None
            if c is not None:
                fields[k] = c
        return ("struct", fields) if fields else None
    if isinstance(t, tuple) and t[0] == "array":
        e = canonical_type(t[1])
        return None if e is None else ("array", e)
    return t


def struct_of_spark(dtype: T.DataType):
    """An inferred-type tree for a declared Spark type (``feed_schema``):
    struct fields keep their declared order."""
    if isinstance(dtype, T.StructType):
        return ("struct", {f.name: struct_of_spark(f.dataType) for f in dtype.fields})
    if isinstance(dtype, T.ArrayType):
        return ("array", struct_of_spark(dtype.elementType))
    if isinstance(dtype, T.StringType):
        return STRING
    if isinstance(dtype, T.BooleanType):
        return BOOLEAN
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return LONG
    if isinstance(dtype, T.DoubleType):
        return DOUBLE
    if isinstance(dtype, T.DecimalType):
        return ("decimal", dtype.precision, dtype.scale)
    raise ValueError(f"feed_schema type {dtype.simpleString()} is not supported")


# -- JSON text, as Spark's Jackson generator writes it -----------------------

_ESCAPES = {"\b": "\\b", "\t": "\\t", "\n": "\\n", "\f": "\\f", "\r": "\\r", '"': '\\"', "\\": "\\\\"}
_NEEDS_ESCAPE = re.compile(r'[\x00-\x1f"\\]')


def _quote(s: str) -> str:
    if not _NEEDS_ESCAPE.search(s):
        return '"' + s + '"'
    return '"' + _NEEDS_ESCAPE.sub(lambda m: _ESCAPES.get(m.group(), "\\u%04X" % ord(m.group())), s) + '"'


def java_double(d: float) -> str:
    """``Double.toString`` as the JVM Spark runs on writes it (JDK 17's
    ``FloatingDecimal``, ported in ``_java_digits``): plain notation for
    1e-3 <= |d| < 1e7, with at least one fraction digit, else
    ``d.dddE±n``."""
    if d != d:
        return "NaN"
    if d in (float("inf"), float("-inf")):
        return "Infinity" if d > 0 else "-Infinity"
    sign = "-" if math.copysign(1.0, d) < 0 else ""
    if d == 0:
        return sign + "0.0"
    digits, exp = _java_digits(abs(d))
    if 0 < exp < 8:
        whole = digits[:exp].ljust(exp, "0")
        return f"{sign}{whole}.{digits[exp:] or '0'}"
    if -3 < exp <= 0:
        return f"{sign}0.{'0' * -exp}{digits}"
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{exp - 1}"


# 5**i's bit length, as FloatingDecimal tabulates it for i < 27.
_N_5_BITS = [(5**i).bit_length() for i in range(27)]


def _wrap(v: int, width: int | None) -> int:
    """``v`` as a two's-complement int of ``width`` bits (None: exact)."""
    if width is None:
        return v
    v &= (1 << width) - 1
    return v - (1 << width) if v >> (width - 1) else v


def _java_digits(d: float) -> tuple[str, int]:
    """The digits and decimal exponent (``d = 0.digits × 10**exp``) that
    JDK 17's ``FloatingDecimal.BinaryToASCIIBuffer.dtoa`` gives for a
    positive finite double — not always the shortest that round-trips
    (powers of two, integers past 2**53), so Python's ``repr`` would
    differ. Its int and long fast paths wrap as Java's arithmetic does."""
    bits = struct.unpack(">q", struct.pack(">d", d))[0]
    fract = bits & ((1 << 52) - 1)
    bin_exp = (bits >> 52) & 0x7FF
    if bin_exp == 0:  # subnormal
        shift = (64 - fract.bit_length()) - 11
        fract <<= shift
        bin_exp = 1 - shift
        n_sig = fract.bit_length() - shift
    else:
        fract |= 1 << 52
        n_sig = 53
    bin_exp -= 1023
    tail = (fract & -fract).bit_length() - 1
    n_fract_bits = 53 - tail
    n_tiny = max(0, n_fract_bits - bin_exp - 1)
    if -21 <= bin_exp <= 62 and n_tiny == 0:
        # An integer: all of its digits, less those below the double's
        # precision, rounded half up.
        lvalue = fract << (bin_exp - 52) if bin_exp >= 52 else fract >> (52 - bin_exp)
        insignificant = len(str(1 << (bin_exp - n_sig - 1))) - 1 if bin_exp - n_sig - 1 > 1 else 0
        exp = 0
        if insignificant:
            pow10 = 10**insignificant
            lvalue, residue = divmod(lvalue, pow10)
            exp += insignificant
            if residue >= pow10 >> 1:
                lvalue += 1
        text = str(lvalue)
        return text.rstrip("0") or "0", exp + len(text)
    d2 = struct.unpack(">d", struct.pack(">q", (0x3FF << 52) | (fract & ((1 << 52) - 1))))[0]
    dec_exp = math.floor((d2 - 1.5) * 0.289529654 + 0.176091259 + bin_exp * 0.301029995663981)
    b5 = max(0, -dec_exp)
    b2 = b5 + n_tiny + bin_exp
    s5 = max(0, dec_exp)
    s2 = s5 + n_tiny
    m5, m2 = b5, b2 - n_sig
    fract >>= tail
    b2 -= n_fract_bits - 1
    common = min(b2, s2)
    b2, s2, m2 = b2 - common, s2 - common, m2 - common
    if n_fract_bits == 1:
        m2 -= 1
    if m2 < 0:
        b2, s2, m2 = b2 - m2, s2 - m2, 0
    b_bits = n_fract_bits + b2 + (_N_5_BITS[b5] if b5 < 27 else b5 * 3)
    ten_s_bits = s2 + 1 + (_N_5_BITS[s5 + 1] if s5 + 1 < 27 else (s5 + 1) * 3)
    width = (32 if b_bits < 32 and ten_s_bits < 32 else 64) if b_bits < 64 and ten_s_bits < 64 else None
    b = (fract * 5**b5) << b2
    s = 5**s5 << s2
    m = 5**m5 << m2
    tens = s * 10

    def step(b, m):
        q, r = divmod(b, s)
        return q, _wrap(10 * r, width), _wrap(m * 10, width)

    def stop(b, m):
        if width is None:
            return b < m, b + m >= tens
        return b < m, _wrap(b + m, width) > tens

    q, b, m = step(b, m)
    low, high = stop(b, m)
    digits = []
    if q == 0 and not high:
        dec_exp -= 1
    else:
        digits.append(q)
    if dec_exp < -3 or dec_exp >= 8:
        low = high = False
    while not low and not high:
        q, b, m = step(b, m)
        if width is not None and m <= 0:
            low = high = True
        else:
            low, high = stop(b, m)
        digits.append(q)
    if width is None:
        low_diff = (2 * b > tens) - (2 * b < tens) if high and low else 0
    else:
        low_diff = _wrap(_wrap(b << 1, width) - tens, width)
    exp = dec_exp + 1
    if high and (not low or low_diff > 0 or (low_diff == 0 and digits[-1] & 1)):
        i = len(digits) - 1
        while digits[i] == 9 and i > 0:
            digits[i] = 0
            i -= 1
        if digits[i] == 9:
            exp += 1
            digits[0] = 1
        else:
            digits[i] += 1
    return "".join(map(str, digits)), exp


def json_text(v) -> str:
    """A parsed JSON value written back as compact JSON text, as the
    string of a ``from_json`` string field that met a non-string value
    (Jackson's ``copyCurrentStructure``): keys in document order, NULLs
    kept, floats as ``Double.toString``."""
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, str):
        return _quote(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return java_double(v)
    if isinstance(v, Mapping):
        return "{" + ",".join(_quote(str(k)) + ":" + json_text(x) for k, x in v.items()) + "}"
    return "[" + ",".join(json_text(x) for x in v) + "]"


def _typed_json(v, t) -> str:
    """``to_json`` of a converted value of type ``t``: struct fields in
    schema order with NULL fields left out."""
    if v is None:
        return "null"
    if t == STRING:
        return _quote(v)
    if t == DOUBLE:
        return java_double(v) if v == v and abs(v) != float("inf") else '"' + java_double(v) + '"'
    if t == BOOLEAN:
        return "true" if v else "false"
    if t == LONG or isinstance(t, tuple) and t[0] == "decimal":
        return str(v)
    if t[0] == "array":
        return "[" + ",".join(_typed_json(x, t[1]) for x in v) + "]"
    return "{" + ",".join(
        _quote(k) + ":" + _typed_json(v[k], ft) for k, ft in t[1].items() if v[k] is not None
    ) + "}"


FAILED = object()
_NON_NUMERIC = {
    "NaN": float("nan"),
    "Infinity": float("inf"), "+Infinity": float("inf"), "+INF": float("inf"),
    "-Infinity": float("-inf"), "-INF": float("-inf"),
}


def convert_value(v, t):
    """``from_json``'s conversion of one JSON value to type ``t``:
    ``FAILED`` where Spark's parser fails the field (its partial
    result then holds NULL there)."""
    if v is None:
        return None
    if t == STRING:
        return v if type(v) is str else json_text(v)
    if t == DOUBLE:
        if type(v) is bool:
            return FAILED
        if isinstance(v, (int, float)):
            return float(v)
        return _NON_NUMERIC.get(v, FAILED) if isinstance(v, str) else FAILED
    if t == LONG:
        if type(v) is bool or not isinstance(v, int) or not _LONG_MIN <= v <= _LONG_MAX:
            return FAILED
        return v
    if t == BOOLEAN:
        return v if type(v) is bool else FAILED
    kind = t[0]
    if kind == "decimal":
        if type(v) is bool or not isinstance(v, (int, float)):
            return FAILED
        import decimal

        q = decimal.Decimal(v).quantize(decimal.Decimal(1).scaleb(-t[2]), rounding=decimal.ROUND_HALF_UP)
        return q if len(q.as_tuple().digits) <= t[1] else FAILED
    if kind == "array":
        if not isinstance(v, (list, tuple)):
            return FAILED
        out = [convert_value(x, t[1]) for x in v]
        return [None if x is FAILED else x for x in out]
    if not isinstance(v, Mapping):
        return FAILED
    out = {k: convert_value(v.get(k), ft) for k, ft in t[1].items()}
    return {k: None if x is FAILED else x for k, x in out.items()}


def arrow_type_of(t):
    import pyarrow as pa

    if t in (STRING, NULL) or isinstance(t, tuple) and t[0] == "array":
        return pa.string()
    if t == LONG:
        return pa.int64()
    if t == DOUBLE:
        return pa.float64()
    if t == BOOLEAN:
        return pa.bool_()
    return pa.decimal128(t[1], t[2])


def flat_columns(struct, prefix: str = "", path: tuple = ()) -> list[tuple[str, tuple, object]]:
    """The flattened columns of a doc struct, depth first, as
    ``flatten_frame`` names them: (column, key path, leaf type); an
    array leaf is written as its JSON text."""
    out = []
    for name, t in struct[1].items():
        if not prefix and name in ("_id", "_rev"):
            col = name[1:]
        else:
            col = combine(prefix, name)
        if isinstance(t, tuple) and t[0] == "struct":
            out.extend(flat_columns(t, col, path + (name,)))
        else:
            out.append((col, path + (name,), t))
    return out


def flatten_rows(docs, columns) -> list[list]:
    """One Python list per flattened column for ``docs`` (parsed
    dicts), values converted as ``from_json`` and ``flatten_frame``
    would leave them."""
    out = []
    for _, path, t in columns:
        if len(path) == 1:
            values = [d.get(path[0]) for d in docs]
        else:
            values = []
            for d in docs:
                v = d
                for k in path:
                    v = v.get(k) if type(v) is dict else v.get(k) if isinstance(v, Mapping) else None
                    if v is None:
                        break
                values.append(v)
        if t == STRING:
            values = [v if v is None or type(v) is str else json_text(v) for v in values]
        else:
            is_array = type(t) is tuple and t[0] == "array"
            for i, v in enumerate(values):
                if v is not None:
                    v = convert_value(v, t)
                    values[i] = None if v is FAILED else _typed_json(v, t) if is_array else v
        out.append(values)
    return out


# -- conformance casts (Spark's try_cast) ------------------------------------

_JAVA_DOUBLE = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+)[fFdD]?)"
)
_SPECIAL_DOUBLES = {
    "inf": float("inf"), "+inf": float("inf"), "infinity": float("inf"),
    "+infinity": float("inf"), "-inf": float("-inf"), "-infinity": float("-inf"),
    "nan": float("nan"),
}
_TRUE_STRINGS = frozenset(("t", "true", "y", "yes", "1"))
_FALSE_STRINGS = frozenset(("f", "false", "n", "no", "0"))


def string_to_double(s: str) -> float | None:
    """``try_cast(s AS DOUBLE)``: Java's ``Double.parseDouble`` (trimmed,
    decimal or hex, optional f/d suffix), then Spark's special
    literals (inf, infinity, nan in any case); NULL otherwise."""
    j = s.strip("".join(chr(c) for c in range(33)))
    if _JAVA_DOUBLE.fullmatch(j):
        body = j[:-1] if j[-1] in "fFdD" else j
        return float.fromhex(body) if "x" in body.lower() else float(body)
    return _SPECIAL_DOUBLES.get(j.lower())


def string_to_boolean(s: str) -> bool | None:
    """``try_cast(s AS BOOLEAN)``: Spark's true/false spellings."""
    v = s.strip().lower()
    return True if v in _TRUE_STRINGS else False if v in _FALSE_STRINGS else None


def logical_of_arrow(t) -> str:
    """The reference's logical type of a flattened Arrow column."""
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t):
        return "number"
    return "string"


LOGICAL_TO_ARROW_NAME = {"string": "string", "number": "float64", "boolean": "bool"}


def cast_column(col, logical: str):
    """``try_cast`` of one Arrow column to a logical type's Arrow type,
    with Spark's results: numbers to text as ``Double.toString``, text
    to numbers as ``Double.parseDouble``, text to booleans by Spark's
    spellings, numbers to booleans as ``!= 0``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    target = pa.type_for_alias(LOGICAL_TO_ARROW_NAME[logical])
    src = col.type
    if src == target:
        return col
    if pa.types.is_null(src):
        return pa.nulls(len(col), target)
    if pa.types.is_large_string(src):
        col, src = pc.cast(col, pa.string()), pa.string()
    if logical == "string":
        if pa.types.is_floating(src):
            col = pc.cast(col, pa.float64())
            return pa.array([None if v is None else java_double(v) for v in col.to_pylist()], target)
        if pa.types.is_decimal(src):
            return pa.array([None if v is None else str(v) for v in col.to_pylist()], target)
        return pc.cast(col, target)
    if pa.types.is_string(src):
        parse = string_to_double if logical == "number" else string_to_boolean
        return pa.array([None if v is None else parse(v) for v in col.to_pylist()], target)
    if logical == "number":
        if pa.types.is_decimal(src):
            return pa.array([None if v is None else float(v) for v in col.to_pylist()], target)
        return pc.cast(col, target, safe=False)
    if pa.types.is_boolean(src):
        return col
    return pc.not_equal(pc.cast(col, pa.float64(), safe=False), 0.0)


def flatten_docs(chunks, struct):
    """The flattened Arrow page of one doc type (R6): ``_cw_seq`` and
    one column per leaf of ``struct`` (``flat_columns``), typed as the
    inferred leaf (arrays as JSON text), for ``chunks`` of (seqs,
    parsed docs). Each chunk becomes Arrow before the next is drawn."""
    import pyarrow as pa

    from couchwarehouse_spark.operators.upsert import SEQ_COL

    columns = flat_columns(struct)
    schema = pa.schema([(SEQ_COL, pa.int64())] + [(name, arrow_type_of(t)) for name, _, t in columns])
    batches = [
        pa.record_batch(
            [pa.array(seqs, pa.int64())]
            + [pa.array(values, f.type) for values, f in zip(flatten_rows(docs, columns), list(schema)[1:])],
            schema=schema,
        )
        for seqs, docs in chunks
    ]
    return pa.Table.from_batches(batches, schema=schema)


def conform_table(flat, schema: Mapping[str, str], keep: list[str] | None = None):
    """Frozen-schema conformance of an Arrow page (R13), with
    ``conform_frame``'s results: exactly the frozen schema's columns,
    in its order, a column the page lacks as NULLs, every other column
    ``try_cast`` to its frozen type (``cast_column``), plus the ``keep``
    columns the page has."""
    import pyarrow as pa

    have = set(flat.column_names)
    names, arrays = [], []
    for name, logical in schema.items():
        names.append(name)
        if name in have:
            arrays.append(cast_column(flat[name], logical))
        else:
            arrays.append(pa.nulls(flat.num_rows, pa.type_for_alias(LOGICAL_TO_ARROW_NAME[logical])))
    for k in keep or []:
        if k in have:
            names.append(k)
            arrays.append(flat[k])
    return pa.table(arrays, names=names)
