"""Mango (CouchDB ``_find``) selector → Catalyst ``Column`` compiler (R4).

The reference forwards the ``--query`` Mango selector to CouchDB so
the server filters the changes feed (reference index.js:101-104;
validation at index.js:202-214 — the user passes the selector BODY,
not a ``{"selector": ...}`` wrapper). In our engine the same JSON
compiles to a Catalyst predicate applied before any shuffle — the
direct pushdown analog: Catalyst forwards it into the parquet scan.

Supported operators (CouchDB Mango, public API docs):
``$eq $ne $gt $gte $lt $lte $in $nin $exists $regex $and $or $not
$nor $size $mod $all $elemMatch $allMatch $type $beginsWith`` plus
the implicit forms — ``{field: value}`` ≡ ``{field: {"$eq": value}}``
and multiple keys ≡ ``$and``. Nested field paths use dotted keys
(``"address.city"``) which map to the flattened ``address_city``
column when ``flattened=True``. Array-element conditions
(``$elemMatch``/``$allMatch``) compile to ``exists``/``forall``
higher-order expressions — JVM-side, per-row, no explode.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column
from pyspark.sql import functions as F


class MangoError(ValueError):
    """Invalid Mango selector (mirrors the reference's hard exit on
    bad query JSON, reference index.js:204-214)."""


def _flat_name(field: str) -> str:
    """The flattened column a dotted selector field addresses."""
    return field.replace(".", "_")


def _field_col(field: str, flattened: bool) -> Column:
    if flattened:
        return F.col(_flat_name(field))
    # dotted path → nested struct access
    return F.col(field)


def _compile_field(field: str, cond, flattened: bool) -> Column:
    col = _field_col(field, flattened)
    if not isinstance(cond, Mapping):
        return col == F.lit(cond)  # implicit $eq
    parts: list[Column] = []
    for op, val in cond.items():
        if op == "$eq":
            parts.append(col == F.lit(val))
        elif op == "$ne":
            # Mango $ne matches docs where the field is missing too;
            # on a conformed table that is a NULL — include it.
            parts.append((col != F.lit(val)) | col.isNull())
        elif op == "$gt":
            parts.append(col > F.lit(val))
        elif op == "$gte":
            parts.append(col >= F.lit(val))
        elif op == "$lt":
            parts.append(col < F.lit(val))
        elif op == "$lte":
            parts.append(col <= F.lit(val))
        elif op == "$in":
            parts.append(col.isin(list(val)))
        elif op == "$nin":
            parts.append(~col.isin(list(val)) | col.isNull())
        elif op == "$exists":
            parts.append(col.isNotNull() if val else col.isNull())
        elif op == "$regex":
            parts.append(col.rlike(val))
        elif op == "$size":
            parts.append(F.size(col) == F.lit(val))
        elif op == "$mod":
            # Strict shape check: a dict or string also unpacks into
            # two values (keys / characters) and would silently compile
            # to nonsense — only a 2-element list/tuple is valid Mango.
            if not isinstance(val, (list, tuple)) or len(val) != 2:
                raise MangoError("$mod takes [divisor, remainder]")
            divisor, remainder = val
            parts.append(col % F.lit(divisor) == F.lit(remainder))
        elif op == "$all":
            if not val:
                raise MangoError("$all requires a non-empty array")
            parts.append(
                _and_all([F.array_contains(col, F.lit(v)) for v in val])
            )
        elif op in ("$elemMatch", "$allMatch"):
            if isinstance(cond_ := val, Mapping) and not cond_:
                raise MangoError(f"{op} requires a non-empty condition")
            pred = _elem_predicate(val)
            parts.append(
                F.exists(col, pred) if op == "$elemMatch" else F.forall(col, pred)
            )
        elif op == "$type":
            parts.append(_type_predicate(col, val))
        elif op == "$beginsWith":
            parts.append(col.startswith(val))
        elif op == "$not":
            parts.append(_negate(_compile_field(field, val, flattened)))
        else:
            raise MangoError(f"unsupported Mango operator {op!r} on field {field!r}")
    return _and_all(parts)


def _elem_predicate(cond):
    """Element-level condition for ``$elemMatch``/``$allMatch``:
    operator maps and implicit ``$eq`` apply to the array element
    itself; plain field keys address struct-element fields."""

    def pred(e: Column) -> Column:
        if not isinstance(cond, Mapping):
            return e == F.lit(cond)
        parts: list[Column] = []
        for op, val in cond.items():
            if op == "$eq":
                parts.append(e == F.lit(val))
            elif op == "$ne":
                parts.append((e != F.lit(val)) | e.isNull())
            elif op == "$gt":
                parts.append(e > F.lit(val))
            elif op == "$gte":
                parts.append(e >= F.lit(val))
            elif op == "$lt":
                parts.append(e < F.lit(val))
            elif op == "$lte":
                parts.append(e <= F.lit(val))
            elif op == "$in":
                parts.append(e.isin(list(val)))
            elif op == "$regex":
                parts.append(e.rlike(val))
            elif op == "$beginsWith":
                parts.append(e.startswith(val))
            elif not op.startswith("$"):
                # struct-element field, e.g. {"price": {"$gt": 10}}
                sub = val if isinstance(val, Mapping) else {"$eq": val}
                inner = _elem_predicate(sub)
                parts.append(inner(e[op]))
            else:
                raise MangoError(f"unsupported $elemMatch operator {op!r}")
        return _and_all(parts)

    return pred


_MANGO_NUMERIC_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
)


def _type_predicate(col: Column, val) -> Column:
    """``$type``: runtime type tag check via ``typeof`` (Mango types:
    null/boolean/number/string/array/object)."""
    t = F.typeof(col)
    if val == "null":
        return col.isNull()
    if val == "boolean":
        return col.isNotNull() & (t == "boolean")
    if val == "string":
        return col.isNotNull() & (t == "string")
    if val == "number":
        return col.isNotNull() & (
            t.isin(*_MANGO_NUMERIC_TYPES) | t.startswith("decimal")
        )
    if val == "array":
        return col.isNotNull() & t.startswith("array")
    if val == "object":
        return col.isNotNull() & t.startswith("struct")
    raise MangoError(f"unsupported $type value {val!r}")


def _negate(cond: Column) -> Column:
    """Mango negation complements the MATCHED set: a doc whose field is
    missing doesn't match the inner condition (NULL in SQL), so it
    MUST match the negation — coalesce NULL→false before ``~`` or
    three-valued logic silently drops those docs."""
    return ~F.coalesce(cond, F.lit(False))


def _and_all(parts: list[Column]) -> Column:
    if not parts:  # vacuous conjunction (e.g. {field: {}}): match all
        return F.lit(True)
    out = parts[0]
    for p in parts[1:]:
        out = out & p
    return out


def _or_all(parts: list[Column]) -> Column:
    if not parts:  # vacuous disjunction: match none
        return F.lit(False)
    out = parts[0]
    for p in parts[1:]:
        out = out | p
    return out


def selector_fields(selector: Mapping) -> set[str]:
    """The flattened column names a selector's field conditions read
    (through ``$and``/``$or``/``$nor``/``$not``), as
    ``compile_selector`` addresses them: a caller whose frame may lack
    one can supply it as a NULL column first."""
    out: set[str] = set()
    for key, val in selector.items():
        if key in ("$and", "$or", "$nor"):
            for sub in val:
                out |= selector_fields(sub)
        elif key == "$not":
            out |= selector_fields(val)
        elif not key.startswith("$"):
            out.add(_flat_name(key))
    return out


def compile_selector(selector: Mapping, flattened: bool = True) -> Column:
    """Compile a Mango selector body into one boolean ``Column``.

    ``flattened=True`` (default) addresses the post-flatten wide
    table (dotted paths → ``_``-joined columns); ``False`` addresses
    nested structs directly.
    """
    if not isinstance(selector, Mapping):
        raise MangoError(f"selector must be an object, got {type(selector).__name__}")
    if "selector" in selector:
        # Same guard as the reference (index.js:210-213): the user
        # passes the selector body, not the wrapper.
        raise MangoError('do not wrap the query in a "selector" attribute')
    if not selector:
        return F.lit(True)
    parts: list[Column] = []
    for key, val in selector.items():
        if key == "$and":
            parts.append(_and_all([compile_selector(s, flattened) for s in val]))
        elif key == "$or":
            parts.append(_or_all([compile_selector(s, flattened) for s in val]))
        elif key == "$nor":
            parts.append(_negate(_or_all([compile_selector(s, flattened) for s in val])))
        elif key == "$not":
            parts.append(_negate(compile_selector(val, flattened)))
        elif key.startswith("$"):
            raise MangoError(f"unsupported top-level Mango operator {key!r}")
        else:
            parts.append(_compile_field(key, val, flattened))
    return _and_all(parts)
