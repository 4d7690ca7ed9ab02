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


# --------------------------------------------------------------------------
# The same selectors over an Arrow table (the driver-side ingest lane):
# ``compile_arrow_selector`` gives a function from a table to its
# boolean mask, with SQL's three-valued logic — NULL where the Column
# above is NULL — built from pyarrow compute kernels.
# --------------------------------------------------------------------------


def _arrow_column(table, name: str):
    """``name`` as Spark resolves it (exactly, else ignoring case); a
    column the table lacks reads as NULL."""
    import pyarrow as pa

    if name in table.column_names:
        return table[name].combine_chunks()
    folded = [c for c in table.column_names if c.lower() == name.lower()]
    return table[folded[0]].combine_chunks() if folded else pa.nulls(table.num_rows)


def _nulls(n: int):
    import pyarrow as pa

    return pa.nulls(n, pa.bool_())


def _compare(fn: str, col, val):
    """``col <op> lit(val)``: the literal takes the column's type when
    the kernel has no common type; NULL when neither works."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if val is None or pa.types.is_null(col.type):
        return _nulls(len(col))
    try:
        return pc.call_function(fn, [col, pa.scalar(val)])
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid, pa.ArrowTypeError):
        pass
    try:
        return pc.call_function(fn, [col, pa.scalar(val).cast(col.type)])
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid, pa.ArrowTypeError):
        return _nulls(len(col))


def _is_in(col, vals):
    """SQL ``col IN (vals)``: NULL for a NULL value, and for a miss when
    the list holds a NULL."""
    import pyarrow.compute as pc

    vals = list(vals)
    hits = _or_arrow([_compare("equal", col, v) for v in vals if v is not None], len(col))
    if any(v is None for v in vals):
        hits = pc.if_else(hits, True, None)
    return hits


def _per_row(col, elem_mask, forall: bool):
    """Spark's ``exists`` (``forall``) over list ``col`` of a mask on its
    flattened elements: TRUE (FALSE) when one element says so, else
    NULL when one is NULL, else FALSE (TRUE); NULL for a NULL list."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(col)
    parents = pc.list_parent_indices(col).to_numpy()
    hit = elem_mask.fill_null(forall).to_numpy(zero_copy_only=False)
    decided = np.bincount(parents[hit != forall], minlength=n) > 0
    unknown = np.bincount(parents[elem_mask.is_null().to_numpy(zero_copy_only=False)], minlength=n) > 0
    out = np.where(decided, not forall, forall)
    return pa.array(out, mask=(~decided & unknown) | col.is_null().to_numpy(zero_copy_only=False))


def _arrow_field(cond, mango_ops: bool = True):
    """A field condition as a function of the field's Arrow column."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not isinstance(cond, Mapping):
        return lambda col: _compare("equal", col, cond)
    parts = []
    cmp = {"$eq": "equal", "$gt": "greater", "$gte": "greater_equal", "$lt": "less", "$lte": "less_equal"}
    for op, val in cond.items():
        if op in cmp:
            parts.append(lambda col, f=cmp[op], v=val: _compare(f, col, v))
        elif op == "$ne":
            parts.append(lambda col, v=val: pc.or_kleene(_compare("not_equal", col, v), pc.is_null(col)))
        elif op == "$in":
            parts.append(lambda col, v=val: _is_in(col, v))
        elif op == "$regex":
            parts.append(lambda col, v=val: pc.match_substring_regex(col, v) if pa.types.is_string(col.type) else _nulls(len(col)))
        elif op == "$beginsWith":
            parts.append(lambda col, v=val: pc.starts_with(col, v) if pa.types.is_string(col.type) else _nulls(len(col)))
        elif not mango_ops and not op.startswith("$"):
            sub = _arrow_field(val if isinstance(val, Mapping) else {"$eq": val}, mango_ops=False)
            parts.append(lambda col, k=op, f=sub: f(pc.struct_field(col, [k])))
        elif not mango_ops:
            raise MangoError(f"unsupported $elemMatch operator {op!r}")
        elif op == "$nin":
            parts.append(lambda col, v=val: pc.or_kleene(pc.invert(_is_in(col, v)), pc.is_null(col)))
        elif op == "$exists":
            parts.append(lambda col, v=val: pc.is_valid(col) if v else pc.is_null(col))
        elif op == "$size":
            parts.append(lambda col, v=val: _compare("equal", pc.list_value_length(_list(col, "$size")), v))
        elif op == "$mod":
            if not isinstance(val, (list, tuple)) or len(val) != 2:
                raise MangoError("$mod takes [divisor, remainder]")

            def mod(col, d=val[0], r=val[1]):
                if pa.types.is_null(col.type):
                    return _nulls(len(col))
                x = col.fill_null(0).to_numpy(zero_copy_only=False)
                rem = np.fmod(x, d)
                return pa.array(rem == r, mask=col.is_null().to_numpy(zero_copy_only=False))

            parts.append(mod)
        elif op == "$all":
            if not val:
                raise MangoError("$all requires a non-empty array")
            parts.append(
                lambda col, v=val: _and_arrow(
                    [_per_row(_list(col, "$all"), _compare("equal", pc.list_flatten(col), x), False) for x in v]
                )
            )
        elif op in ("$elemMatch", "$allMatch"):
            if isinstance(val, Mapping) and not val:
                raise MangoError(f"{op} requires a non-empty condition")
            elem = _arrow_field(val, mango_ops=False)
            parts.append(
                lambda col, f=elem, fa=op == "$allMatch": _per_row(
                    _list(col, "$elemMatch"), f(pc.list_flatten(col)), fa
                )
            )
        elif op == "$type":
            parts.append(_arrow_type_predicate(val))
        elif op == "$not":
            inner = _arrow_field(val)
            parts.append(lambda col, f=inner: pc.invert(f(col).fill_null(False)))
        else:
            raise MangoError(f"unsupported Mango operator {op!r}")
    return lambda col: _and_arrow([p(col) for p in parts], len(col))


def _list(col, op: str):
    import pyarrow as pa

    if not pa.types.is_list(col.type) and not pa.types.is_large_list(col.type):
        raise MangoError(f"{op} needs an array field, not {col.type}")
    return col


def _and_arrow(masks, n: int | None = None):
    import pyarrow as pa
    import pyarrow.compute as pc

    if not masks:  # vacuous conjunction: match all
        return pa.repeat(True, n or 0)
    out = masks[0]
    for m in masks[1:]:
        out = pc.and_kleene(out, m)
    return out


def _or_arrow(masks, n: int):
    import pyarrow as pa
    import pyarrow.compute as pc

    if not masks:  # vacuous disjunction: match none
        return pa.repeat(False, n)
    out = masks[0]
    for m in masks[1:]:
        out = pc.or_kleene(out, m)
    return out


def _arrow_type_predicate(val):
    """``$type`` by the column's Arrow type (Spark's ``typeof``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kinds = {
        "boolean": pa.types.is_boolean,
        "string": lambda t: pa.types.is_string(t) or pa.types.is_large_string(t),
        "number": lambda t: pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t),
        "array": lambda t: pa.types.is_list(t) or pa.types.is_large_list(t),
        "object": pa.types.is_struct,
    }
    if val == "null":
        return pc.is_null
    if val not in kinds:
        raise MangoError(f"unsupported $type value {val!r}")
    return lambda col: pc.and_(pc.is_valid(col), pa.repeat(kinds[val](col.type), len(col)))


def compile_arrow_selector(selector: Mapping):
    """Compile a Mango selector body into ``table -> boolean mask`` over
    an Arrow table of flattened columns: the rows ``compile_selector``'s
    Column keeps (TRUE), in the same three-valued logic. A field the
    table lacks reads as NULL, as a conformed column does when the doc
    lacks it."""
    if not isinstance(selector, Mapping):
        raise MangoError(f"selector must be an object, got {type(selector).__name__}")
    if "selector" in selector:
        raise MangoError('do not wrap the query in a "selector" attribute')
    import pyarrow.compute as pc

    parts = []
    for key, val in selector.items():
        if key in ("$and", "$or", "$nor"):
            subs = [compile_arrow_selector(s) for s in val]
            if key == "$and":
                parts.append(lambda t, fs=subs: _and_arrow([f(t) for f in fs], t.num_rows))
            elif key == "$or":
                parts.append(lambda t, fs=subs: _or_arrow([f(t) for f in fs], t.num_rows))
            else:
                parts.append(lambda t, fs=subs: pc.invert(_or_arrow([f(t) for f in fs], t.num_rows).fill_null(False)))
        elif key == "$not":
            inner = compile_arrow_selector(val)
            parts.append(lambda t, f=inner: pc.invert(f(t).fill_null(False)))
        elif key.startswith("$"):
            raise MangoError(f"unsupported top-level Mango operator {key!r}")
        else:
            pred = _arrow_field(val)
            parts.append(lambda t, k=_flat_name(key), f=pred: f(_arrow_column(t, k)))
    return lambda t: _and_arrow([p(t) for p in parts], t.num_rows)
