"""Mongo *query* language (used by $match, validators, join `on`,
$lookup pipelines) -> boolean Spark ``Column``.

Spec: /root/reference/docs/query.md (implemented there by pincette-mongo's
``Match`` — SURVEY.md §2.7).  Notable reference extension honored here:
``$expr`` is allowed at any nesting level, not just top level
(docs/query.md:156).

Field-presence note: on a typed DataFrame, ``$exists: true`` compiles to
IS NOT NULL when the column is in the schema and constant-false when it is
not, matching the fixtures' use of absence (FIXTURES.md §1) under a schema
model where absent fields surface as NULLs.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from pincette_json_streams_spark.operators.context import Ctx
from pincette_json_streams_spark.operators.expressions import (
    UnsupportedExpression,
    compile_expr,
)

__all__ = ["compile_query", "compile_value_query"]

_TOP_OPS = ("$and", "$or", "$nor", "$expr", "$comment")


def compile_query(query: dict, ctx: Ctx) -> Column:
    """Compile a Mongo query document to a boolean Column (conjunction of
    all its clauses)."""
    conds: list[Column] = []
    for key, value in query.items():
        if key == "$and":
            conds.append(_fold_and([compile_query(q, ctx) for q in value]))
        elif key == "$or":
            conds.append(_fold_or([compile_query(q, ctx) for q in value]))
        elif key == "$nor":
            conds.append(~_fold_or([compile_query(q, ctx) for q in value]))
        elif key == "$expr":
            conds.append(compile_expr(value, ctx).cast("boolean"))
        elif key == "$comment":
            continue
        elif key == "$jsonSchema":
            conds.append(_json_schema_root(value, ctx))
        elif key == "$sampleRate":
            # Mongo 4.4.2: keep each document with probability `value`
            # (nondeterministic by contract; $sample has the
            # deterministic seeded variant)
            conds.append(F.rand() < float(value))
        elif key.startswith("$"):
            raise UnsupportedExpression(f"unknown top-level query op {key}")
        else:
            conds.append(_field_condition(key, value, ctx))
    if not conds:
        return F.lit(True)
    return _fold_and(conds)


def compile_value_query(query: Any, col: Column, ctx: Ctx) -> Column:
    """Apply a value-level query ({$gt: 1}, {$in: [...]}, a literal, or a
    nested {field: cond} document matched against struct fields) directly
    to ``col`` — used by the $elemMatch forms
    (docs/aggregation_operators.md:195-207, docs/query.md:212)."""
    if not isinstance(query, dict):
        return col.eqNullSafe(F.lit(query))
    conds: list[Column] = []
    for op, arg in query.items():
        if op.startswith("$"):
            conds.append(_value_op(col, op, arg, ctx))
        else:
            sub = col
            for seg in op.split("."):
                sub = sub.getField(seg)
            conds.append(compile_value_query(arg, sub, ctx))
    return _fold_and(conds) if conds else F.lit(True)


def _value_op(col: Column, op: str, arg: Any, ctx: Ctx) -> Column:
    if op == "$eq":
        return col.eqNullSafe(F.lit(arg))
    if op == "$ne":
        return ~col.eqNullSafe(F.lit(arg))
    if op == "$gt":
        return col > F.lit(arg)
    if op == "$gte":
        return col >= F.lit(arg)
    if op == "$lt":
        return col < F.lit(arg)
    if op == "$lte":
        return col <= F.lit(arg)
    if op in ("$in", "$nin"):
        return _in_list(col, arg, op == "$nin")
    if op == "$regex":
        return col.rlike(_regex_pattern(arg))
    if op == "$mod":
        divisor, remainder = arg
        return col % F.lit(divisor) == F.lit(remainder)
    if op == "$exists":
        return col.isNotNull() if arg else col.isNull()
    if op == "$not":
        return ~F.coalesce(compile_value_query(arg, col, ctx), F.lit(False))
    raise UnsupportedExpression(f"unknown value-query operator {op}")


def _in_list(col: Column, values: list, negate: bool) -> Column:
    """``$in`` (``negate``: ``$nin``) as a non-null boolean: a null in
    the list matches a null field, as in MongoDB."""
    hit = F.coalesce(col.isin(*[v for v in values if v is not None]),
                     F.lit(False))
    if None in values:
        hit = hit | col.isNull()
    return ~hit if negate else hit


def _field_condition(path: str, value: Any, ctx: Ctx) -> Column:
    if isinstance(value, dict) and any(k.startswith("$") for k in value):
        return _fold_and(
            [_field_op(path, op, arg, ctx) for op, arg in value.items()]
        )
    # implicit equality (docs/query.md:15-19)
    if not ctx.has_field(path):
        return F.lit(value is None)
    return ctx.field(path).eqNullSafe(F.lit(value))


def _field_op(path: str, op: str, arg: Any, ctx: Ctx) -> Column:
    try:
        return _field_op_inner(path, op, arg, ctx)
    except (UnsupportedExpression, RecursionError):
        raise
    except Exception as e:
        # a malformed predicate ({$all: 5}, {$regex: 5}, {$bitsAllSet:
        # "x"}) must surface as a build-time spec error naming the
        # operator, never a raw Python/Py4J traceback (round-8
        # hostile-spec sweep)
        raise UnsupportedExpression(
            f"{op} on {path!r}: malformed argument {arg!r}: "
            f"{type(e).__name__}") from e


def _field_op_inner(path: str, op: str, arg: Any, ctx: Ctx) -> Column:
    if op == "$exists":
        present = (
            ctx.field(path).isNotNull() if ctx.has_field(path) else F.lit(False)
        )
        return present if arg else ~present

    if not ctx.has_field(path):
        # comparisons with an absent field never match; $ne/$nin match,
        # but an $in list holding null matches and a $nin one does not
        if op in ("$in", "$nin"):
            return F.lit((None in arg) == (op == "$in"))
        return F.lit(op in ("$ne", "$not"))

    col = ctx.field(path)
    if op == "$eq":
        return col.eqNullSafe(F.lit(arg))
    if op == "$ne":
        return ~col.eqNullSafe(F.lit(arg))
    if op == "$gt":
        return col > F.lit(arg)
    if op == "$gte":
        return col >= F.lit(arg)
    if op == "$lt":
        return col < F.lit(arg)
    if op == "$lte":
        return col <= F.lit(arg)
    if op in ("$in", "$nin"):
        return _in_list(col, arg, op == "$nin")
    if op == "$not":
        return ~F.coalesce(_field_condition(path, arg, ctx), F.lit(False))
    if op == "$expr":
        # reference extension: $expr at any level (docs/query.md:156)
        return compile_expr(arg, ctx).cast("boolean")
    if op == "$mod":
        divisor, remainder = arg
        return col % F.lit(divisor) == F.lit(remainder)
    if op == "$regex":
        return col.rlike(_regex_pattern(arg))
    if op == "$options":
        # consumed together with $regex by _fold of the enclosing dict;
        # appears standalone only when $regex present — handled below.
        return F.lit(True)
    if op == "$size":
        return F.size(col) == F.lit(arg)
    if op == "$all":
        return _fold_and([F.array_contains(col, v) for v in arg])
    if op == "$elemMatch":
        return F.exists(col, lambda e: compile_value_query(arg, e, ctx))
    if op == "$type":
        from pincette_json_streams_spark.operators.expressions import OPERATORS
        return OPERATORS["$type"]([f"${path}"], ctx) == F.lit(arg)
    if op == "$bitsAllSet":
        mask = _bitmask(arg)
        return (col.cast("bigint").bitwiseAND(F.lit(mask))) == F.lit(mask)
    if op == "$bitsAllClear":
        mask = _bitmask(arg)
        return (col.cast("bigint").bitwiseAND(F.lit(mask))) == F.lit(0)
    if op == "$bitsAnySet":
        mask = _bitmask(arg)
        return (col.cast("bigint").bitwiseAND(F.lit(mask))) != F.lit(0)
    if op == "$bitsAnyClear":
        mask = _bitmask(arg)
        return (col.cast("bigint").bitwiseAND(F.lit(mask))) != F.lit(mask)
    if op == "$comment":
        return F.lit(True)
    from pincette_json_streams_spark.plugins import MATCH_EXTENSIONS
    if op in MATCH_EXTENSIONS:
        return MATCH_EXTENSIONS[op](col, arg, ctx)
    raise UnsupportedExpression(f"unknown query operator {op}")


def _regex_pattern(arg: Any) -> str:
    """Accept '/pattern/opts' shorthand (docs/query.md:190-194)."""
    if isinstance(arg, str) and arg.startswith("/") and arg.count("/") >= 2:
        body, _, opts = arg[1:].rpartition("/")
        return (f"(?{opts})" if opts else "") + body
    return arg


def _bitmask(arg: Any) -> int:
    if isinstance(arg, int):
        return arg
    return sum(1 << p for p in arg)


def _fold_and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _fold_or(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


# --------------------------------------------------------------------------
# $jsonSchema (MongoDB's draft-4 subset; docs.mongodb.com $jsonSchema) —
# compiled structurally against the DataFrame schema: type keywords
# resolve STATICALLY from Spark dtypes (a mismatched type is a constant
# predicate Catalyst folds away), everything else is native Columns.
# Under the parquet data model absent == NULL, so `properties` validate
# only non-null fields and `required` means IS NOT NULL — the same
# presence convention as $exists and the validator subsystem.
# --------------------------------------------------------------------------

_JS_SCALARS = {
    "string": ("string",),
    "bool": ("boolean",), "boolean": ("boolean",),
    "int": ("byte", "short", "integer", "long"),
    "integer": ("byte", "short", "integer", "long"),
    "long": ("byte", "short", "integer", "long"),
    "double": ("float", "double", "decimal"),
    "number": ("byte", "short", "integer", "long", "float", "double",
               "decimal"),
    "date": ("date", "timestamp", "timestamp_ntz"),
}


def _js_dtype(ctx: Ctx, path: str):
    """Resolve a dotted path's Spark dtype; 'missing' when statically
    absent; None when no schema is known (rebased contexts)."""
    from pyspark.sql.types import StructType

    if ctx.df is None:
        return None
    cur = ctx.df.schema
    for seg in path.split("."):
        if not isinstance(cur, StructType):
            return "missing"
        m = {f.name: f.dataType for f in cur.fields}
        if seg not in m:
            return "missing"
        cur = m[seg]
    return cur


def _js_type_pred(col: Column, dtype, types) -> Column:
    from pyspark.sql.types import (
        ArrayType, DecimalType, MapType, StructType,
    )

    wanted = types if isinstance(types, list) else [types]
    for t in wanted:
        if t == "null":
            continue
        if dtype is None:
            raise UnsupportedExpression(
                "$jsonSchema type checks need a schema-bearing context")
        ok = False
        if t in ("object",):
            ok = isinstance(dtype, (StructType, MapType))
        elif t == "array":
            ok = isinstance(dtype, ArrayType)
        elif t in _JS_SCALARS:
            name = ("decimal" if isinstance(dtype, DecimalType)
                    else dtype.typeName())
            ok = name in _JS_SCALARS[t]
        else:
            raise UnsupportedExpression(f"$jsonSchema type {t!r}")
        if ok:
            # a type list mixing a concrete type with "null" (draft-4
            # ["string", "null"]) accepts null values too — a bare
            # isNotNull() here would reject them
            return (F.lit(True) if "null" in wanted
                    else col.isNotNull())
    if "null" in wanted:
        return col.isNull()
    return F.lit(False)


def _js_pred(col: Column, dtype, schema: dict, ctx: Ctx) -> Column:
    """Schema predicate over a PRESENT value (callers gate nullability)."""
    from pyspark.sql.types import ArrayType, StructType

    conds: list[Column] = []

    def tc(cond: Column) -> Column:
        # draft-4 type-constrained keywords apply only to instances of
        # their type: a NULL value (e.g. a null array element) is
        # vacuously valid, never a NULL predicate that kills the row
        return col.isNull() | F.coalesce(cond, F.lit(False))

    for kw, arg in schema.items():
        if kw in ("type", "bsonType"):
            conds.append(_js_type_pred(col, dtype, arg))
        elif kw == "enum":
            scalars = [v for v in arg if not isinstance(v, (list, dict))]
            if len(scalars) != len(arg):
                raise UnsupportedExpression(
                    "$jsonSchema enum supports scalars only")
            # enum applies to EVERY instance type including null
            # (draft-4): a null value passes only when null is a member
            vals = [v for v in scalars if v is not None]
            cond = col.isin(vals) if vals else F.lit(False)
            if None in scalars:
                cond = cond | col.isNull()
            conds.append(F.coalesce(cond, F.lit(False)))
        elif kw == "minimum":
            if schema.get("exclusiveMinimum") is True:
                conds.append(tc(col > F.lit(arg)))
            else:
                conds.append(tc(col >= F.lit(arg)))
        elif kw == "maximum":
            if schema.get("exclusiveMaximum") is True:
                conds.append(tc(col < F.lit(arg)))
            else:
                conds.append(tc(col <= F.lit(arg)))
        elif kw in ("exclusiveMinimum", "exclusiveMaximum"):
            continue  # draft-4 boolean modifiers, handled above
        elif kw == "multipleOf":
            conds.append(tc(col % F.lit(arg) == 0))
        elif kw == "minLength":
            conds.append(tc(F.length(col) >= int(arg)))
        elif kw == "maxLength":
            conds.append(tc(F.length(col) <= int(arg)))
        elif kw == "pattern":
            conds.append(tc(col.rlike(arg)))
        elif kw == "minItems":
            conds.append(tc(F.size(col) >= int(arg)))
        elif kw == "maxItems":
            conds.append(tc(F.size(col) <= int(arg)))
        elif kw == "uniqueItems":
            if arg:
                conds.append(
                    tc(F.size(F.array_distinct(col)) == F.size(col)))
        elif kw == "items":
            if not isinstance(arg, dict):
                raise UnsupportedExpression(
                    "$jsonSchema items supports a single schema")
            elem_dt = (dtype.elementType
                       if isinstance(dtype, ArrayType) else None)
            conds.append(tc(F.forall(
                col, lambda x: _js_pred(x, elem_dt, arg, ctx))))
        elif kw == "properties":
            if not isinstance(dtype, StructType):
                raise UnsupportedExpression(
                    "$jsonSchema properties on a non-object field")
            m = {f.name: f.dataType for f in dtype.fields}
            for name, sub in arg.items():
                if name not in m:
                    continue  # statically absent: vacuously valid
                sc = col.getField(name)
                conds.append(
                    sc.isNull() | _js_pred(sc, m[name], sub, ctx))
        elif kw == "required":
            if not isinstance(dtype, StructType):
                raise UnsupportedExpression(
                    "$jsonSchema required on a non-object field")
            m = {f.name for f in dtype.fields}
            for name in arg:
                # object-constrained keyword: vacuous on null values
                conds.append(tc(col.getField(name).isNotNull())
                             if name in m else tc(F.lit(False)))
        elif kw == "allOf":
            conds.extend(_js_pred(col, dtype, s, ctx) for s in arg)
        elif kw == "anyOf":
            conds.append(_fold_or(
                [_js_pred(col, dtype, s, ctx) for s in arg]))
        elif kw == "oneOf":
            total = None
            for s in arg:
                c = _js_pred(col, dtype, s, ctx).cast("int")
                total = c if total is None else total + c
            conds.append(total == 1)
        elif kw == "not":
            conds.append(~_js_pred(col, dtype, arg, ctx))
        elif kw in ("title", "description"):
            continue
        else:
            raise UnsupportedExpression(f"$jsonSchema keyword {kw!r}")
    return _fold_and(conds) if conds else F.lit(True)


def _json_schema_root(schema: dict, ctx: Ctx) -> Column:
    """$jsonSchema applied to the document root."""
    conds: list[Column] = []
    for kw, arg in schema.items():
        if kw in ("type", "bsonType"):
            types = arg if isinstance(arg, list) else [arg]
            if "object" not in types:
                conds.append(F.lit(False))
        elif kw == "properties":
            for name, sub in arg.items():
                dt = _js_dtype(ctx, name)
                if dt == "missing":
                    continue
                col = ctx.field(name)
                conds.append(col.isNull() | _js_pred(col, dt, sub, ctx))
        elif kw == "required":
            for name in arg:
                dt = _js_dtype(ctx, name)
                conds.append(F.lit(False) if dt == "missing"
                             else ctx.field(name).isNotNull())
        elif kw == "allOf":
            conds.extend(_json_schema_root(s, ctx) for s in arg)
        elif kw == "anyOf":
            conds.append(_fold_or(
                [_json_schema_root(s, ctx) for s in arg]))
        elif kw == "oneOf":
            total = None
            for s in arg:
                c = _json_schema_root(s, ctx).cast("int")
                total = c if total is None else total + c
            conds.append(total == 1)
        elif kw == "not":
            conds.append(~_json_schema_root(arg, ctx))
        elif kw in ("title", "description"):
            continue
        else:
            raise UnsupportedExpression(
                f"$jsonSchema root keyword {kw!r}")
    return _fold_and(conds) if conds else F.lit(True)
