"""Mongo aggregation *expression* language -> native Spark ``Column``.

Operator inventory and semantics follow the reference's spec
(/root/reference/docs/aggregation_operators.md, implemented there by the
pincette-mongo library — SURVEY.md §2.6).  Design rule: every operator
compiles to built-in ``pyspark.sql.functions`` so the whole expression tree
stays inside Catalyst/whole-stage-codegen; Python UDFs appear only for the
few operators with no JVM equivalent ($jes-name-uuid's RFC-4122 name UUID).

Compilation forms:
  "$a.b"            field reference
  "$$VAR" / "$$VAR.p"  variable reference (optionally descending)
  {"$op": args}     operator application (single-key dict)
  {"k": expr, ...}  document literal -> struct
  [e1, e2]          array literal -> F.array
  scalar            literal
"""

from __future__ import annotations

import re
import uuid as _uuid
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from pincette_json_streams_spark.operators.context import Ctx

__all__ = ["compile_expr", "UnsupportedExpression", "OPERATORS"]


class UnsupportedExpression(Exception):
    """Raised when an expression has no compilation (caller may fall back
    to a UDF-based row interpreter)."""


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------

def compile_expr(expr: Any, ctx: Ctx) -> Column:
    """Compile a Mongo aggregation expression to a Spark Column."""
    if isinstance(expr, str):
        if expr.startswith("$$"):
            return _compile_var(expr[2:], ctx)
        if expr.startswith("$"):
            return ctx.field(expr[1:])
        return F.lit(expr)
    if isinstance(expr, bool) or isinstance(expr, (int, float)):
        return F.lit(expr)
    if expr is None:
        return F.lit(None)
    if isinstance(expr, list):
        return F.array(*[compile_expr(e, ctx) for e in expr])
    if isinstance(expr, dict):
        if len(expr) == 1:
            (op, args), = expr.items()
            if op.startswith("$"):
                handler = OPERATORS.get(op)
                if handler is None:
                    from pincette_json_streams_spark.plugins import (
                        OPERATOR_EXTENSIONS,
                    )
                    handler = OPERATOR_EXTENSIONS.get(op)
                if handler is None:
                    raise UnsupportedExpression(f"unknown operator {op}")
                try:
                    return handler(args, ctx)
                except (UnsupportedExpression, RecursionError):
                    raise
                except Exception as e:
                    # a malformed spec ({$cond: true}, {$dateTrunc:
                    # null}, ...) must surface as a build-time spec
                    # error naming the operator, never a raw Python
                    # traceback from inside the handler (round-8
                    # hostile-spec sweep: 48 operators leaked
                    # TypeError/KeyError/IndexError)
                    raise UnsupportedExpression(
                        f"{op}: malformed arguments {args!r}: "
                        f"{type(e).__name__}: {e}") from e
        # document literal -> struct with compiled member expressions
        if any(k.startswith("$") for k in expr):
            raise UnsupportedExpression(
                f"operator mixed into document literal: {list(expr)}"
            )
        return F.struct(
            *[compile_expr(v, ctx).alias(k) for k, v in expr.items()]
        )
    raise UnsupportedExpression(f"cannot compile {expr!r}")


def _compile_var(ref: str, ctx: Ctx) -> Column:
    parts = ref.split(".")
    col = ctx.var(parts[0])
    for p in parts[1:]:
        col = col.getField(p)
    return col


def _nary(expr: Any, ctx: Ctx, n: int | None = None) -> list[Column]:
    args = expr if isinstance(expr, list) else [expr]
    cols = [compile_expr(a, ctx) for a in args]
    if n is not None and len(cols) != n:
        raise UnsupportedExpression(f"expected {n} args, got {len(cols)}")
    return cols


# --------------------------------------------------------------------------
# arithmetic  (docs/aggregation_operators.md:7-153)
# --------------------------------------------------------------------------

def _add(args, ctx):
    cols = _nary(args, ctx)
    out = cols[0]
    for c in cols[1:]:
        out = out + c
    return out


def _multiply(args, ctx):
    cols = _nary(args, ctx)
    out = cols[0]
    for c in cols[1:]:
        out = out * c
    return out


def _round_like(fn):
    def h(args, ctx):
        cols = _nary(args, ctx)
        place = cols[1] if len(cols) > 1 else F.lit(0)
        return fn(cols[0], place)
    return h


# --------------------------------------------------------------------------
# arrays  (docs/aggregation_operators.md:157-352)
# --------------------------------------------------------------------------

def _array_elem_at(args, ctx):
    arr, idx = _nary(args, ctx, 2)
    # Mongo is 0-based with negative-from-end; element_at is 1-based with
    # negative-from-end.  try_element_at: out-of-range yields missing in
    # Mongo, while plain element_at is an error under ANSI mode.
    return F.when(
        idx >= 0, F.try_element_at(arr, (idx + 1).cast("int"))
    ).otherwise(F.try_element_at(arr, idx.cast("int")))


def _array_to_object(args, ctx):
    arr = compile_expr(args if not isinstance(args, list) or len(args) != 1
                       else args[0], ctx)
    # [[k,v],...] or [{k:,v:},...] -> map (dynamic keys can't be a struct)
    return F.map_from_entries(arr)


def _elem_match(args, ctx):
    # extension (docs/aggregation_operators.md:195-207): first array element
    # matching a value-level query like {$gt: 1}; lazy import to avoid a
    # cycle with match.py.
    from pincette_json_streams_spark.operators.match import (
        compile_value_query,
    )

    arr_e, query = args
    arr = compile_expr(arr_e, ctx)
    matched = F.filter(
        arr, lambda e: compile_value_query(query, e, ctx)
    )
    # try_element_at: under ANSI mode a no-match (empty array) must yield
    # NULL like Mongo's missing, not INVALID_ARRAY_INDEX
    return F.try_element_at(matched, F.lit(1))


def _filter(args, ctx):
    var = args.get("as", "this")
    arr = compile_expr(args["input"], ctx)
    limit = args.get("limit")
    out = F.filter(
        arr,
        lambda e: compile_expr(args["cond"], ctx.child({var: e, "this": e})),
    )
    if limit is not None:
        out = F.slice(out, 1, compile_expr(limit, ctx))
    return out


def _map(args, ctx):
    var = args.get("as", "this")
    arr = compile_expr(args["input"], ctx)
    return F.transform(
        arr,
        lambda e: compile_expr(args["in"], ctx.child({var: e, "this": e})),
    )


def _reduce(args, ctx):
    arr = compile_expr(args["input"], ctx)
    init_v = args["initialValue"]
    init = compile_expr(init_v, ctx)
    if isinstance(init_v, int) and not isinstance(init_v, bool):
        # the accumulator type is fixed by the zero value and integer
        # arithmetic widens to bigint — start wide so `merge` type-checks
        init = init.cast("bigint")
    return F.aggregate(
        arr,
        init,
        lambda acc, e: compile_expr(
            args["in"], ctx.child({"value": acc, "this": e})
        ),
    )


def _index_of_array(args, ctx):
    cols = _nary(args, ctx)
    arr, val = cols[0], cols[1]
    if len(cols) > 2:  # start/end restrict the search range
        start = cols[2]
        end = cols[3] if len(cols) > 3 else F.size(arr)
        sub = F.slice(arr, (start + 1).cast("int"), (end - start).cast("int"))
        pos = F.array_position(sub, val)
        return F.when(pos == 0, F.lit(-1)).otherwise(pos - 1 + start)
    pos = F.array_position(arr, val)
    return F.when(pos == 0, F.lit(-1)).otherwise(pos - 1)


def _is_array(args, ctx):
    col = _nary(args, ctx, 1)[0]
    return F.typeof(col).startswith("array")


def _is_number(args, ctx):
    # Mongo 4.4 $isNumber: true for any numeric BSON type, false for
    # everything else INCLUDING missing/null
    col = _nary(args, ctx, 1)[0]
    t = F.typeof(col)
    return col.isNotNull() & (
        t.isin("tinyint", "smallint", "int", "bigint", "float",
               "double") | t.startswith("decimal")
    )


def _object_to_array(args, ctx):
    arg = args[0] if isinstance(args, list) and len(args) == 1 else args
    if isinstance(arg, dict) and not any(k.startswith("$") for k in arg):
        # document literal: expand at compile time
        return F.array(*[
            F.struct(F.lit(k).alias("k"), compile_expr(v, ctx).alias("v"))
            for k, v in arg.items()
        ])
    if isinstance(arg, str) and arg.startswith("$") and \
            not arg.startswith("$$"):
        fields = _struct_fields(arg[1:], ctx)
        if fields is not None:
            col = compile_expr(arg, ctx)
            return F.array(*[
                F.struct(F.lit(f).alias("k"),
                         col.getField(f).cast("string").alias("v"))
                for f in fields
            ])
    col = compile_expr(arg, ctx)
    # map-typed values
    return F.transform(
        F.map_entries(col),
        lambda e: F.struct(e.getField("key").alias("k"),
                           e.getField("value").alias("v")),
    )


def _struct_fields(path: str, ctx: Ctx) -> list[str] | None:
    """Field names of a struct column resolved from the DataFrame schema
    (None when the path is not a struct or no schema is available)."""
    if ctx.df is None:
        return None
    from pyspark.sql.types import StructType

    t = ctx.df.schema
    for seg in path.split("."):
        if not isinstance(t, StructType) or seg not in t.fieldNames():
            return None
        t = t[seg].dataType
    return t.fieldNames() if isinstance(t, StructType) else None


def _range(args, ctx):
    cols = _nary(args, ctx)
    start, end = cols[0], cols[1]
    step = cols[2] if len(cols) > 2 else F.lit(1)
    # Mongo $range excludes `end`; F.sequence includes it.
    last = end - F.signum(step.cast("double")).cast("long")
    empty = F.array().cast("array<long>")
    return F.when(
        ((step > 0) & (start >= end)) | ((step < 0) & (start <= end)), empty
    ).otherwise(
        F.sequence(start.cast("long"), last.cast("long"), step.cast("long"))
    )


def _slice(args, ctx):
    cols = _nary(args, ctx)
    arr = cols[0]
    if len(cols) == 2:
        n = cols[1]
        # n>=0: first n; n<0: last n
        return F.when(n >= 0, F.slice(arr, 1, n.cast("int"))).otherwise(
            F.slice(arr, n.cast("int"), (-n).cast("int"))
        )
    pos, n = cols[1], cols[2]
    # pos is 0-based (negative = from end); n must be positive
    start = F.when(pos >= 0, (pos + 1)).otherwise(
        F.greatest(F.size(arr) + pos + 1, F.lit(1))
    )
    return F.slice(arr, start.cast("int"), n.cast("int"))


def _zip(args, ctx):
    inputs = [compile_expr(e, ctx) for e in args["inputs"]]
    use_longest = bool(args.get("useLongestLength", False))
    defaults = args.get("defaults")
    if use_longest and defaults is None:
        # arrays_zip pads with NULL on the longest length
        z = F.arrays_zip(*inputs)
        return F.transform(
            z, lambda s: F.array(*[s.getField(str(i))
                                   for i in range(len(inputs))])
        )
    if use_longest:
        dcols = [compile_expr(d, ctx) for d in defaults]
        z = F.arrays_zip(*inputs)
        return F.transform(
            z,
            lambda s: F.array(
                *[F.coalesce(s.getField(str(i)), dcols[i])
                  for i in range(len(inputs))]
            ),
        )
    # Mongo default: shortest length.  sequence(1, 0) would infer step -1
    # and produce [1, 0] -> element_at(col, 0) always throws, so any empty
    # input must short-circuit to an empty result.
    n = F.least(*[F.size(c) for c in inputs]) if len(inputs) > 1 \
        else F.size(inputs[0])
    zipped = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)).cast("int")),
        lambda i: F.array(
            *[F.try_element_at(c, i.cast("int")) for c in inputs]
        ),
    )
    return F.when(n < 1, F.slice(zipped, 1, 0)).otherwise(zipped)


def _sort_arr(args, ctx):
    # extension operator (docs/aggregation_operators.md:1204): sorts an
    # array value; `direction` asc|desc, optional hierarchical `paths`.
    arr = compile_expr(args["input"], ctx)
    desc = args.get("direction", "asc") == "desc"
    paths = args.get("paths")
    if not paths:
        return F.sort_array(arr, asc=not desc)

    def cmp(a, b):
        out = F.lit(0)
        for p in reversed(paths):
            fa, fb = a, b
            for seg in p.split("."):
                fa, fb = fa.getField(seg), fb.getField(seg)
            lt, gt = (1, -1) if desc else (-1, 1)
            out = (
                F.when(fa < fb, F.lit(lt))
                .when(fa > fb, F.lit(gt))
                .otherwise(out)
            )
        return out

    return F.array_sort(arr, cmp)


# --------------------------------------------------------------------------
# comparison / boolean / conditional
# --------------------------------------------------------------------------

# MongoDB orders null below every value.  Written so that a literal
# operand folds away its null test, leaving a predicate a scan can push.
def _gt(a, b):
    return a.isNotNull() & (b.isNull() | (a > b))


def _gte(a, b):
    return b.isNull() | (a.isNotNull() & (a >= b))


def _cmp(args, ctx):
    a, b = _nary(args, ctx, 2)
    return F.when(a.eqNullSafe(b), F.lit(0)) \
        .when(_gt(a, b), F.lit(1)).otherwise(F.lit(-1))


def _extremum(pick, pick_in_array):
    # $max/$min: nulls are ignored, and the result is null only when
    # every operand is; a single operand is an array of them
    def h(args, ctx):
        cols = _nary(args, ctx)
        if not cols:
            raise UnsupportedExpression("$max/$min need an operand")
        return pick_in_array(cols[0]) if len(cols) == 1 else pick(*cols)
    return h


def _binop(fn):
    def h(args, ctx):
        a, b = _nary(args, ctx, 2)
        return fn(a, b)
    return h


def _and(args, ctx):
    cols = _nary(args, ctx)
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _or(args, ctx):
    cols = _nary(args, ctx)
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


def _cond(args, ctx):
    if isinstance(args, dict):
        i, t, e = args["if"], args["then"], args["else"]
    else:
        i, t, e = args
    return F.when(compile_expr(i, ctx), compile_expr(t, ctx)).otherwise(
        compile_expr(e, ctx)
    )


def _switch(args, ctx):
    out = None
    for br in args["branches"]:
        case = compile_expr(br["case"], ctx)
        then = compile_expr(br["then"], ctx)
        out = F.when(case, then) if out is None else out.when(case, then)
    if "default" in args:
        out = out.otherwise(compile_expr(args["default"], ctx))
    return out


# --------------------------------------------------------------------------
# ISO-8601 / date-time extensions  (docs/aggregation_operators.md:514-614)
# Timestamps travel as ISO strings in the reference; epoch ops use millis.
# Our columns may already be TIMESTAMP (typed parquet) — accept both.
# --------------------------------------------------------------------------

_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
_ISO_FMT_S = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _as_ts(col: Column) -> Column:
    return col.cast("timestamp")


def _iso_instant(ts: Column) -> Column:
    # java.time.Instant.toString() omits fractional seconds when zero —
    # the reference's wire format for ISO timestamps.
    return F.when(
        F.unix_millis(ts) % 1000 == 0, F.date_format(ts, _ISO_FMT_S)
    ).otherwise(F.date_format(ts, _ISO_FMT))


def _from_epoch_millis(args, ctx):
    (x,) = _nary(args, ctx, 1)
    return _iso_instant(F.timestamp_millis(x.cast("long")))


def _from_epoch_seconds(args, ctx):
    (x,) = _nary(args, ctx, 1)
    return _iso_instant(F.timestamp_seconds(x.cast("long")))


def _from_epoch_nanos(args, ctx):
    (x,) = _nary(args, ctx, 1)
    return _iso_instant(
        F.timestamp_micros((x.cast("long") / 1000).cast("long"))
    )


# MongoDB 5.0 date arithmetic (extensions beyond the reference's
# ISO/epoch set; same ISO-string wire format).  Units per Mongo,
# weeks ISO (Monday start).
_DATE_UNIT_MS = {
    "millisecond": 1, "second": 1000, "minute": 60_000,
    "hour": 3_600_000, "day": 86_400_000, "week": 604_800_000,
}
_TS_ADD_UNITS = {
    "year": "YEAR", "quarter": "QUARTER", "month": "MONTH",
    "week": "WEEK", "day": "DAY", "hour": "HOUR", "minute": "MINUTE",
    "second": "SECOND", "millisecond": "MILLISECOND",
}


def _sort_array_op(args, ctx):
    # MongoDB 5.2 $sortArray {input, sortBy: 1|-1} (scalar sort; the
    # object-field sortBy form needs per-field comparators -> the
    # $windowFields/top-N paths cover those shapes)
    arr = compile_expr(args["input"], ctx)
    direction = args.get("sortBy", 1)
    if not isinstance(direction, int):
        raise UnsupportedExpression(
            "$sortArray: only scalar sortBy 1|-1 supported"
        )
    out = F.array_sort(arr)
    return F.reverse(out) if direction < 0 else out


def _array_n_op(name: str):
    # MongoDB 5.2 array expressions: n smallest/largest/leading/
    # trailing elements
    def h(args, ctx):
        arr = compile_expr(args["input"], ctx)
        n = compile_expr(args["n"], ctx).cast("int")
        if name == "$minN":
            return F.slice(F.array_sort(arr), F.lit(1), n)
        if name == "$maxN":
            return F.slice(F.reverse(F.array_sort(arr)), F.lit(1), n)
        if name == "$firstN":
            return F.slice(arr, F.lit(1), n)
        # $lastN keeps order: slice from max(size-n+1, 1)
        start = F.greatest(F.size(arr) - n + 1, F.lit(1)).cast("int")
        return F.slice(arr, start, n)
    return h


def _get_field_op(args, ctx):
    # MongoDB 5.0 $getField: static field name over a struct input
    if isinstance(args, str):
        field, inp = args, "$$CURRENT"
        return ctx.field(field)
    field = args["field"]
    if not isinstance(field, str):
        raise UnsupportedExpression("$getField: field must be static")
    return compile_expr(args["input"], ctx).getField(field)


def _set_field_op(args, ctx):
    field = args["field"]
    if not isinstance(field, str):
        raise UnsupportedExpression("$setField: field must be static")
    inp = compile_expr(args["input"], ctx)
    val = args["value"]
    if isinstance(val, str) and val == "$$REMOVE":
        return inp.dropFields(f"`{field}`")
    return inp.withField(f"`{field}`", compile_expr(val, ctx))


def _unset_field_op(args, ctx):
    field = args["field"]
    if not isinstance(field, str):
        raise UnsupportedExpression("$unsetField: field must be static")
    return compile_expr(args["input"], ctx).dropFields(f"`{field}`")


# Mongo format specifiers -> Spark/Java datetime pattern letters
_MONGO_DATE_FMT = {
    "%Y": "yyyy", "%m": "MM", "%d": "dd", "%H": "HH", "%M": "mm",
    "%S": "ss", "%L": "SSS", "%j": "DDD", "%u": "e", "%G": "YYYY",
    "%V": "ww", "%z": "xx", "%%": "%",
}


def _mongo_fmt_to_java(fmt: str) -> str:
    out = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            spec = fmt[i:i + 2]
            if spec not in _MONGO_DATE_FMT:
                raise UnsupportedExpression(
                    f"$dateToString: unsupported specifier {spec}"
                )
            out.append(_MONGO_DATE_FMT[spec])
            i += 2
        elif fmt[i].isalpha():
            out.append(f"'{fmt[i]}'")   # literal letters need quoting
            i += 1
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def _date_to_string_op(args, ctx):
    # timezone: format the zone's wall clock (Mongo shape)
    tz = args.get("timezone")
    fmt = args.get("format", "%Y-%m-%dT%H:%M:%S.%LZ")
    raw = _as_ts(compile_expr(args["date"], ctx))
    d = _in_zone(raw, tz)
    if "%z" in fmt or "%Z" in fmt:
        # the zone shift yields a NAIVE timestamp, so date_format's own
        # %z would render the session's +0000 against local wall-clock
        # digits.  Compute the zone's UTC offset at THIS instant (DST-
        # correct: shifted minus raw epoch millis) and splice it in
        # between the offset-free format segments.  Mongo shapes
        # (docs.mongodb.com $dateToString): %z = +HHMM, %Z = the SIGNED
        # MINUTES offset as a number (e.g. +285) — not a zone name.
        off_min = ((F.unix_millis(d) - F.unix_millis(raw)) / 60000) \
            .cast("long")
        sign = F.when(off_min < 0, F.lit("-")).otherwise(F.lit("+"))
        off_hhmm = F.concat(
            sign,
            F.lpad((F.abs(off_min) / 60).cast("long").cast("string"),
                   2, "0"),
            F.lpad(F.pmod(F.abs(off_min), F.lit(60)).cast("string"),
                   2, "0"),
        )
        off_minutes = F.concat(sign, F.abs(off_min).cast("string"))
        # specifier-aware scan (a raw regex split would see the z in
        # the escaped literal "%%z" as an offset specifier)
        segs: list = []
        buf = ""
        i = 0
        while i < len(fmt):
            if fmt[i] == "%" and i + 1 < len(fmt):
                spec = fmt[i:i + 2]
                if spec in ("%z", "%Z"):
                    if buf:
                        segs.append(buf)
                        buf = ""
                    segs.append(off_hhmm if spec == "%z" else off_minutes)
                else:
                    buf += spec
                i += 2
            else:
                buf += fmt[i]
                i += 1
        if buf:
            segs.append(buf)
        parts = [F.date_format(d, _mongo_fmt_to_java(s))
                 if isinstance(s, str) else s for s in segs]
        formatted = F.concat(*parts) if parts else F.lit("")
    else:
        formatted = F.date_format(d, _mongo_fmt_to_java(fmt))
    if "onNull" in args:
        return F.coalesce(formatted, compile_expr(args["onNull"], ctx))
    return formatted


def _date_from_string_op(args, ctx):
    s = compile_expr(args["dateString"], ctx)
    fmt = args.get("format")
    ts = (
        F.to_timestamp(s, _mongo_fmt_to_java(fmt))
        if fmt else F.to_timestamp(s)
    )
    # timezone: the string is wall clock IN that zone (Mongo shape).
    # Mongo REJECTS timezone when the string carries its own offset;
    # we keep the parsed instant for those rows instead of shifting a
    # second time (to_timestamp already normalised it to UTC).  Bare
    # "+05" hour-only offsets are not detected (4-digit / Z only) to
    # avoid false-positives on plain dates like "2020-01-05".
    tz = args.get("timezone")
    if tz in _UTC_TZ:
        pass
    elif fmt and "%z" in fmt:
        raise UnsupportedExpression(
            "$dateFromString: timezone together with an offset-bearing "
            "format (%z) is ambiguous — MongoDB rejects it")
    else:
        has_offset = s.rlike(r"[0-9](Z|[+-][0-9]{2}:?[0-9]{2})$")
        ts = F.when(has_offset, ts).otherwise(_from_zone(ts, tz))
    if "onNull" in args or "onError" in args:
        fallback = compile_expr(
            args.get("onError", args.get("onNull")), ctx
        )
        return F.coalesce(_iso_instant(ts), fallback)
    return _iso_instant(ts)


_UTC_TZ = (None, "UTC", "Z", "+00:00", "+00", "GMT")


def _tz_arg(tz):
    """Timezone operand: a constant Olson id ("Europe/Brussels") or
    fixed offset ("+02:30").  Mongo allows expressions; a constant
    covers the documented reference usage — anything else raises."""
    if not isinstance(tz, str):
        raise UnsupportedExpression(
            f"timezone must be a constant string, got {tz!r}")
    return tz


def _date_part_arg(args, ctx) -> Column:
    """MongoDB date-part operand: a date expression directly or
    {date, timezone?}.  With a timezone, parts are computed on the
    instant's wall clock IN that zone (from_utc_timestamp — Java zone
    rules, DST included), matching Mongo's per-operator timezone."""
    if isinstance(args, dict) and "date" in args:
        tz = args.get("timezone")
        ts = _as_ts(compile_expr(args["date"], ctx))
        if tz in _UTC_TZ:
            return ts
        return F.from_utc_timestamp(ts, _tz_arg(tz))
    return _as_ts(compile_expr(args, ctx))


def _iso_dow(d: Column) -> Column:
    # Spark dayofweek: 1=Sunday..7=Saturday -> ISO 1=Monday..7=Sunday
    return ((F.dayofweek(d) + 5) % 7) + 1


def _week_sunday(d: Column) -> Column:
    # Mongo $week: 0-53, week 1 begins with the first Sunday of the
    # year, earlier days are week 0 (docs.mongodb.com $week)
    jan1 = F.date_trunc("year", d)
    off = (F.lit(8) - F.dayofweek(jan1)) % 7
    doy0 = F.dayofyear(d) - 1
    return F.when(doy0 < off, F.lit(0)).otherwise(
        F.floor((doy0 - off) / 7).cast("int") + 1
    )


def _iso_week_year(d: Column) -> Column:
    # ISO week-year = calendar year of that week's Thursday (Spark
    # rejects week-based 'Y' patterns, so compute it structurally)
    return F.year(F.date_add(F.to_date(d), F.lit(4) - _iso_dow(d)))


_DATE_PARTS: dict[str, Callable[[Column], Column]] = {
    "$year": F.year,
    "$month": F.month,
    "$dayOfMonth": F.dayofmonth,
    "$hour": F.hour,
    "$minute": F.minute,
    "$second": F.second,
    "$millisecond": lambda d: F.pmod(F.unix_millis(d), F.lit(1000)).cast("int"),
    "$dayOfWeek": F.dayofweek,          # 1=Sunday, same as Mongo
    "$dayOfYear": F.dayofyear,
    "$week": _week_sunday,
    "$isoWeek": F.weekofyear,           # Spark weekofyear is ISO
    "$isoWeekYear": _iso_week_year,
    "$isoDayOfWeek": _iso_dow,
}


def _date_part_op(name: str):
    fn = _DATE_PARTS[name]

    def h(args, ctx):
        return fn(_date_part_arg(args, ctx))
    return h


def _date_to_parts_op(args, ctx):
    d = _date_part_arg(args, ctx)
    if isinstance(args, dict) and args.get("iso8601"):
        return F.struct(
            _iso_week_year(d).alias("isoWeekYear"),
            F.weekofyear(d).alias("isoWeek"),
            _iso_dow(d).alias("isoDayOfWeek"),
            F.hour(d).alias("hour"),
            F.minute(d).alias("minute"),
            F.second(d).alias("second"),
            F.pmod(F.unix_millis(d), F.lit(1000)).cast("int").alias("millisecond"),
        )
    return F.struct(
        F.year(d).alias("year"),
        F.month(d).alias("month"),
        F.dayofmonth(d).alias("day"),
        F.hour(d).alias("hour"),
        F.minute(d).alias("minute"),
        F.second(d).alias("second"),
        F.pmod(F.unix_millis(d), F.lit(1000)).cast("int").alias("millisecond"),
    )


def _date_from_parts_op(args, ctx):
    if not isinstance(args, dict):
        raise UnsupportedExpression("$dateFromParts needs an object")
    tz = args.get("timezone")
    if tz not in _UTC_TZ:
        tz = _tz_arg(tz)
    else:
        tz = None

    def part(key, default):
        if key in args:
            return compile_expr(args[key], ctx).cast("int")
        return F.lit(default)

    if "isoWeekYear" in args:
        y = part("isoWeekYear", 1970)
        wk = part("isoWeek", 1)
        dw = part("isoDayOfWeek", 1)
        # ISO week 1 contains Jan 4; its Monday anchors the grid
        jan4 = F.make_date(y, F.lit(1), F.lit(4))
        monday1 = F.date_sub(jan4, _iso_dow(jan4) - 1)
        day = F.date_add(monday1, (wk - 1) * 7 + (dw - 1))
    else:
        # Mongo CARRIES out-of-range parts (month 13 -> January of the
        # next year, day 0 -> last day of the previous month, day 32 ->
        # into the next month); make_date would return NULL for them,
        # so build arithmetically: anchor at Jan 1 of the year, add
        # (month-1) months then (day-1) days.  Hour/minute/second/ms
        # overflow already carries through the epoch-ms addition below.
        day = F.date_add(
            F.add_months(
                F.make_date(part("year", 1970), F.lit(1), F.lit(1)),
                part("month", 1) - 1),
            part("day", 1) - 1)
    secs = (
        part("hour", 0).cast("long") * 3600
        + part("minute", 0).cast("long") * 60
        + part("second", 0).cast("long")
    )
    ms = part("millisecond", 0).cast("long")
    # days-since-epoch arithmetic, NOT a date->timestamp cast: the cast
    # goes through the session timezone (local midnight + DST holes
    # shift the instant); datediff is pure calendar math
    day_ms = (
        F.datediff(day, F.to_date(F.lit("1970-01-01"))).cast("long")
        * 86400000
    )
    naive = F.timestamp_millis(day_ms + secs * 1000 + ms)
    if tz is not None:
        # the parts are wall clock IN tz: re-anchor the naive instant
        # from that zone to UTC (Java zone rules, DST included)
        naive = F.to_utc_timestamp(naive, tz)
    return _iso_instant(naive)


def _date_trunc_op(args, ctx):
    # {date, unit, binSize?, timezone?}: binSize 1 -> native date_trunc
    # (all units); binSize > 1 -> fixed-width units only, epoch-anchored
    # bins (floor(ms / width) * width).  A timezone truncates on that
    # zone's wall clock (midnight-in-Brussels, not midnight-UTC).
    tz = args.get("timezone")
    d = _in_zone(_as_ts(compile_expr(args["date"], ctx)), tz)
    unit = args.get("unit", "day")
    bin_size = int(args.get("binSize", 1))
    if bin_size == 1:
        if unit == "millisecond":
            return _iso_instant(_from_zone(d, tz))
        if unit not in _TS_ADD_UNITS:
            raise UnsupportedExpression(f"$dateTrunc unit {unit!r}")
        return _iso_instant(_from_zone(F.date_trunc(unit, d), tz))
    if unit not in _DATE_UNIT_MS:
        raise UnsupportedExpression(
            f"$dateTrunc binSize needs a fixed-width unit, got {unit!r}"
        )
    w = _DATE_UNIT_MS[unit] * bin_size
    ms = F.unix_millis(d)
    return _iso_instant(_from_zone(
        F.timestamp_millis((F.floor(ms / w) * w).cast("long")), tz,
    ))


def _in_zone(col: Column, tz) -> Column:
    """Shift an instant to the zone's wall clock for calendar math."""
    return col if tz in _UTC_TZ else F.from_utc_timestamp(col,
                                                          _tz_arg(tz))


def _from_zone(col: Column, tz) -> Column:
    return col if tz in _UTC_TZ else F.to_utc_timestamp(col,
                                                        _tz_arg(tz))


def _date_add_op(sign: int):
    def h(args, ctx):
        d = _as_ts(compile_expr(args["startDate"], ctx))
        unit = args["unit"]
        if unit not in _TS_ADD_UNITS:
            raise UnsupportedExpression(f"$dateAdd unit {unit!r}")
        amount = (
            compile_expr(args["amount"], ctx).cast("int") * sign
        )
        # Mongo: CALENDAR units (day and larger) are a function of the
        # calendar IN the given timezone (a day across a DST change is
        # 23/25 h of real time) — shift to the zone's wall clock, add,
        # shift back.  Sub-day units are exact durations: the timezone
        # argument must NOT affect them (docs.mongodb.com $dateAdd).
        tz = args.get("timezone")
        if unit in ("hour", "minute", "second", "millisecond"):
            tz = None
        return _iso_instant(_from_zone(
            F.timestamp_add(_TS_ADD_UNITS[unit], amount,
                            _in_zone(d, tz)), tz,
        ))
    return h


def _date_diff_op(args, ctx):
    # Mongo semantics: BOUNDARY crossings between startDate and
    # endDate, not elapsed full units (23:59 -> 00:01 is 1 day);
    # boundaries are evaluated on the given timezone's wall clock
    tz = args.get("timezone")
    s = _in_zone(_as_ts(compile_expr(args["startDate"], ctx)), tz)
    e = _in_zone(_as_ts(compile_expr(args["endDate"], ctx)), tz)
    unit = args["unit"]
    if unit == "year":
        return (F.year(e) - F.year(s)).cast("long")
    if unit == "quarter":
        return (
            (F.year(e) * 4 + F.quarter(e))
            - (F.year(s) * 4 + F.quarter(s))
        ).cast("long")
    if unit == "month":
        return (
            (F.year(e) * 12 + F.month(e))
            - (F.year(s) * 12 + F.month(s))
        ).cast("long")
    if unit == "week":
        # ISO weeks: epoch day 0 was a Thursday, +3 aligns Mondays
        def wk(t):
            return F.floor(
                (F.floor(F.unix_millis(t) / 86_400_000) + 3) / 7
            )
        return (wk(e) - wk(s)).cast("long")
    if unit in _DATE_UNIT_MS:
        w = _DATE_UNIT_MS[unit]
        return (
            F.floor(F.unix_millis(e) / w) - F.floor(F.unix_millis(s) / w)
        ).cast("long")
    raise UnsupportedExpression(f"$dateDiff unit {unit!r}")


# --------------------------------------------------------------------------
# strings  (docs/aggregation_operators.md:726-949)
# --------------------------------------------------------------------------

def _regex_flags(options: str | None) -> str:
    return f"(?{options})" if options else ""


def _regex_match(args, ctx):
    inp = compile_expr(args["input"], ctx)
    pat = _regex_flags(args.get("options")) + args["regex"]
    return inp.rlike(pat)


def _regex_find(args, ctx):
    inp = compile_expr(args["input"], ctx)
    pat = _regex_flags(args.get("options")) + args["regex"]
    m = F.regexp_extract(inp, pat, 0)
    idx = F.regexp_instr(inp, F.lit(pat)) - 1
    return F.when(
        idx >= 0, F.struct(m.alias("match"), idx.alias("idx"))
    ).otherwise(F.lit(None))


def _regex_find_all(args, ctx):
    inp = compile_expr(args["input"], ctx)
    pat = _regex_flags(args.get("options")) + args["regex"]
    return F.regexp_extract_all(inp, F.lit(pat), F.lit(0))


def _replace_one(args, ctx):
    inp = compile_expr(args["input"], ctx)
    find = compile_expr(args["find"], ctx)
    repl = compile_expr(args["replacement"], ctx)
    pos = F.instr(inp, find)
    return F.when(pos == 0, inp).otherwise(
        F.concat(
            F.substring(inp, F.lit(1), pos - 1),
            repl,
            F.substring(inp, pos + F.length(find),
                        F.length(inp)),
        )
    )


def _replace_all(args, ctx):
    inp = compile_expr(args["input"], ctx)
    find = compile_expr(args["find"], ctx)
    repl = compile_expr(args["replacement"], ctx)
    return F.replace(inp, find, repl)


def _split(args, ctx):
    s, delim = args
    inp = compile_expr(s, ctx)
    if isinstance(delim, str) and not delim.startswith("$"):
        return F.split(inp, re.escape(delim))
    # dynamic delimiter: quote it at runtime
    d = compile_expr(delim, ctx)
    return F.split(inp, F.concat(F.lit("\\Q"), d, F.lit("\\E")))


def _index_of_cp(args, ctx):
    cols = _nary(args, ctx)
    s, sub = cols[0], cols[1]
    if len(cols) == 2:
        return F.instr(s, sub) - 1
    start = cols[2]
    tail = F.substring(s, (start + 1).cast("int"), F.length(s))
    pos = F.instr(tail, sub)
    found = F.when(pos == 0, F.lit(-1)).otherwise(pos - 1 + start)
    if len(cols) > 3:
        end = cols[3]
        found = F.when(found >= end, F.lit(-1)).otherwise(found)
    return found


def _trim_like(which):
    def h(args, ctx):
        if isinstance(args, dict):
            inp = compile_expr(args["input"], ctx)
            chars = args.get("chars")
        else:
            inp, chars = compile_expr(args, ctx), None
        if chars is None:
            return {"l": F.ltrim, "r": F.rtrim, "b": F.trim}[which](inp)
        cls = "[" + re.escape(chars) + "]+"
        pat = {"l": f"^{cls}", "r": f"{cls}$", "b": f"^{cls}|{cls}$"}[which]
        return F.regexp_replace(inp, pat, "")
    return h


def _substr_cp(args, ctx):
    s, start, length = _nary(args, ctx, 3)
    return F.substring(s, (start + 1).cast("int"), length.cast("int"))


def _strcasecmp(args, ctx):
    a, b = _nary(args, ctx, 2)
    la, lb = F.lower(a), F.lower(b)
    return F.when(la < lb, F.lit(-1)).when(la > lb, F.lit(1)).otherwise(F.lit(0))


def _to_string(args, ctx):
    (x,) = _nary(args, ctx, 1)
    return x.cast("string")


def _json_to_string(args, ctx):
    (x,) = _nary(args, ctx, 1)
    return F.to_json(x)


def _string_to_json(args, ctx):
    (x,) = _nary(args, ctx, 1)
    return F.parse_json(x)  # VariantType (Spark 4)


# --------------------------------------------------------------------------
# type conversion  (docs/aggregation_operators.md:1094-1161)
# --------------------------------------------------------------------------

_CONVERT_TYPES = {
    "double": "double", 1: "double",
    "string": "string", 2: "string",
    "bool": "boolean", 8: "boolean",
    "date": "timestamp", 9: "timestamp",
    "int": "int", 16: "int",
    "long": "bigint", 18: "bigint",
    "decimal": "decimal(38,10)", 19: "decimal(38,10)",
}


def _convert(args, ctx):
    inp = compile_expr(args["input"], ctx)
    to = args["to"]
    spark_t = _CONVERT_TYPES.get(to)
    if spark_t is None:
        raise UnsupportedExpression(f"$convert to {to!r}")
    out = inp.try_cast(spark_t) if "onError" in args else inp.cast(spark_t)
    if "onError" in args:
        out = F.coalesce(out, compile_expr(args["onError"], ctx))
    if "onNull" in args:
        out = F.when(inp.isNull(),
                     compile_expr(args["onNull"], ctx)).otherwise(out)
    return out


def _cast_to(t):
    def h(args, ctx):
        (x,) = _nary(args, ctx, 1)
        return x.cast(t)
    return h


_TYPE_NAMES = [
    ("boolean", "bool"), ("tinyint", "int"), ("smallint", "int"),
    ("int", "int"), ("bigint", "long"), ("float", "double"),
    ("double", "double"), ("decimal", "decimal"), ("string", "string"),
    ("date", "date"), ("timestamp", "date"), ("array", "array"),
    ("map", "object"), ("struct", "object"), ("void", "null"),
    ("binary", "binData"), ("variant", "object"),
]


def _type(args, ctx):
    (x,) = _nary(args, ctx, 1)
    t = F.typeof(x)
    out = F.when(x.isNull(), F.lit("null"))
    for spark_name, mongo_name in _TYPE_NAMES:
        out = out.when(t.startswith(spark_name), F.lit(mongo_name))
    return out.otherwise(t)


# --------------------------------------------------------------------------
# object
# --------------------------------------------------------------------------

def _merge_objects_expr(args, ctx):
    # Schema-aware struct merge: later documents' fields override earlier
    # ones (docs/aggregation_operators.md:631).  Each arg must be a document
    # literal or a struct-typed field reference resolvable in the schema;
    # map-typed args fall back to map_concat.
    exprs = args if isinstance(args, list) else [args]
    merged: dict[str, Column] | None = {}
    for e in exprs:
        if isinstance(e, dict) and not any(k.startswith("$") for k in e):
            for k, v in e.items():
                merged[k] = compile_expr(v, ctx)
        elif isinstance(e, str) and e.startswith("$") and \
                not e.startswith("$$") and \
                _struct_fields(e[1:], ctx) is not None:
            col = compile_expr(e, ctx)
            for f in _struct_fields(e[1:], ctx):
                merged[f] = col.getField(f)
        else:
            merged = None
            break
    if merged is not None:
        return F.struct(*[c.alias(k) for k, c in merged.items()])
    cols = [compile_expr(e, ctx) for e in exprs]
    return F.map_concat(*cols)


# --------------------------------------------------------------------------
# misc / extensions
# --------------------------------------------------------------------------

def _let(args, ctx):
    new_vars = {
        name: compile_expr(v, ctx) for name, v in args["vars"].items()
    }
    return compile_expr(args["in"], ctx.child(new_vars))


def _literal(args, ctx):
    def lit_of(v):
        if isinstance(v, list):
            if v and all(isinstance(x, dict) for x in v):
                # JSON arrays hold heterogeneous objects; Spark arrays
                # need one struct type — unify on the union of keys
                keys: list[str] = []
                for x in v:
                    for k in x:
                        if k not in keys:
                            keys.append(k)
                return F.array(*[
                    F.struct(*[
                        lit_of(x[k]).alias(k) if k in x
                        else F.lit(None).cast("string").alias(k)
                        for k in keys
                    ])
                    for x in v
                ])
            return F.array(*[lit_of(x) for x in v])
        if isinstance(v, dict):
            return F.struct(*[lit_of(x).alias(k) for k, x in v.items()])
        return F.lit(v)
    return lit_of(args)


def _trace_expr(args, ctx):
    return compile_expr(args, ctx)  # identity; logging handled by $trace stage


def _script_expr(args, ctx, language):
    """$jq / $jslt expression operators (docs/aggregation_operators.md:
    1163-1187): {input, script} — runs the embedded interpreter on the
    input value.  Result crosses back as a JSON string (dynamic type);
    the common scalar cases can be cast by the caller."""
    import json as _json

    from pyspark.sql.types import StringType

    script = args["script"]
    inp = compile_expr(args["input"], ctx)
    fn_holder = {}
    # driver-side snapshot of plugin JSLT functions (the lazy compile
    # below runs on executor workers, where the registry is empty)
    from pincette_json_streams_spark.plugins import JSLT_FUNCTION_EXTENSIONS
    jslt_ext = dict(JSLT_FUNCTION_EXTENSIONS)

    def apply_script(js):
        if js is None:
            return None
        if "fn" not in fn_holder:
            if language == "jq":
                from pincette_json_streams_spark.functions.jq_subset \
                    import compile_jq

                jqf = compile_jq(script)
                fn_holder["fn"] = lambda v: (jqf(v) or [None])[0]
            else:
                from pincette_json_streams_spark.functions.jslt_subset \
                    import compile_jslt

                fn_holder["fn"] = compile_jslt(script, extensions=jslt_ext)
        r = fn_holder["fn"](_json.loads(js).get("v"))
        if r is None:
            return None
        return r if isinstance(r, str) else _json.dumps(r)

    udf = F.udf(apply_script, StringType())
    return udf(F.to_json(F.struct(inp.alias("v"))))


def _name_uuid_py(namespace, name):
    if name is None:
        return None
    ns = _uuid.UUID(namespace) if namespace else _uuid.NAMESPACE_URL
    return str(_uuid.uuid5(ns, name))


_name_uuid_udf = F.udf(_name_uuid_py, StringType())


def _jes_name_uuid(args, ctx):
    # RFC-4122 name-based (v5) UUID; spec form {scope, key}
    # (docs/aggregation_operators.md:1289-1305); a bare expression is also
    # accepted for convenience.
    if isinstance(args, dict) and "scope" in args:
        name = F.concat_ws(
            ":", compile_expr(args["scope"], ctx).cast("string"),
            compile_expr(args["key"], ctx).cast("string"),
        )
    else:
        (name,) = _nary(args, ctx, 1)
        name = name.cast("string")
    return _name_uuid_udf(F.lit(""), name)


def _jes_uuid(args, ctx):
    return F.uuid()


def _jes_href(args, ctx):
    # {app, type, id?} -> "/app/type[/id]" (docs/aggregation_operators.md:
    # 1270-1287)
    if isinstance(args, dict):
        cols = [compile_expr(args["app"], ctx).cast("string"),
                compile_expr(args["type"], ctx).cast("string")]
        if "id" in args:
            cols.append(compile_expr(args["id"], ctx).cast("string"))
    else:
        cols = [c.cast("string") for c in _nary(args, ctx)]
    return F.concat(F.lit("/"), F.concat_ws("/", *cols))


def _ops_predicate(op_names: tuple[str, ...]):
    """Predicates over the RFC-6902 `_ops` patch array of an event; the
    argument is an expression yielding a JSON pointer
    (docs/aggregation_operators.md:1235-1260)."""
    def h(args, ctx):
        (ptr,) = _nary(args, ctx, 1)
        ops = ctx.field("_ops")
        return F.exists(
            ops,
            lambda o: o.getField("op").isin(*op_names)
            & (o.getField("path") == ptr.cast("string")),
        )
    return h


def _jes_changed(args, ctx):
    if isinstance(args, dict) and "pointer" in args:
        # {pointer, from?, to?}: from/to need the full event's
        # _before/_after (docs/aggregation_operators.md:1251-1268)
        pointer = args["pointer"]
        changed = _ops_predicate(("replace", "add", "remove"))(
            pointer, ctx
        )
        if "from" not in args and "to" not in args:
            return changed
        segs = [s for s in str(pointer).split("/") if s]
        cond = changed
        if "from" in args:
            b = ctx.field("_before")
            for seg in segs:
                b = b.getField(seg)
            cond = cond & (b == compile_expr(args["from"], ctx))
        if "to" in args:
            a = ctx.field("_after")
            for seg in segs:
                a = a.getField(seg)
            cond = cond & (a == compile_expr(args["to"], ctx))
        return cond
    return _ops_predicate(("replace", "add", "remove"))(args, ctx)


# --------------------------------------------------------------------------
# operator table
# --------------------------------------------------------------------------

def _simple(fn: Callable[[Column], Column]):
    def h(args, ctx):
        (x,) = _nary(args, ctx, 1)
        return fn(x)
    return h


OPERATORS: dict[str, Callable[[Any, Ctx], Column]] = {
    # arithmetic
    "$abs": _simple(F.abs),
    "$add": _add,
    "$ceil": _simple(F.ceil),
    "$divide": _binop(lambda a, b: a / b),
    "$exp": _simple(F.exp),
    "$floor": _simple(F.floor),
    "$ln": _simple(F.log),
    "$log": lambda a, c: (lambda x, b: F.ln(x) / F.ln(b))(*_nary(a, c, 2)),
    "$log10": _simple(F.log10),
    "$mod": _binop(lambda a, b: a % b),
    "$multiply": _multiply,
    "$pow": _binop(F.pow),
    "$round": _round_like(F.round),
    "$sqrt": _simple(F.sqrt),
    "$subtract": _binop(lambda a, b: a - b),
    "$trunc": _round_like(lambda x, p: F.expr("0")),  # replaced below
    # arrays
    "$arrayElemAt": _array_elem_at,
    "$arrayToObject": _array_to_object,
    "$concatArrays": lambda a, c: F.concat(*_nary(a, c)),
    "$elemMatch": _elem_match,
    "$filter": _filter,
    "$first": _simple(lambda x: F.try_element_at(x, F.lit(1))),
    "$in": lambda a, c: F.array_contains(_nary(a, c, 2)[1], _nary(a, c, 2)[0]),
    "$indexOfArray": _index_of_array,
    "$isArray": _is_array,
    "$last": _simple(lambda x: F.try_element_at(x, F.lit(-1))),
    "$map": _map,
    "$objectToArray": _object_to_array,
    "$range": _range,
    "$reduce": _reduce,
    "$reverseArray": _simple(F.reverse),
    "$size": _simple(F.size),
    "$slice": _slice,
    "$zip": _zip,
    # boolean
    "$and": _and,
    "$not": _simple(lambda x: ~x.cast("boolean")),
    "$or": _or,
    # comparison
    "$cmp": _cmp,
    "$eq": _binop(lambda a, b: a.eqNullSafe(b)),
    "$gt": _binop(_gt),
    "$gte": _binop(_gte),
    "$lt": _binop(lambda a, b: _gt(b, a)),
    "$lte": _binop(lambda a, b: _gte(b, a)),
    "$max": _extremum(F.greatest, F.array_max),
    "$min": _extremum(F.least, F.array_min),
    "$ne": _binop(lambda a, b: ~a.eqNullSafe(b)),
    # conditional
    "$cond": _cond,
    "$ifNull": lambda a, c: F.coalesce(*_nary(a, c)),
    "$switch": _switch,
    # ISO-8601 date-time (extensions)
    "$fromEpochMillis": _from_epoch_millis,
    "$fromEpochNanos": _from_epoch_nanos,
    "$fromEpochSeconds": _from_epoch_seconds,
    "$toDate": _simple(lambda x: x.cast("timestamp")),
    "$toDay": _simple(lambda x: F.dayofmonth(_as_ts(x))),
    "$toEpochMillis": _simple(lambda x: F.unix_millis(_as_ts(x))),
    "$toEpochNanos": _simple(lambda x: F.unix_micros(_as_ts(x)) * 1000),
    "$toEpochSeconds": _simple(lambda x: F.unix_seconds(_as_ts(x))),
    "$toMonth": _simple(lambda x: F.month(_as_ts(x))),
    "$toYear": _simple(lambda x: F.year(_as_ts(x))),
    # MongoDB 5.0 date arithmetic (extensions)
    "$dateTrunc": _date_trunc_op,
    **{name: _date_part_op(name) for name in _DATE_PARTS},
    "$dateToParts": _date_to_parts_op,
    # $rand (Mongo 4.4): uniform [0, 1) per document — nondeterministic
    # by contract, so no oracle query claims it
    "$rand": lambda args, ctx: F.rand(),
    "$isNumber": _is_number,
    "$dateFromParts": _date_from_parts_op,
    "$dateAdd": _date_add_op(1),
    "$dateSubtract": _date_add_op(-1),
    "$dateDiff": _date_diff_op,
    "$dateToString": _date_to_string_op,
    "$dateFromString": _date_from_string_op,
    # MongoDB 5.x array/field expressions (extensions)
    "$sortArray": _sort_array_op,
    "$minN": _array_n_op("$minN"),
    "$maxN": _array_n_op("$maxN"),
    "$firstN": _array_n_op("$firstN"),
    "$lastN": _array_n_op("$lastN"),
    "$getField": _get_field_op,
    "$setField": _set_field_op,
    "$unsetField": _unset_field_op,
    # literal
    "$literal": _literal,
    # object
    "$mergeObjects": _merge_objects_expr,
    # set ops on arrays
    "$allElementsTrue": _simple(
        lambda x: F.forall(x, lambda e: e.cast("boolean"))),
    "$anyElementTrue": _simple(
        lambda x: F.exists(x, lambda e: e.cast("boolean"))),
    "$setDifference": _binop(
        lambda a, b: F.array_distinct(F.array_except(a, b))),
    "$setEquals": lambda a, c: _set_equals(_nary(a, c)),
    "$setIntersection": lambda a, c: _fold(F.array_intersect, _nary(a, c)),
    "$setIsSubset": _binop(lambda a, b: F.size(F.array_except(a, b)) == 0),
    "$setUnion": lambda a, c: F.array_sort(_fold(F.array_union, _nary(a, c))),
    # strings
    "$base64Decode": _simple(lambda x: F.unbase64(x).cast("string")),
    "$base64Encode": _simple(lambda x: F.base64(F.encode(x, "UTF-8"))),
    "$concat": lambda a, c: F.concat(*_nary(a, c)),
    "$indexOfCP": _index_of_cp,
    "$jsonToString": _json_to_string,
    "$ltrim": _trim_like("l"),
    "$regexFind": _regex_find,
    "$regexFindAll": _regex_find_all,
    "$regexMatch": _regex_match,
    "$replaceAll": _replace_all,
    "$replaceOne": _replace_one,
    "$rtrim": _trim_like("r"),
    "$split": _split,
    "$strcasecmp": _strcasecmp,
    "$stringToJson": _string_to_json,
    "$strLenCP": _simple(F.length),
    "$substrCP": _substr_cp,
    "$toLower": _simple(F.lower),
    "$toString": _to_string,
    "$toUpper": _simple(F.upper),
    "$trim": _trim_like("b"),
    "$uriDecode": _simple(F.url_decode),
    # url_encode is form-encoding (space -> '+'); URIs want percent-encoding
    "$uriEncode": _simple(lambda x: F.replace(
        F.url_encode(x), F.lit("+"), F.lit("%20"))),
    # trigonometry
    "$acos": _simple(F.acos), "$acosh": _simple(F.acosh),
    "$asin": _simple(F.asin), "$asinh": _simple(F.asinh),
    "$atan": _simple(F.atan),
    "$atan2": _binop(F.atan2),
    "$atanh": _simple(F.atanh),
    "$cos": _simple(F.cos), "$cosh": _simple(F.cosh),
    "$degreesToRadians": _simple(F.radians),
    "$radiansToDegrees": _simple(F.degrees),
    "$sin": _simple(F.sin), "$sinh": _simple(F.sinh),
    "$tan": _simple(F.tan), "$tanh": _simple(F.tanh),
    # type
    "$convert": _convert,
    "$toBool": _cast_to("boolean"),
    "$toDecimal": _cast_to("decimal(38,10)"),
    "$toDouble": _cast_to("double"),
    "$toInt": _cast_to("int"),
    "$toLong": _cast_to("bigint"),
    "$type": _type,
    # misc
    "$let": _let,
    "$sort": _sort_arr,
    "$trace": _trace_expr,
    "$jq": lambda a, c: _script_expr(a, c, "jq"),
    "$jslt": lambda a, c: _script_expr(a, c, "jslt"),
    # event-sourcing extensions
    "$jes-added": _ops_predicate(("add",)),
    "$jes-changed": _jes_changed,
    "$jes-href": _jes_href,
    "$jes-name-uuid": _jes_name_uuid,
    "$jes-removed": _ops_predicate(("remove",)),
    "$jes-uuid": _jes_uuid,
}


def _trunc(args, ctx):
    cols = _nary(args, ctx)
    x = cols[0]
    if len(cols) == 1:
        return F.when(x >= 0, F.floor(x)).otherwise(F.ceil(x))
    p = cols[1]
    scale = F.pow(F.lit(10.0), p)
    scaled = x * scale
    return (
        F.when(scaled >= 0, F.floor(scaled)).otherwise(F.ceil(scaled)) / scale
    )


OPERATORS["$trunc"] = _trunc


def _fold(fn, cols):
    out = cols[0]
    for c in cols[1:]:
        out = fn(out, c)
    return out


def _set_equals(cols):
    canon = [F.array_sort(F.array_distinct(c)) for c in cols]
    out = F.lit(True)
    for c in canon[1:]:
        out = out & (canon[0] == c)
    return out
