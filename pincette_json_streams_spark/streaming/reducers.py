"""Row-level (Python-dict) interpreter for Mongo pipelines/expressions.

Used where per-row imperative semantics are required and the input is a
single JSON document rather than a DataFrame: aggregate *pipeline reducers*
(docs/state.md — the reducer pipeline runs over one `{command, state}`
document per command) and the $redact fallback.  Everything DataFrame-wide
still goes through the Column compiler (operators/expressions.py); this
interpreter is deliberately scoped to the per-document fold inside
``applyInPandas``/``transformWithStateInPandas`` where Catalyst cannot see
anyway.

Covers the operator subset that reducer pipelines in the reference's test
corpus use ($addFields/$set/$unset/$project/$replaceRoot/$match + scalar
expressions); unknown operators raise so gaps surface in tests.
"""

from __future__ import annotations

import operator
from datetime import date
from decimal import Decimal
from functools import cmp_to_key
from typing import Any, Callable

__all__ = ["eval_expr", "run_pipeline_doc", "pipeline_reducer"]

_MISSING = object()


def _get_path(doc: Any, path: str) -> Any:
    cur = doc
    for seg in path.split("."):
        if isinstance(cur, dict) and seg in cur:
            cur = cur[seg]
        else:
            return None
    return cur


def _set_path(doc: dict, path: str, value: Any) -> None:
    parts = path.split(".")
    cur = doc
    for seg in parts[:-1]:
        cur = cur.setdefault(seg, {})
    cur[parts[-1]] = value


def _del_path(doc: dict, path: str) -> None:
    parts = path.split(".")
    cur = doc
    for seg in parts[:-1]:
        cur = cur.get(seg)
        if not isinstance(cur, dict):
            return
    cur.pop(parts[-1], None)


def eval_expr(expr: Any, doc: dict, variables: dict | None = None) -> Any:
    v = variables or {}
    if isinstance(expr, str):
        if expr.startswith("$$"):
            name, _, rest = expr[2:].partition(".")
            if name == "ROOT":
                base = doc
            else:
                base = v.get(name)
            return _get_path(base, rest) if rest else base
        if expr.startswith("$"):
            return _get_path(doc, expr[1:])
        return expr
    if isinstance(expr, (int, float, bool)) or expr is None:
        return expr
    if isinstance(expr, list):
        return [eval_expr(e, doc, v) for e in expr]
    if isinstance(expr, dict):
        if len(expr) == 1:
            (op, args), = expr.items()
            if op.startswith("$"):
                return _eval_op(op, args, doc, v)
        return {k: eval_expr(x, doc, v) for k, x in expr.items()}
    raise ValueError(f"cannot evaluate {expr!r}")


def _nums(args, doc, v):
    return [eval_expr(a, doc, v) for a in
            (args if isinstance(args, list) else [args])]


def _eval_op(op: str, args: Any, doc: dict, v: dict) -> Any:
    import math

    def ev(e):
        return eval_expr(e, doc, v)

    if op == "$add":
        vals = _nums(args, doc, v)
        return None if any(x is None for x in vals) else sum(vals)
    if op == "$subtract":
        a, b = _nums(args, doc, v)
        return None if a is None or b is None else a - b
    if op == "$multiply":
        vals = _nums(args, doc, v)
        if any(x is None for x in vals):
            return None
        out = 1
        for x in vals:
            out *= x
        return out
    if op == "$divide":
        a, b = _nums(args, doc, v)
        return None if a is None or b is None else a / b
    if op == "$mod":
        a, b = _nums(args, doc, v)
        return None if a is None or b is None else a % b
    if op == "$abs":
        (a,) = _nums(args, doc, v)
        return None if a is None else abs(a)
    if op in ("$floor", "$ceil", "$sqrt", "$exp", "$ln", "$log10", "$trunc"):
        (a,) = _nums(args, doc, v)
        if a is None:
            return None
        return {
            "$floor": math.floor, "$ceil": math.ceil, "$sqrt": math.sqrt,
            "$exp": math.exp, "$ln": math.log, "$log10": math.log10,
            "$trunc": math.trunc,
        }[op](a)
    if op == "$pow":
        a, b = _nums(args, doc, v)
        return a ** b
    if op == "$concat":
        vals = _nums(args, doc, v)
        return None if any(x is None for x in vals) else "".join(vals)
    if op == "$toUpper":
        (a,) = _nums(args, doc, v)
        return None if a is None else str(a).upper()
    if op == "$toLower":
        (a,) = _nums(args, doc, v)
        return None if a is None else str(a).lower()
    if op == "$toString":
        (a,) = _nums(args, doc, v)
        return None if a is None else str(a)
    if op in ("$toInt", "$toLong"):
        (a,) = _nums(args, doc, v)
        return None if a is None else int(a)
    if op == "$toDouble":
        (a,) = _nums(args, doc, v)
        return None if a is None else float(a)
    if op in _COMPARISONS:
        a, b = (_operand(e, doc, v) for e in args)
        c = _bson_cmp(a, b)
        return c if op == "$cmp" else _COMPARISONS[op](c, 0)
    if op in ("$max", "$min"):
        # one operand that is an array: its elements; nulls are ignored
        vals = _nums(args, doc, v)
        if len(vals) == 1 and isinstance(vals[0], list):
            vals = vals[0]
        vals = [x for x in vals if x is not None]
        pick = max if op == "$max" else min
        return pick(vals, key=cmp_to_key(_bson_cmp)) if vals else None
    if op == "$and":
        return all(bool(ev(a)) for a in args)
    if op == "$or":
        return any(bool(ev(a)) for a in args)
    if op == "$not":
        a = args[0] if isinstance(args, list) else args
        return not bool(ev(a))
    if op == "$cond":
        if isinstance(args, dict):
            return ev(args["then"]) if ev(args["if"]) else ev(args["else"])
        i, t, e = args
        return ev(t) if ev(i) else ev(e)
    if op == "$ifNull":
        for a in args:
            val = ev(a)
            if val is not None:
                return val
        return None
    if op == "$switch":
        for br in args["branches"]:
            if ev(br["case"]):
                return ev(br["then"])
        return ev(args["default"]) if "default" in args else None
    if op == "$literal":
        return args
    if op == "$let":
        new_vars = dict(v)
        new_vars.update(
            {k: eval_expr(x, doc, v) for k, x in args["vars"].items()}
        )
        return eval_expr(args["in"], doc, new_vars)
    if op == "$mergeObjects":
        out: dict = {}
        for a in (args if isinstance(args, list) else [args]):
            val = ev(a)
            if isinstance(val, dict):
                out.update(val)
        return out
    if op == "$size":
        (a,) = _nums(args, doc, v)
        return len(a) if a is not None else None
    if op == "$concatArrays":
        out = []
        for a in args:
            val = ev(a)
            if val is None:
                return None
            out.extend(val)
        return out
    if op == "$in":
        a, b = _nums(args, doc, v)
        return a in (b or [])
    if op == "$filter":
        arr = ev(args["input"]) or []
        var = args.get("as", "this")
        return [e for e in arr
                if eval_expr(args["cond"], doc, {**v, var: e, "this": e})]
    if op == "$map":
        arr = ev(args["input"]) or []
        var = args.get("as", "this")
        return [eval_expr(args["in"], doc, {**v, var: e, "this": e})
                for e in arr]
    if op == "$reduce":
        arr = ev(args["input"]) or []
        acc = ev(args["initialValue"])
        for e in arr:
            acc = eval_expr(args["in"], doc, {**v, "value": acc, "this": e})
        return acc
    raise ValueError(f"row interpreter: unsupported operator {op}")


_COMPARISONS = {"$cmp": None, "$eq": operator.eq, "$ne": operator.ne,
                "$gt": operator.gt, "$gte": operator.ge,
                "$lt": operator.lt, "$lte": operator.le}

# MongoDB's order of types when expression values compare
# (canonicalizeBSONType); bool is tested before int, which it subclasses
_TYPE_ORDER = ((bool, 40), ((int, float, Decimal), 10), (str, 15),
               (dict, 20), ((list, tuple), 25), ((bytes, bytearray), 30),
               (date, 45))


def _operand(expr: Any, doc: dict, v: dict) -> Any:
    """A comparison operand: a field path that reaches no value is
    ``_MISSING``, which MongoDB orders below null."""
    if isinstance(expr, str) and expr.startswith("$") \
            and not expr.startswith("$$"):
        cur = doc
        for seg in expr[1:].split("."):
            if not (isinstance(cur, dict) and seg in cur):
                return _MISSING
            cur = cur[seg]
        return cur
    return eval_expr(expr, doc, v)


def _type_rank(x: Any) -> int:
    if x is _MISSING:
        return 0
    if x is None:
        return 5
    return next((rank for types, rank in _TYPE_ORDER
                 if isinstance(x, types)), 50)


def _sign(a: Any, b: Any) -> int:
    return (a > b) - (a < b)


def _bson_cmp(a: Any, b: Any) -> int:
    """MongoDB's comparison of two expression values, as -1, 0 or 1:
    missing < null < numbers < strings < objects < arrays < binary <
    booleans < dates.  A NaN sorts below every other number and equals
    itself; objects compare field by field (value type, name, value),
    arrays element by element, and then by length."""
    ra, rb = _type_rank(a), _type_rank(b)
    if ra != rb:
        return _sign(ra, rb)
    if ra == 10 and (a != a or b != b):
        return _sign(b != b, a != a)
    if ra in (20, 25):
        pairs = zip(a.items(), b.items()) if ra == 20 else \
            (((0, x), (0, y)) for x, y in zip(a, b))
        for (ka, va), (kb, vb) in pairs:
            c = (_sign(_type_rank(va), _type_rank(vb)) or _sign(ka, kb)
                 or _bson_cmp(va, vb))
            if c:
                return c
        return _sign(len(a), len(b))
    return 0 if ra <= 5 else _sign(a, b)


def _bracket(x: Any) -> int | None:
    # MongoDB's type brackets for query comparisons; bool is tested
    # before int, which it subclasses
    for k, types in enumerate((bool, (int, float), str)):
        if isinstance(x, types):
            return k
    return None


def _compare(cmp: Callable[[Any, Any], bool], a: Any, b: Any) -> bool:
    """``$gt``/``$gte``/``$lt``/``$lte`` of a query: values compare only
    within one type bracket (numbers, strings, booleans); across
    brackets, or with null or a missing field, nothing matches and
    nothing raises."""
    k = _bracket(a)
    return k is not None and k == _bracket(b) and cmp(a, b)


def _elements(cur: Any) -> list:
    """The values a query condition is tested against: an array field
    matches when the array itself or any of its elements does."""
    return [cur, *cur] if isinstance(cur, list) else [cur]


def _match_field(cur: Any, present: bool, ops: dict, doc: dict,
                 v: dict) -> bool:
    """One field's operator document, MongoDB's way: ``$ne``, ``$nin``
    and ``$not`` are the negations of ``$eq``, ``$in`` and the operator
    document they wrap, so an array field fails them when any element
    matches."""
    for o, arg in ops.items():
        if o == "$not":
            if not isinstance(arg, dict):
                raise ValueError("row matcher: $not takes an operator "
                                 "document")
            ok = not _match_field(cur, present, arg, doc, v)
        elif o in ("$ne", "$nin"):
            ok = not _match_field(
                cur, present, {"$eq" if o == "$ne" else "$in": arg}, doc, v)
        elif o == "$exists":
            ok = present == bool(arg)
        elif o == "$expr":
            ok = bool(eval_expr(arg, doc, v))
        else:
            test = {
                "$eq": lambda x: x == arg,
                "$gt": lambda x: _compare(operator.gt, x, arg),
                "$gte": lambda x: _compare(operator.ge, x, arg),
                "$lt": lambda x: _compare(operator.lt, x, arg),
                "$lte": lambda x: _compare(operator.le, x, arg),
                "$in": lambda x: x in arg,
            }.get(o)
            if test is None:
                raise ValueError(f"row matcher: unsupported {o}")
            ok = any(test(x) for x in _elements(cur))
        if not ok:
            return False
    return True


def _match_doc(query: dict, doc: dict, v: dict | None = None) -> bool:
    v = v or {}
    for key, value in query.items():
        if key == "$and":
            if not all(_match_doc(q, doc, v) for q in value):
                return False
        elif key == "$or":
            if not any(_match_doc(q, doc, v) for q in value):
                return False
        elif key == "$nor":
            if any(_match_doc(q, doc, v) for q in value):
                return False
        elif key == "$expr":
            if not bool(eval_expr(value, doc, v)):
                return False
        else:
            if not (isinstance(value, dict)
                    and any(k.startswith("$") for k in value)):
                value = {"$eq": value}
            if not _match_field(_get_path(doc, key), _has_path(doc, key),
                                value, doc, v):
                return False
    return True


def _has_path(doc: Any, path: str) -> bool:
    cur = doc
    for seg in path.split("."):
        if isinstance(cur, dict) and seg in cur:
            cur = cur[seg]
        else:
            return False
    return True


def run_pipeline_doc(
    stages: list[dict], doc: dict,
    script_imports: dict[str, str] | None = None,
) -> dict | None:
    """Run a pipeline over ONE document (reducer semantics).  $match that
    fails -> None (command rejected / no-op).  ``script_imports``
    resolves imports inside $jq/$jslt stages (build-time inlined files,
    Common.java:803-846)."""
    cur: dict | None = dict(doc)
    for stage in stages:
        if cur is None:
            return None
        (name, spec), = stage.items()
        if name == "$match":
            if not _match_doc(spec, cur):
                return None
        elif name in ("$addFields", "$set"):
            for k, val in spec.items():
                _set_path(cur, k, eval_expr(val, cur))
        elif name == "$unset":
            for k in (spec if isinstance(spec, list) else [spec]):
                _del_path(cur, k)
        elif name == "$project":
            incl = {k: s for k, s in spec.items() if s not in (0, False)}
            if incl:
                out: dict = {}
                if "_id" in cur and "_id" not in spec:
                    out["_id"] = cur["_id"]
                for k, s in incl.items():
                    out[k] = _get_path(cur, k) if s in (1, True) \
                        else eval_expr(s, cur)
                cur = out
            else:
                for k in spec:
                    _del_path(cur, k)
        elif name in ("$replaceRoot", "$replaceWith"):
            expr = spec.get("newRoot", spec) if isinstance(spec, dict) \
                else spec
            cur = eval_expr(expr, cur)
        elif name in ("$jq", "$jslt"):
            # script stages inside reducer pipelines (app39's form:
            # `reducer: [{$jq: file}]` — the build inlines the file)
            cur = _doc_script(name[1:], spec, script_imports)(cur)
        else:
            raise ValueError(f"reducer pipeline: unsupported stage {name}")
    return cur


_doc_script_cache: dict[tuple, Callable] = {}


def _doc_script(
    language: str, src: str,
    script_imports: dict[str, str] | None = None,
) -> Callable:
    key = (language, src,
           frozenset((script_imports or {}).items()))
    fn = _doc_script_cache.get(key)
    if fn is None:
        loader = (script_imports or {}).get

        if language == "jslt":
            from pincette_json_streams_spark.functions.jslt_subset import (
                compile_jslt,
            )
            fn = compile_jslt(src, loader=lambda p: loader(p) or "")
        else:
            from pincette_json_streams_spark.functions.jq_subset import (
                compile_jq,
            )
            jqf = compile_jq(src, loader=lambda p: loader(p) or "")
            fn = lambda v: (jqf(v) or [None])[0]  # noqa: E731
        _doc_script_cache[key] = fn
    return fn


def pipeline_reducer(
    commands: dict[str, list[dict]],
    script_imports: dict[str, str] | None = None,
) -> Callable[[dict, dict], dict | None]:
    """Reducer from per-command specs (docs/state.md:61-95).  Each command
    maps to either a Mongo pipeline over {command, state} (ending as the
    new state, conventionally via $replaceRoot) or a JQ script string —
    the reference's preferred reducer language (docs/index.md:11,
    App.java:793-812).  ``script_imports`` resolves jq `import`s the way
    the build step inlines them (Common.java:803-846)."""
    script_cache: dict[tuple, Callable] = {}
    # driver-side snapshot: script_for may first run inside the stateful
    # executor worker, where the plugin registry import is empty
    from pincette_json_streams_spark.plugins import JSLT_FUNCTION_EXTENSIONS
    _jslt_ext = dict(JSLT_FUNCTION_EXTENSIONS)

    def script_for(src: str, language: str) -> Callable:
        fn = script_cache.get((language, src))
        if fn is None:
            loader = (script_imports or {}).get
            if language == "jslt":
                from pincette_json_streams_spark.functions.jslt_subset \
                    import compile_jslt

                fn = compile_jslt(src, loader=lambda p: loader(p) or "",
                                  extensions=_jslt_ext)
            else:
                from pincette_json_streams_spark.functions.jq_subset \
                    import compile_jq

                jqf = compile_jq(src, loader=lambda p: loader(p) or "")
                fn = lambda v: (jqf(v) or [None])[0]  # noqa: E731
            script_cache[(language, src)] = fn
        return fn

    def reduce(state: dict, command: dict) -> dict | None:
        name = command.get("_command")
        spec = commands.get(name)
        if spec is None:
            return None
        language = "jq"
        stages = spec
        if isinstance(stages, dict):
            if "jslt" in stages:
                stages, language = stages["jslt"], "jslt"
            elif "jq" in stages:
                stages = stages["jq"]
            else:
                stages = stages.get("reducer", stages.get("pipeline", []))
        if isinstance(stages, dict):  # {"reducer": {"jslt"/"jq": ...}}
            if "jslt" in stages:
                stages, language = stages["jslt"], "jslt"
            elif "jq" in stages:
                stages = stages["jq"]
        if not stages or isinstance(stages, dict):
            # command declared without a reducer (e.g. `put: {}` with only
            # a validator) -> built-ins apply, not an identity pipeline
            # over the {command, state} envelope
            return None
        # deep-copy: pipeline stages mutate documents in place
        # ($replaceRoot returns the actual nested object); the caller's
        # state must stay pristine for the before/after event diff
        import copy

        doc = {"command": copy.deepcopy(command),
               "state": copy.deepcopy(state)}
        if isinstance(stages, str):  # a JQ (default) or JSLT script
            return script_for(stages, language)(doc)
        return run_pipeline_doc(stages, doc,
                                script_imports=script_imports)

    return reduce
