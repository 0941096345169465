"""Event-sourcing aggregate part (docs/state.md; wired App.java:605-634 —
SURVEY.md §2.8).

Commands keyed by ``_id`` fold through a reducer into aggregate state;
each accepted command emits ``aggregate``, ``command``, ``event``,
``event-full`` and ``reply`` streams.

Spark mapping — one compiler, ``compile_aggregate``, for both modes; a
query gives the same outputs in batch and streaming:
  - batch: one grouped call over key groups
    (``functions.groups.map_groups``) — the fold is per-key sequential
    by definition (the reference serializes commands per aggregate
    instance through Kafka key partitioning), so grouped Pandas
    execution is the faithful distributed analogue: parallel across
    keys, ordered within a key.
  - streaming: the same call with state, keyed the same way, with the
    instance's latest aggregate as checkpointed state
    (``streaming.runtime.streaming_aggregate``).

Commands fold per key in arrival order, the same in both modes: by
source file, then row (``_with_arrival``); a stream folds each
micro-batch after the previous one.

Reducers: built-ins ``put``/``delete``/``patch`` (docs/state.md:95),
pipeline reducers (a Mongo pipeline over ``{command, state}`` documents)
and JQ/JSLT script reducers through the embedded interpreters
(functions/jq_subset.py, functions/jslt_subset.py — the reference's
preferred reducer form, docs/index.md:11).

Command admission, in reference order (docs/state.md:53-232):
``preprocessor`` pipelines (part-level then per-command, compiled as
DataFrame pipelines ahead of the fold), then per command the ``_seq``
optimistic lock (mismatch -> command ignored), the ``_acl`` role check
against ``_jwt.roles`` (``write`` fallback, ``sub == "system"`` bypass;
denial -> reply with ``_error``), then the per-command validator
(failure -> reply with ``_error`` + ``errors``).  ``uniqueExpression``
re-keys commands so instances converge on a business key; the instance
keeps the ``_id`` of the first command per key (docs/state.md:176-197).
"""

from __future__ import annotations

import json
import warnings
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["compile_aggregate", "reduce_commands", "acl_allows"]


def acl_allows(state: dict | None, cmd: dict) -> bool:
    """Instance-level access control (docs/state.md:199-232): the current
    state's ``_acl.<command>`` role list must intersect the command's
    ``_jwt.roles``; missing command entry falls back to ``_acl.write``;
    no ``_acl`` (or no applicable entry) allows; ``_jwt.sub == "system"``
    always allows."""
    jwt = cmd.get("_jwt") or {}
    if jwt.get("sub") == "system":
        return True
    acl = (state or {}).get("_acl")
    if not isinstance(acl, dict):
        return True
    command = cmd.get("_command")
    roles = acl.get(command) if command in acl else acl.get("write")
    if roles is None:
        return True
    have = jwt.get("roles") or []
    return bool(set(roles) & set(have))


def _ptr(key: str) -> str:
    # RFC-6901 token escaping
    return key.replace("~", "~0").replace("/", "~1")


def _diff_ops(before: dict, after: dict, prefix: str = "") -> list[dict]:
    """RFC-6902 diff (add/remove/replace) between two JSON objects.

    Deterministic DOCUMENT order — removes in `before` order, then
    adds/replaces in `after` insertion order — matching the reference's
    event `_ops` fixtures (app36 3-put: ops follow the command's field
    order; jsonpatch.make_patch emits a set-dependent order and was
    replaced for exactly that reason)."""
    ops: list[dict] = []
    for k in before:
        if k not in after:
            ops.append({"op": "remove", "path": f"{prefix}/{_ptr(k)}"})
    for k in after:
        p = f"{prefix}/{_ptr(k)}"
        if k not in before:
            ops.append({"op": "add", "path": p, "value": after[k]})
        elif before[k] != after[k]:
            if isinstance(before[k], dict) and isinstance(after[k], dict):
                ops.extend(_diff_ops(before[k], after[k], p))
            else:
                ops.append({"op": "replace", "path": p,
                            "value": after[k]})
    return ops


_TECH = ("_id", "_corr", "_type", "_command", "_jwt", "_timestamp", "_seq",
         "_deleted", "_error", "errors", "_ops", "_before", "_after",
         "_languages")


def reduce_commands(
    state: dict | None,
    commands: list[dict],
    reducer: Any,
    agg_type: str,
    now_millis: int = 0,
    validators: dict[str, dict] | None = None,
    resolver: Any = None,
    lenient: bool = False,
) -> list[dict]:
    """Fold `commands` (ordered) into `state`; emit output records tagged
    with a `purpose` in {aggregate, event, event-full, reply, command}.

    Admission order per command: ``_seq`` lock -> ACL -> validator ->
    reducer (module docstring has the spec references); the
    preprocessors ran ahead of the fold, as DataFrame pipelines.

    ``resolver`` (href -> state dict or None) enables jes href
    resolution around the validator+reducer, mirroring the reference's
    resolve -> validate -> reduce -> unresolve pipe (App.java:808-811;
    streaming/hrefs.py).  A validator or reducer that raises on a
    command answers it with an ``_error`` reply carrying ``message``, so
    no message can fail the fold.  ``lenient`` instead swallows reducer
    exceptions as no-ops — used by the phase-1 resolution-source fold,
    where reducers that need resolution would otherwise fail on
    unexpanded links."""
    from pincette_json_streams_spark.operators.validator import validate_doc

    out: list[dict] = []
    seq = (state or {}).get("_seq", -1)
    cur = dict(state or {})

    def reply_error(cmd: dict, **fields) -> None:
        out.append({"purpose": "reply",
                    "doc": {**cmd, "_error": True, **fields}})

    for cmd in commands:
        out.append({"purpose": "command", "doc": cmd})
        command = cmd.get("_command")
        # optimistic lock (docs/state.md:72): a command carrying _seq must
        # match the instance's sequence, else it is ignored outright
        if cmd.get("_seq") is not None and cmd["_seq"] != seq:
            continue
        # a command without a principal is forbidden, as is one whose
        # roles fail the _acl gate — 403 reply, the reference's shape
        # (app8 fixture 3_error.json -> reply: _statusCode 403 Forbidden)
        if "_jwt" not in cmd or not acl_allows(cur, cmd):
            reply_error(cmd, _statusCode=403, message="Forbidden")
            continue
        # href links expand for the validator and reducer only; stored
        # state and built-in fallbacks stay unresolved
        if resolver is not None:
            from pincette_json_streams_spark.streaming.hrefs import (
                resolve_doc, unresolve_doc,
            )
            cmd_eff = resolve_doc(cmd, resolver)
            cur_eff = resolve_doc(cur, resolver)
        else:
            cmd_eff, cur_eff = cmd, cur
        vspec = (validators or {}).get(command)
        try:
            errs = vspec and validate_doc(
                vspec, {**cmd_eff, "_state": cur_eff or {}})
        except Exception as e:
            reply_error(cmd, message=f"{type(e).__name__}: {e}")
            continue
        if errs:
            reply_error(cmd, errors=errs)
            continue
        # a custom reducer for the command name overrides the built-ins
        # (the reference's corpus ships its own put reducers, e.g.
        # src/test/resources/app8/reducers/put.jslt); reducer -> None
        # means "no reducer declared for this command"
        if reducer is not None:
            try:
                new = reducer(cur_eff, cmd_eff)
            except Exception as e:
                if not lenient:
                    reply_error(cmd, message=f"{type(e).__name__}: {e}")
                    continue
                new = None
            if new is not None and resolver is not None:
                new = unresolve_doc(new)
        else:
            new = None
        if new is None:
            if command == "put":
                new = {
                    k: v for k, v in cmd.items()
                    if k not in ("_command", "_jwt") or k == "_id"
                }
                new.pop("_command", None)
            elif command == "delete":
                new = dict(cur)
                new["_deleted"] = True
            elif command == "patch":
                try:
                    import jsonpatch

                    clean = {k: v for k, v in cur.items() if k not in
                             ("_seq", "_timestamp")}
                    new = jsonpatch.apply_patch(clean, cmd.get("_ops", []))
                except Exception:
                    new = dict(cur)
            else:
                new = dict(cur)

        _meta = ("_seq", "_timestamp", "_type", "_corr", "_jwt")
        before = {k: v for k, v in cur.items() if k != "_timestamp"}
        after_cmp = {k: v for k, v in new.items() if k not in _meta}
        before_cmp = {k: v for k, v in before.items() if k not in _meta}
        if after_cmp == before_cmp:
            # unchanged -> only a reply with the current state
            out.append({"purpose": "reply", "doc": cur or cmd})
            continue

        seq += 1
        new_state = dict(after_cmp)
        new_state["_id"] = cmd.get("_id")
        new_state["_type"] = agg_type
        if "_corr" in cmd:
            new_state["_corr"] = cmd["_corr"]
        if "_jwt" in cmd:
            new_state["_jwt"] = cmd["_jwt"]
        new_state["_seq"] = seq

        ops = _diff_ops(
            {k: v for k, v in before_cmp.items() if k not in _TECH},
            {k: v for k, v in after_cmp.items() if k not in _TECH},
        )
        event = {
            "_id": cmd.get("_id"),
            "_corr": cmd.get("_corr"),
            "_type": agg_type,
            "_command": command,
            "_seq": seq,
            "_timestamp": now_millis,
            "_ops": ops,
        }
        if "_jwt" in cmd:
            # events propagate the command's JWT (docs/state.md:86;
            # app8 event fixtures)
            event["_jwt"] = cmd["_jwt"]
        event_full = dict(event)
        # _before/_after carry the state WITHOUT _jwt; a brand-new
        # instance's "before" is the seeded empty instance {_id, _type}
        # (app8 event-full fixtures)
        before_pub = {k: v for k, v in before.items() if k != "_jwt"}
        if not before_pub:
            before_pub = {"_id": cmd.get("_id"), "_type": agg_type}
        event_full["_before"] = before_pub
        event_full["_after"] = {
            k: v for k, v in new_state.items() if k != "_jwt"
        }

        out.append({"purpose": "aggregate", "doc": new_state})
        out.append({"purpose": "event", "doc": event})
        out.append({"purpose": "event-full", "doc": event_full})
        out.append({"purpose": "reply", "doc": new_state})
        cur = dict(new_state)
    return out


def attach_resolved_maps(
    ordered: DataFrame, states: DataFrame, full_type: str
) -> DataFrame:
    """Join-based href resolution plumbing for the BATCH fold: extract
    hrefs of ``full_type`` from each key's command JSON, equi-join them
    against ``states`` (``__rid``/``__state`` columns: aggregate _id ->
    state JSON), and attach a per-key ``__resolved`` JSON map column.
    ``ordered`` needs ``__key``/``__json`` columns; everything stays a
    join — no driver reads at any size.

    Batch-only by necessity: in streaming this chain (stateful
    per-key aggregation + join back into the stream ahead of the
    stateful fold) is an illegal multi-stateful-operator plan; the
    streaming aggregate takes an injectable ``href_lookup`` point-read
    instead — the reference's own shape (async Mongo reads per
    command)."""
    seg = F.split(F.col("__href"), "/")
    hrefs = (
        ordered.select(
            "__key",
            F.explode(F.array_distinct(F.regexp_extract_all(
                "__json", F.lit(r'"href"\s*:\s*"([^"]+)"'), 1
            ))).alias("__href"),
        )
        # only links to THIS aggregate type resolve from the state side
        .filter(
            (F.size(seg) == 4)
            & (F.concat_ws(
                "-", F.element_at(seg, 2), F.element_at(seg, 3)
            ) == full_type)
        )
        .withColumn("__rid", F.element_at(seg, 4))
        .distinct()
    )
    resolved = (
        hrefs.join(states, "__rid")
        .groupBy("__key")
        .agg(F.to_json(F.map_from_entries(F.collect_list(
            F.struct("__href", "__state")
        ))).alias("__resolved"))
    )
    return ordered.join(resolved, "__key", "left")


FOLD_SCHEMA = "purpose string, value string, _id string"


def fold_frame(recs: list[dict]):
    """``reduce_commands`` records -> the fold's output rows."""
    import pandas as pd

    return pd.DataFrame({
        "purpose": [r["purpose"] for r in recs],
        "value": [json.dumps(r["doc"]) for r in recs],
        "_id": [r["doc"].get("_id") for r in recs],
    }, columns=["purpose", "value", "_id"])


def compile_aggregate(wiring, source: DataFrame,
                      pctx) -> dict[str, DataFrame]:
    """Compile an aggregate part over ``source``, its
    `<app>-<type>-command` topic, batch or streaming alike.

    Returns one DataFrame per purpose stream, keyed by the stream names
    of ``wiring`` (``plans.spec.Wiring``; docs/state.md:97-127).  Values
    are JSON strings (the schemaless message payload); downstream
    pipelines parse what they need.

    Both modes share everything but the fold operator (``map_groups``
    in batch, ``streaming.runtime.streaming_aggregate`` on a stream).
    Commands fold per key in arrival order (``_with_arrival``), numbered
    ahead of the preprocessors, whose stages may shuffle.  There is no
    order key: a stream cannot fold a command ahead of one from an
    earlier micro-batch, so a key that batch sorts the whole input by
    would make the two modes disagree.  A part's ``orderBy`` is ignored
    with a warning.
    """
    from pincette_json_streams_spark.operators.stages import (
        compile_pipeline,
    )
    from pincette_json_streams_spark.plans.spec import PURPOSES, SpecError

    part, pname, full = wiring.part, wiring.name, wiring.aggregate
    streaming = source.isStreaming

    # jes href resolution (streaming/hrefs.py): batch joins against a
    # phase-1 fold below; a stream cannot chain that ahead of the
    # stateful fold and reads each link through ``pctx.href_lookup``
    # instead (providing the lookup opts a streaming part in)
    resolve_hrefs = bool(part.get("resolveHrefs")) or bool(
        getattr(pctx, "resolve_hrefs", False)
    )
    href_lookup = getattr(pctx, "href_lookup", None)
    if streaming and resolve_hrefs and href_lookup is None:
        raise SpecError(
            f"aggregate part {pname!r} resolves hrefs "
            "on a stream: set PipelineContext.href_lookup")

    reducer = None
    validators: dict = {}
    preprocessors: dict = {}
    if "commands" in part:
        # per-command reducers: Mongo pipelines (row interpreter), JQ or
        # JSLT scripts; scriptImports carries inlined jq imports
        # (Common.java:803-846).  validator/preprocessor sub-fields per
        # docs/state.md:53-63.
        from pincette_json_streams_spark.streaming.reducers import (
            pipeline_reducer,
        )
        reducer = pipeline_reducer(part["commands"],
                                   part.get("scriptImports"))
        for cname, cspec in part["commands"].items():
            if isinstance(cspec, dict):
                if isinstance(cspec.get("validator"), dict):
                    validators[cname] = cspec["validator"]
                if isinstance(cspec.get("preprocessor"), list):
                    preprocessors[cname] = cspec["preprocessor"]
    if part.get("orderBy"):
        warnings.warn(
            f"aggregate part {pname!r}: orderBy is "
            "ignored, commands fold in arrival order", stacklevel=2)
    # arrival is numbered ahead of the preprocessors, whose stages may
    # shuffle, and before any other operator: file metadata resolves only
    # on the scan
    source, order_cols = _with_arrival(source)
    # reference trace subparts `<part>.command.<command>`
    # (docs/telemetry.md metrics-attribute table): correlated commands
    # trace with their command name before entering the fold
    if "_command" in source.columns:
        from pincette_json_streams_spark.streaming.effects import (
            emit_event_traces,
        )
        source = emit_event_traces(
            source, f"{pname}.command", pctx, part=pname,
            name_expr=F.concat(
                F.lit(f"{pname}.command."),
                F.coalesce(F.col("_command").cast("string"),
                           F.lit("unknown"))))
    # the part-level preprocessor sits between the command topic and the
    # reducer (docs/state.md:53) — a full pipeline on the command STREAM,
    # so stateful stages like app8's $deduplicate preprocessor work.
    # Per-command preprocessors likewise run as pipelines over the subset
    # with that command name (app35's put-deduplicate).  A command they
    # drop never reaches the fold, so it is not echoed as a command.
    if part.get("preprocessor"):
        source = compile_pipeline(source, part["preprocessor"], pctx)
    for cname, pp in preprocessors.items():
        sub = compile_pipeline(
            source.filter(F.col("_command") == cname), pp, pctx
        )
        source = source.filter(
            (F.col("_command") != cname) | F.col("_command").isNull()
        ).unionByName(sub, allowMissingColumns=True)

    unique = part.get("uniqueExpression")
    if unique is not None:
        # re-key on the unique expression (the reference's `unique` topic:
        # one shuffle on the business key, docs/state.md:124)
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.expressions import (
            compile_expr,
        )
        key_col = F.to_json(F.struct(
            compile_expr(unique, ctx_for(source)).alias("__u")
        ))
    else:
        key_col = F.col("_id").cast("string")
    payload = [c for c in source.columns if c not in order_cols]
    keyed = source.select(
        key_col.alias("__key"),
        F.to_json(F.struct(*payload)).alias("__json"),
        *order_cols,
    )

    def fold(state, pdf, resolver=None, lenient=False) -> list[dict]:
        # a stream calls this once per key and micro-batch, mostly on a
        # few rows: on two rows, sorting tuples takes ~15 us and pandas'
        # multi-column sort_values ~560 us (4-core x86 VM)
        rows = sorted(zip(*(pdf[c].tolist() for c in order_cols),
                          pdf["__json"].tolist()))
        cmds = [json.loads(r[-1]) for r in rows]
        if unique is not None and cmds:
            # instances converge on the business key; the instance _id is
            # the first command's (docs/state.md:176-197)
            inst = (state or {}).get("_id") or cmds[0].get("_id")
            cmds = [{**c, "_id": inst} for c in cmds]
        return reduce_commands(
            state, cmds, reducer, full, validators=validators,
            resolver=resolver, lenient=lenient,
        )

    if streaming:
        from pincette_json_streams_spark.streaming import runtime

        folded = runtime.streaming_aggregate(
            keyed, lambda state, pdf: fold(state, pdf, href_lookup)
        )
    else:
        folded = _batch_fold(keyed, fold, full, resolve_hrefs)
    return {
        name: folded.filter(F.col("purpose") == purpose).select("_id",
                                                                 "value")
        for name, purpose in zip(wiring.streams, PURPOSES)
    }


def _with_arrival(df: DataFrame) -> tuple[DataFrame, list[str]]:
    """``df`` plus the columns that order its rows by arrival, and their
    names, in the same way in batch and on a stream.

    A file source orders by file first — modification time, then path:
    the order in which a file stream admits files — because Spark's scan
    reads files by size, not arrival.  Within a parquet file, rows order
    by the scan's own ``row_index``.  Other sources, and other file
    formats within a block, order by position: ``__arrival`` is then
    numbered as ``monotonically_increasing_id`` numbers a batch frame
    (partition id in the upper 31 bits, row position below), which Spark
    rejects on streams.  On a stream the numbers restart with every
    micro-batch; the fold's state already orders one micro-batch after
    the previous one."""
    from pyspark.sql.types import LongType, StructField, StructType

    meta = df._jdf.queryExecution().analyzed().metadataOutput()
    fields = [list(meta.apply(i).dataType().fieldNames())
              for i in range(meta.size())
              if meta.apply(i).name() == "_metadata"]
    cols = {}
    if fields:
        cols = {
            "__arrival_time": F.unix_micros(
                F.col("_metadata.file_modification_time")),
            "__arrival_file": F.col("_metadata.file_path"),
        }
        if "row_index" in fields[0]:
            cols["__arrival"] = F.col("_metadata.row_index")
            return df.withColumns(cols), list(cols)
        cols["__arrival_block"] = F.col("_metadata.file_block_start")
        df = df.withColumns(cols)

    def stamp(batches):
        import numpy as np
        import pyarrow as pa
        from pyspark import TaskContext

        n = TaskContext.get().partitionId() << 33
        for b in batches:
            ids = pa.array(np.arange(n, n + b.num_rows, dtype=np.int64))
            n += b.num_rows
            yield pa.RecordBatch.from_arrays(
                [*b.columns, ids], names=[*b.schema.names, "__arrival"])

    return df.mapInArrow(stamp, StructType(
        [*df.schema.fields, StructField("__arrival", LongType(), False)]
    )), [*cols, "__arrival"]


def _batch_fold(keyed: DataFrame, fold, full: str,
                resolve_hrefs: bool) -> DataFrame:
    """The fold over the ``__key`` groups of ``keyed`` (``map_groups``).

    With ``resolve_hrefs`` it costs a second fold: the resolution SOURCE
    is the phase-1 (lenient, resolution-free) fold of the same commands,
    so everything stays a join — extract hrefs of this aggregate type
    from the command JSON, equi-join them against the phase-1 final
    states, and ship each key's resolved map into the phase-2 fold as a
    column.  No driver collect at any size."""
    from pincette_json_streams_spark.functions.groups import map_groups

    if not resolve_hrefs:
        return map_groups(keyed, ["__key"],
                          lambda pdf: fold_frame(fold(None, pdf)),
                          FOLD_SCHEMA)
    phase1 = map_groups(
        keyed, ["__key"],
        lambda pdf: fold_frame(fold(None, pdf, lenient=True)), FOLD_SCHEMA)
    seq = F.get_json_object("value", "$._seq").cast("long")
    w = Window.partitionBy("_id").orderBy(F.desc("__seq"))
    finals = (
        phase1.filter(F.col("purpose") == "aggregate")
        .withColumn("__seq", seq)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("_id").alias("__rid"),
                F.col("value").alias("__state"))
    )

    def resolved_fold(pdf):
        raw = next(
            (v for v in pdf["__resolved"] if isinstance(v, str)), None
        )
        resolver = None
        if raw:
            states = {h: json.loads(s) for h, s in json.loads(raw).items()}
            resolver = states.get
        return fold_frame(fold(None, pdf, resolver))

    return map_groups(attach_resolved_maps(keyed, finals, full), ["__key"],
                      resolved_fold, FOLD_SCHEMA)
