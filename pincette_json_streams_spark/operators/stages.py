"""Pipeline *stages* -> DataFrame transformations.

Stage inventory per SURVEY.md §2.1-2.5; semantics from
/root/reference/docs/aggregation_stages.md (the reference implements most
stages in the pincette-mongo-streams library and interprets them per
message; here each stage is a declarative DataFrame transformation so
Catalyst gets the whole pipeline as one logical plan — pushdown, pruning
and whole-stage codegen apply across stage boundaries, which the reference
cannot do at all, SURVEY.md §4).

Batch/streaming agnostic: every stage below works on both static and
streaming DataFrames except where noted ($group family needs update output
mode in streaming; $deduplicate maps to dropDuplicates[WithinWatermark]).

Side-effect stages ($http, $s3*, $send, $delay, $log, $probe, $signJwt)
live in ``pincette_json_streams_spark.streaming.effects``.

The function-backed extension stages ($chunk ... $ivfProbe,
docs/extension_stages.md) are one table, ``EXTENSIONS``: per stage its
``functions/`` operators, the spec key -> parameter map, the key a
scalar spec stands for, the base64 field and the batch-only reason.
One handler binds every spec to its entry: unknown keys and missing
required keys fail the build, omitted keys take the signature's
default, given values are coerced by the default's type.  A stage with
logic of its own (``run``) gets the bound spec and calls its functions
through it.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import inspect
import json
import types
import typing
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from pincette_json_streams_spark.functions.rows import map_rows
from pincette_json_streams_spark.operators.context import Ctx, ctx_for
from pincette_json_streams_spark.operators.expressions import (
    UnsupportedExpression,
    compile_expr,
)
from pincette_json_streams_spark.operators.match import compile_query

__all__ = ["compile_pipeline", "PipelineContext", "STAGES", "EXTENSIONS",
           "Extension"]


@dataclass
class PipelineContext:
    """Catalog and options threaded through stage compilation.

    ``catalog`` resolves collection names (for $lookup / $merge / $out /
    $delete) to DataFrames or writable locations; tests and the batch
    planner populate it with parquet-backed DataFrames, the streaming
    runtime with Delta tables.
    """

    catalog: dict[str, DataFrame] = field(default_factory=dict)
    trace: Optional[Callable[[str, Any], None]] = None
    # sinks captured by side-effecting stages in batch mode ($out, $merge)
    outputs: dict[str, DataFrame] = field(default_factory=dict)
    # $send/$delay routed streams (rows carry a `topic` column; $delay adds
    # `deliver_after` epoch-millis) — the streaming runtime's Kafka sink
    # consumes these, batch runs can inspect them
    sends: list = field(default_factory=list)
    # injectable transports for the side-effect stages (streaming.effects):
    # http_transport(method, url, headers, body) -> HttpResponse;
    # object_store with read/write/url (LocalObjectStore or boto3-backed)
    http_transport: Optional[Callable] = None
    # $s3Csv resume positions (get/put) — the reference's resumeCollection
    resume_store: Optional[Any] = None
    object_store: Optional[Any] = None
    # $lag consumer-lag snapshot provider: () -> {group: {topic: {part:
    # n}}} — Kafka AdminClient in production, injectable fake in tests
    lag_provider: Optional[Callable[[], dict]] = None
    # $log structured-record emitter (record dict -> None), executor-side;
    # default = stdlib logging under the application's logger name
    log_emitter: Optional[Callable[[dict], None]] = None
    # logger name for $log (the reference names the logger after the
    # application); Application sets this from spec["application"]
    app_name: Optional[str] = None
    # enable jes href resolution in aggregate parts (streaming/hrefs.py);
    # parts can also opt in per-part via `resolveHrefs: true`
    resolve_hrefs: bool = False
    # $probe per-minute counter producer (record dict -> None),
    # executor-side; production = Kafka producer to the probe topic,
    # default = the $log structured-emission path
    probe_producer: Optional[Callable[[dict], None]] = None
    # STREAMING jes href resolution: executor-side point read
    # (href path -> state dict or None), e.g. a ChangeLogCollection
    # snapshot reader; providing it opts the streaming aggregate in
    href_lookup: Optional[Callable[[str], Optional[dict]]] = None
    # event-trace producer (record dict -> None), executor-side —
    # providing it opts the planner into the reference's tracesTopic
    # behavior (docs/telemetry.md:54): one event trace per correlated
    # message per part output.  Production = Kafka producer to the
    # traces topic; tests spool to a file.
    trace_producer: Optional[Callable[[dict], None]] = None
    # traceSamplePercentage (docs/configuration.md): deterministic
    # per-_corr sampling so all components keep the same traces
    trace_sample_pct: int = 100
    app_version: Optional[str] = None

    def collection(self, name: str,
                   allow_streaming: bool = False) -> DataFrame:
        if name not in self.catalog:
            raise KeyError(f"unknown collection {name!r}")
        df = self.catalog[name]
        if df.isStreaming and not allow_streaming:
            # defense-in-depth: $out/$merge never register streaming
            # frames, but a caller-supplied streaming catalog entry
            # must not silently become a batch join source.  Stages
            # with legal streaming semantics ($unionWith stream-stream)
            # opt in via allow_streaming.
            raise KeyError(
                f"collection {name!r} is a streaming frame — batch "
                "lookups of a stream are illegal; materialise it "
                "through a sink first")
        return df


def compile_pipeline(
    df: DataFrame,
    stages: list[dict],
    pctx: Optional[PipelineContext] = None,
) -> DataFrame:
    """Apply a Mongo aggregation pipeline to a DataFrame."""
    pctx = pctx or PipelineContext()
    for stage in stages:
        if isinstance(stage, dict) and len(stage) > 1:
            # stages may carry a `_trace: true` annotation beside the
            # operator (reference app1; Common.java stage tracing)
            stage = {k: v for k, v in stage.items()
                     if not (isinstance(k, str) and k.startswith("_"))}
        if not (isinstance(stage, dict) and len(stage) == 1):
            raise ValueError(f"stage must be single-key dict: {stage!r}")
        (name, spec), = stage.items()
        handler = STAGES.get(name)
        if handler is None:
            from pincette_json_streams_spark.plugins import STAGE_EXTENSIONS
            handler = STAGE_EXTENSIONS.get(name)
        if handler is None:
            raise UnsupportedExpression(f"unknown stage {name}")
        try:
            df = handler(df, spec, pctx)
        except (UnsupportedExpression, ValueError, RecursionError):
            # ValueError passes through: stages raise it DELIBERATELY
            # for data-dependent contract violations with crafted
            # messages ($merge whenMatched=fail, $validate build
            # errors); the sweep's malformed-spec leaks were
            # TypeError/KeyError/AttributeError
            raise
        except AnalysisException as e:
            # a binding failure (missing input column, catalog/schema
            # mismatch) is a DATA problem, not a malformed spec —
            # rebranding it as spec error misdirects the user
            raise UnsupportedExpression(
                f"{name}: failed to bind against the input schema: "
                f"{str(e)[:300]}") from e
        except Exception as e:
            # a malformed stage spec must surface as a build-time
            # error naming the stage, never an opaque KeyError/
            # TypeError/AnalysisException from inside the handler
            # (round-8 hostile-spec sweep: 63 of 79 stages leaked)
            raise UnsupportedExpression(
                f"{name}: malformed stage spec {spec!r}: "
                f"{type(e).__name__}: {str(e)[:200]}") from e
    return df


# --------------------------------------------------------------------------
# field-path editing helpers (dotted paths into structs)
# --------------------------------------------------------------------------

def _set_path(df: DataFrame, path: str, value: Column) -> DataFrame:
    parts = path.split(".")
    if len(parts) == 1:
        return df.withColumn(path, value)
    head, rest = parts[0], ".".join(parts[1:])
    if head not in df.columns:
        # Mongo creates the intermediate documents when the head is
        # absent ({$set: {"a.b": v}} on a doc without `a`)
        col = value
        for seg in reversed(parts[1:]):
            col = F.struct(col.alias(seg))
        return df.withColumn(head, col)
    return df.withColumn(head, F.col(head).withField(rest, value))


def _drop_path(df: DataFrame, path: str) -> DataFrame:
    parts = path.split(".")
    if len(parts) == 1:
        return df.drop(path)
    head, rest = parts[0], ".".join(parts[1:])
    return df.withColumn(head, F.col(head).dropFields(rest))


# --------------------------------------------------------------------------
# projections / filters  (docs/aggregation_stages.md:374,468,5,823,515)
# --------------------------------------------------------------------------

def _stage_match(df, spec, pctx):
    return df.filter(compile_query(spec, ctx_for(df)))


def _stage_project(df, spec, pctx):
    ctx = ctx_for(df)
    exclusions = [k for k, v in spec.items() if v in (0, False)]
    inclusions = {k: v for k, v in spec.items() if v not in (0, False)}
    if inclusions:
        cols: list[Column] = []
        # _id kept by default in inclusion mode (docs:468-489)
        if "_id" in df.columns and "_id" not in spec:
            cols.append(F.col("_id"))
        for k, v in inclusions.items():
            if v in (1, True):
                if ctx.has_field(k):
                    cols.append(ctx.field(k).alias(k.split(".")[-1])
                                if "." in k else F.col(k))
            else:
                cols.append(compile_expr(v, ctx).alias(k))
        return df.select(*cols)
    out = df
    for k in exclusions:
        out = _drop_path(out, k)
    return out


def _stage_add_fields(df, spec, pctx):
    ctx = ctx_for(df)
    for k, v in spec.items():
        df = _set_path(df, k, compile_expr(v, ctx))
        ctx = ctx_for(df)  # later fields may reference earlier ones
    return df


def _stage_unset(df, spec, pctx):
    paths = spec if isinstance(spec, list) else [spec]
    for p in paths:
        df = _drop_path(df, p)
    return df


def _stage_replace_root(df, spec, pctx):
    expr = spec["newRoot"] if isinstance(spec, dict) and "newRoot" in spec \
        else spec
    col = compile_expr(expr, ctx_for(df))
    return df.select(col.alias("__root")).select("__root.*")


def _stage_unwind(df, spec, pctx):
    if isinstance(spec, str):
        path, new_ids = spec, False
    else:
        path, new_ids = spec["path"], bool(spec.get("newIds", False))
    path = path.lstrip("$")
    col = ctx_for(df).field(path)
    df = _set_path(df, path, F.explode(col))
    if new_ids and "_id" in df.columns:
        # docs/aggregation_stages.md:848: newIds gives each element row a
        # fresh UUID message id
        df = df.withColumn("_id", F.uuid())
    return df


def _stage_set_key(df, spec, pctx):
    # $setKey (docs:571-589): re-key the message -> repartition boundary.
    key = compile_expr(spec, ctx_for(df)).cast("string")
    out = df.withColumn("_key", key)
    return out.repartition(F.col("_key"))


# --------------------------------------------------------------------------
# grouping  (docs/aggregation_stages.md:28-205)
# --------------------------------------------------------------------------

_ACCUMULATORS: dict[str, Callable[[Column], Column]] = {
    "$addToSet": lambda c: F.array_sort(F.collect_set(c)),
    "$avg": F.avg,
    "$count": lambda c: F.count(F.lit(1)),
    "$first": F.first,
    "$last": F.last,
    "$max": F.max,
    "$min": F.min,
    "$push": F.collect_list,
    "$stdDevPop": F.stddev_pop,
    "$sum": F.sum,
}


def _accumulator(name: str, arg: Any, ctx: Ctx, alias: str) -> Column:
    if name == "$count":
        return F.count(F.lit(1)).alias(alias)
    if name == "$mergeObjects":
        # field-wise document merge (docs/aggregation_operators.md:631):
        # each field takes its value from the last group member that has
        # it.  In the parquet/struct data model "absent" is NULL (see
        # context.py header), so per-field last-non-null IS the merge —
        # a whole-document last() would drop fields the final document
        # lacks.  Non-struct args (maps, opaque docs) keep last-non-null
        # of the whole value.
        from pyspark.sql.types import StructType

        col = compile_expr(arg, ctx)
        dtype = (
            ctx.df.select(col).schema[0].dataType
            if ctx.df is not None else None
        )
        if isinstance(dtype, StructType):
            return F.struct(*[
                F.last(col.getField(f.name), ignorenulls=True).alias(f.name)
                for f in dtype.fields
            ]).alias(alias)
        return F.last(col, ignorenulls=True).alias(alias)
    if name in ("$minN", "$maxN", "$firstN", "$lastN",
                "$topN", "$bottomN"):
        return _n_accumulator(name, arg, ctx).alias(alias)
    if name == "$percentile":
        # MongoDB 7.0 shape {input, p: [..], method}: exact linear-
        # interpolation percentiles (F.percentile == DuckDB
        # quantile_cont); "approximate" maps to the same exact path —
        # Spark's exact percentile aggregates per group without a
        # global sort, so there is no cheaper approximate tier to buy
        ps = [float(p) for p in arg["p"]]
        return F.percentile(
            compile_expr(arg["input"], ctx),
            F.array(*[F.lit(p) for p in ps]),
        ).alias(alias)
    if name == "$median":
        inp = arg["input"] if isinstance(arg, dict) else arg
        return F.percentile(
            compile_expr(inp, ctx), F.lit(0.5)
        ).alias(alias)
    fn = _ACCUMULATORS.get(name)
    if fn is None:
        raise UnsupportedExpression(f"unknown accumulator {name}")
    if name == "$sum" and isinstance(arg, (int, float)) and not \
            isinstance(arg, bool) and arg == 1:
        return F.count(F.lit(1)).alias(alias)
    return fn(compile_expr(arg, ctx)).alias(alias)


def _n_accumulator(name: str, arg: Any, ctx: Ctx) -> Column:
    """MongoDB 5.2 N-accumulators (extensions beyond the reference's
    §2.4 set): $minN/$maxN (n smallest/largest input values),
    $topN/$bottomN (outputs of the n first/last elements under sortBy),
    $firstN/$lastN (n values in encounter order — which a distributed
    group cannot honor, so this engine REQUIRES an explicit sortBy and
    treats them as $topN/$bottomN; an unsorted form would be
    partition-order nondeterminism dressed as a result).

    Compiled as collect_list -> array_sort -> slice -> project: the
    whole thing is ONE aggregation buffer per group, no window, no
    second shuffle.  State is O(group size) during the aggregation (the
    engine-level truncation to n happens at slice time); for bounded-n
    over huge groups prefer the window top-k path ($windowFields +
    $match)."""
    n = int(arg["n"])
    if name in ("$minN", "$maxN"):
        vals = F.array_sort(F.collect_list(compile_expr(arg["input"], ctx)))
        if name == "$maxN":
            vals = F.reverse(vals)
        return F.slice(vals, 1, n)
    sort_by = arg.get("sortBy")
    if not sort_by:
        raise UnsupportedExpression(
            f"{name} requires sortBy (distributed groups have no "
            "encounter order)"
        )
    out_expr = arg.get("output")
    if out_expr is None:
        raise UnsupportedExpression(f"{name} requires output")
    # struct(sort keys..., output); array_sort orders by the leading
    # struct fields.  Descending keys negate when numeric is unknowable
    # statically, so build orderable keys per direction via a generic
    # trick: sort ascending on the raw key, then reverse for a single
    # all-descending spec; mixed directions fall back to a window.
    dirs = list(sort_by.values())
    if all(d >= 0 for d in dirs):
        descending = False
    elif all(d < 0 for d in dirs):
        descending = True
    else:
        raise UnsupportedExpression(
            f"{name}: mixed sortBy directions not supported in the "
            "single-buffer form; use $windowFields"
        )
    keys = [compile_expr(f"${k}", ctx) for k in sort_by]
    entry = F.struct(
        *[k.alias(f"__k{i}") for i, k in enumerate(keys)],
        compile_expr(out_expr, ctx).alias("__out"),
    )
    # arr ends up in sortBy ORDER; top/first take the head, bottom/last
    # take the TAIL while preserving the order (Mongo semantics)
    arr = F.array_sort(F.collect_list(entry))
    if descending:
        arr = F.reverse(arr)
    if name in ("$topN", "$firstN"):
        sliced = F.slice(arr, 1, n)
    else:
        start = F.greatest(F.size(arr) - n + 1, F.lit(1))
        sliced = F.slice(arr, start.cast("int"), n)
    return F.transform(sliced, lambda s: s["__out"])


def _group_key(spec_id: Any, ctx: Ctx) -> tuple[list[Column], bool]:
    """-> (grouping columns, id_is_struct)."""
    if spec_id is None:
        return [F.lit(None).alias("_id")], False
    if isinstance(spec_id, dict) and not any(
        k.startswith("$") for k in spec_id
    ):
        cols = [compile_expr(v, ctx).alias(f"__gk_{k}") for k, v in
                spec_id.items()]
        return cols, True
    return [compile_expr(spec_id, ctx).alias("_id")], False


def _stage_group(df, spec, pctx):
    ctx = ctx_for(df)
    keys, is_struct = _group_key(spec.get("_id"), ctx)
    aggs = []
    for out_name, acc in spec.items():
        if out_name == "_id":
            continue
        if out_name == "_collection":
            # the reference keeps group state in this collection
            # (docs:31).  Streaming: the checkpointed state store plays
            # that role.  Batch: the grouped result registers in the
            # catalog under the name, so later parts/$lookup can read
            # the group state exactly like the reference's probe
            # aggregator app does (docs:440-466) — handled after the
            # aggregation below.
            continue
        (acc_name, acc_arg), = acc.items()
        aggs.append(_accumulator(acc_name, acc_arg, ctx, out_name))
    grouped = df.groupBy(*keys).agg(*aggs) if aggs else \
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n")).drop("__n")
    if is_struct:
        names = list(spec["_id"].keys())
        id_struct = F.struct(
            *[F.col(f"__gk_{n}").alias(n) for n in names]
        ).alias("_id")
        keep = [c for c in grouped.columns if not c.startswith("__gk_")]
        grouped = grouped.select(id_struct, *keep)
    if isinstance(spec.get("_collection"), str):
        pctx.catalog[spec["_collection"]] = grouped
    return grouped


def _stage_rollup_cube(kind: str):
    def h(df, spec, pctx):
        """$rollup / $cube batch extensions (no Mongo analog — this is
        native Spark analytics exposed to the pipeline language):
        hierarchical / full grouping-set aggregation over named key
        expressions.

        {"_id": {name: expr, ...}, out: {accumulator}, ...}

        Output rows carry the _id struct with NULLs on rolled-up
        levels plus `_grouping` (Spark's grouping_id — 0 for the
        finest level), so consumers can tell subtotal rows apart.
        One pass: Catalyst expands grouping sets without rescanning."""
        _batch_only(df, kind, "grouping sets are a batch aggregation")
        ctx = ctx_for(df)
        ids = spec.get("_id")
        if not isinstance(ids, dict) or not ids:
            raise UnsupportedExpression(f"{kind} needs _id: {{name: expr}}")
        names = list(ids.keys())
        base = df.select(
            "*", *[compile_expr(e, ctx).alias(f"__gk_{n}")
                   for n, e in ids.items()]
        )
        aggs = [
            _accumulator(*next(iter(acc.items())), ctx_for(df), out)
            for out, acc in spec.items() if out != "_id"
        ]
        kcols = [F.col(f"__gk_{n}") for n in names]
        gb = (base.rollup(*kcols) if kind == "$rollup"
              else base.cube(*kcols))
        grouped = gb.agg(
            F.grouping_id(*kcols).cast("long").alias("_grouping"), *aggs)
        id_struct = F.struct(
            *[F.col(f"__gk_{n}").alias(n) for n in names]).alias("_id")
        keep = [c for c in grouped.columns if not c.startswith("__gk_")]
        return grouped.select(id_struct, *keep)
    return h


def _stage_bucket(df, spec, pctx):
    ctx = ctx_for(df)
    group_by = compile_expr(spec["groupBy"], ctx)
    bounds = spec["boundaries"]
    default = spec.get("default")
    bucket = None
    for i in range(len(bounds) - 1):
        cond = (group_by >= F.lit(bounds[i])) & (group_by < F.lit(bounds[i + 1]))
        bucket = F.when(cond, F.lit(bounds[i])) if bucket is None else \
            bucket.when(cond, F.lit(bounds[i]))
    bucket = bucket.otherwise(F.lit(default))
    output = spec.get("output", {"count": {"$sum": 1}})
    aggs = []
    for out_name, acc in output.items():
        (acc_name, acc_arg), = acc.items()
        aggs.append(_accumulator(acc_name, acc_arg, ctx, out_name))
    out = df.groupBy(bucket.alias("_id")).agg(*aggs)
    if isinstance(spec.get("_collection"), str):
        # grouping state collection (docs:31) — queryable like $group's
        pctx.catalog[spec["_collection"]] = out
    return out


def _stage_count(df, spec, pctx):
    name = spec if isinstance(spec, str) else "count"
    return df.groupBy().agg(F.count(F.lit(1)).alias(name))


def _stage_bucket_auto(df, spec, pctx):
    """$bucketAuto (MongoDB shape, batch extension): ~equal-population
    buckets via ntile over the groupBy expression; _id = {min, max} of
    each bucket like Mongo.  Granularity ("R5"-style preferred
    numbers) is not supported, plain equal-population only.

    SCALE NOTE: exact ntile needs a GLOBAL total order — Spark plans
    an unpartitioned window, i.e. all rows through one task.  That is
    Mongo's own semantics and fine up to tens of millions of rows; at
    corpus scale use the approximate equivalents instead: percentile
    boundaries from `$percentile` fed into `$bucket`, or
    `functions/layout.py` range partitioning (sampled, balanced,
    fully parallel)."""
    _batch_only(df, "$bucketAuto", "ntile needs a total order")
    from pyspark.sql.window import Window as W

    ctx = ctx_for(df)
    group_by = compile_expr(spec["groupBy"], ctx)
    n = int(spec["buckets"])
    w = W.orderBy(group_by.asc())
    bucketed = df.withColumn("__b", F.ntile(n).over(w)).withColumn(
        "__gb", group_by
    )
    output = spec.get("output", {"count": {"$sum": 1}})
    bctx = ctx_for(bucketed)
    aggs = [
        F.min("__gb").alias("__min"), F.max("__gb").alias("__max"),
    ]
    for out_name, acc in output.items():
        (acc_name, acc_arg), = acc.items()
        aggs.append(_accumulator(acc_name, acc_arg, bctx, out_name))
    out = bucketed.groupBy("__b").agg(*aggs)
    return out.select(
        F.struct(
            F.col("__min").alias("min"), F.col("__max").alias("max")
        ).alias("_id"),
        *[c for c in out.columns if c not in ("__b", "__min", "__max")],
    )


def _stage_union_with(df, spec, pctx):
    """$unionWith (MongoDB 4.4): concatenate another collection
    (optionally pre-transformed by a pipeline) onto the stream —
    unionByName with missing columns allowed, exactly the `merge` part
    semantics at stage granularity."""
    if isinstance(spec, str):
        coll, pipeline = spec, []
    else:
        coll, pipeline = spec["coll"], spec.get("pipeline", [])
    other = pctx.collection(coll, allow_streaming=True)
    if pipeline:
        other = compile_pipeline(other, pipeline, pctx)
    if df.isStreaming != other.isStreaming:
        # Spark rejects stream-static unions at sink start; fail at
        # compile with the workable alternatives instead
        raise UnsupportedExpression(
            "$unionWith cannot mix a streaming input with a static "
            "collection (Spark limitation); use a static catalog in "
            "batch mode, two streams, or a $lookup/merge part"
        )
    return df.unionByName(other, allowMissingColumns=True)


def _stage_documents(df, spec, pctx):
    """$documents (MongoDB 5.1): replace the input with literal
    documents — the inline test/seed source.  Heterogeneous docs are
    fine: the schema is inferred from the union of all keys (first
    occurrence wins the type), absent fields arrive as NULL."""
    if not isinstance(spec, list) or not spec:
        raise UnsupportedExpression("$documents needs a non-empty list")
    merged: dict = {}
    for d in spec:
        if not isinstance(d, dict):
            raise UnsupportedExpression("$documents items must be docs")
        for k, v in d.items():
            merged.setdefault(k, v)
    spark = df.sparkSession
    return spark.createDataFrame([json.dumps(d) for d in spec],
                                 "string").selectExpr(
        "from_json(value, schema_of_json('" +
        json.dumps(merged).replace("'", "\\'") + "')) AS __doc"
    ).select("__doc.*")


def _stage_deduplicate(df, spec, pctx):
    # docs:93-116 — drop duplicates by expression.  Batch: exact global
    # dedup.  Streaming: dropDuplicatesWithinWatermark over an ingest-time
    # watermark sized by `cacheWindow` (ms, default 1000) — state expires
    # at exactly the window the reference caches dedup keys for, so
    # memory is bounded at any scale.
    expr = spec["expression"] if isinstance(spec, dict) else spec
    key = compile_expr(expr, ctx_for(df)).cast("string")
    tagged = df.withColumn("__dedup_key", key)
    if df.isStreaming:
        cache_ms = int(spec.get("cacheWindow", 1000)) \
            if isinstance(spec, dict) else 1000
        secs = max(cache_ms // 1000, 1)
        tagged = tagged.withColumn(
            "__dedup_ts", F.current_timestamp()
        ).withWatermark("__dedup_ts", f"{secs} seconds")
        return tagged.dropDuplicatesWithinWatermark(["__dedup_key"]) \
            .drop("__dedup_key", "__dedup_ts")
    return tagged.dropDuplicates(["__dedup_key"]).drop("__dedup_key")


def _stage_per(df, spec, pctx):
    """$per (docs:393-411): batch N messages into one message carrying an
    array in `as`.  Distributed semantics: batches form per partition (the
    reference batches per consumer thread, so per-partition batching is the
    faithful scale-out analogue — no global ordering exists either way)."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    amount = spec.get("amount", 500)
    as_field = spec.get("as", "messages")
    out_type = ArrayType(df.schema)

    def batch(it):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        arrow_type = to_arrow_type(out_type)
        buf: list[dict] = []
        for rb in it:
            for rec in rb.to_pylist():
                buf.append(rec)
                if len(buf) >= amount:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([buf], arrow_type)], [as_field])
                    buf = []
        if buf:
            yield pa.RecordBatch.from_arrays(
                [pa.array([buf], arrow_type)], [as_field])

    return df.mapInArrow(
        batch, StructType([StructField(as_field, out_type)]))


# --------------------------------------------------------------------------
# $lookup  (docs/aggregation_stages.md:346-372)
# --------------------------------------------------------------------------

# rows above which an uncorrelated sub-pipeline result is not broadcast;
# ~100 B/row of struct payload keeps the hint inside Spark's default 10 MB
# autoBroadcastJoinThreshold
_BROADCAST_ROW_LIMIT = 100_000


def _broadcast_if_small(side: DataFrame) -> DataFrame:
    """Hint broadcast only when a bounded probe proves the side small.

    Streaming DataFrames can't be counted — they skip the probe and the
    hint (the streaming runtime joins against static catalog tables, so
    this path is batch-only in practice).
    """
    if side.isStreaming:
        return side
    n = side.limit(_BROADCAST_ROW_LIMIT + 1).count()
    return F.broadcast(side) if n <= _BROADCAST_ROW_LIMIT else side


def _stage_lookup(df, spec, pctx):
    other = pctx.collection(spec["from"])
    as_field = spec["as"]
    inner = bool(spec.get("inner", False))
    unwind = bool(spec.get("unwind", False))

    if "pipeline" in spec and "localField" in spec:
        return _lookup_concise(df, other, spec, pctx)
    if "pipeline" in spec:
        let_vars = spec.get("let", {})
        if let_vars:
            # correlated form: bind let vars as columns on the left, join
            # on the equality conditions extracted from the sub-pipeline's
            # $match/$expr — the standard decorrelation Spark can execute
            # as one shuffled (or broadcast) join instead of per-row
            # subqueries.
            return _lookup_correlated(
                df, other, spec, let_vars, as_field, inner, unwind, pctx
            )
        sub = compile_pipeline(other, spec["pipeline"], pctx)
        if unwind:
            # unwind implies inner (docs:361); cross join every left row
            # with every sub-pipeline row.  Broadcasting an unbounded
            # sub-pipeline result is a scale hazard, so probe its size
            # first and only hint broadcast when it is provably small —
            # otherwise leave the strategy to Catalyst/AQE (cartesian).
            joined = df.crossJoin(
                _broadcast_if_small(sub.select(
                    F.struct("*").alias(as_field)))
            )
            return joined
        arr = sub.agg(
            F.collect_list(F.struct("*")).alias(as_field)
        )
        # the aggregated form is a single row — always broadcastable
        out = df.crossJoin(F.broadcast(arr))
        if inner:
            out = out.filter(F.size(F.col(as_field)) > 0)
        return out

    local, foreign = spec["localField"], spec["foreignField"]
    right = other.select(
        F.col(foreign).alias("__fk"), F.struct("*").alias("__doc")
    )
    return _equi_lookup_join(df, right, local, as_field, inner, unwind)


def _equi_lookup_join(df, right, local, as_field, inner, unwind,
                      ordered=False):
    """Shared tail of the localField/foreignField lookup forms: equi-join
    ``right`` ((__fk, __doc) [+ __rn rank when ``ordered``]) onto df and
    land the result in ``as_field`` — overwriting an existing column
    like Mongo (seed column dropped BEFORE the join so the name can't
    go ambiguous).  Array form groups the right side per key first (one
    shuffle of the smaller side); ``ordered`` keeps the window rank's
    order in the collected array."""
    lcol = ctx_for(df).field(local)
    base = df.drop(as_field) if as_field in df.columns else df
    if unwind:
        joined = base.join(right, lcol == F.col("__fk"), "inner")
        if ordered:
            joined = joined.drop("__rn")
        return joined.withColumn(as_field, F.col("__doc")) \
                     .drop("__fk", "__doc")
    if ordered:
        grouped = right.groupBy("__fk").agg(
            F.transform(
                F.sort_array(F.collect_list(
                    F.struct(F.col("__rn"), F.col("__doc")))),
                lambda x: x["__doc"],
            ).alias(as_field)
        )
    else:
        grouped = right.groupBy("__fk").agg(
            F.collect_list("__doc").alias(as_field)
        )
    how = "inner" if inner else "left"
    out = base.join(grouped, lcol == F.col("__fk"), how).drop("__fk")
    if not inner:
        out = out.withColumn(
            as_field,
            F.coalesce(F.col(as_field),
                       F.array().cast(dict(grouped.dtypes)[as_field])),
        )
    return out


def _lookup_concise(df, other, spec, pctx):
    """Mongo 5.0 concise correlated form: localField/foreignField AND a
    pipeline.  Semantics: equality match first, then the pipeline runs
    over each local doc's matched set.

    Spark-first decomposition of the shapes that cover real usage:
    leading ``$match`` stages commute with the equality join (they
    never alter fields) and pre-filter the foreign side at the scan;
    a trailing ``$sort`` [+ ``$limit``] is a per-join-key top-N — one
    window over the foreign side (WindowGroupLimit prunes below the
    shuffle), never a per-left-row regroup.  Doc-transforming stages
    in concise position would need per-set application — the fully
    supported ``let``+pipeline form covers those; raise instead of
    guessing."""
    from pyspark.sql.window import Window as W

    as_field = spec["as"]
    inner = bool(spec.get("inner", False))
    unwind = bool(spec.get("unwind", False))
    local, foreign = spec["localField"], spec["foreignField"]

    stages = list(spec["pipeline"])
    while stages and isinstance(stages[0], dict) \
            and set(stages[0]) == {"$match"}:
        other = compile_pipeline(other, [stages.pop(0)], pctx)
    sort_spec = None
    limit_n = None
    if stages and set(stages[0]) == {"$sort"}:
        sort_spec = stages.pop(0)["$sort"]
    if stages and set(stages[0]) == {"$limit"}:
        limit_n = int(stages.pop(0)["$limit"])
    if stages:
        raise UnsupportedExpression(
            "concise $lookup pipeline supports leading $match and "
            f"trailing $sort/$limit; use let+pipeline for {stages[0]}")

    right = other.select(
        F.col(foreign).alias("__fk"), F.struct("*").alias("__doc")
    )
    ordered_docs = sort_spec is not None or limit_n is not None
    if ordered_docs:
        def doc_field(k):
            col = F.col("__doc")
            for seg in k.split("."):   # dotted sort keys descend
                col = col.getField(seg)
            return col
        order = [
            doc_field(k).asc() if d >= 0 else doc_field(k).desc()
            for k, d in (sort_spec or {}).items()
        ] or [F.col("__doc").asc()]   # limit without sort: stable order
        w = W.partitionBy("__fk").orderBy(*order)
        right = right.withColumn("__rn", F.row_number().over(w))
        if limit_n is not None:
            right = right.where(F.col("__rn") <= limit_n)
    return _equi_lookup_join(df, right, local, as_field, inner, unwind,
                             ordered=ordered_docs)


def _lookup_correlated(df, other, spec, let_vars, as_field, inner, unwind,
                       pctx):
    """$lookup with let+pipeline: decorrelate $expr $eq conditions into
    join keys; residual conditions become post-join filters."""
    ctx = ctx_for(df)
    left = df
    bound = {}
    for var, expr in let_vars.items():
        cname = f"__let_{var}"
        left = left.withColumn(cname, compile_expr(expr, ctx))
        bound[var] = cname

    # compile the sub-pipeline's stages against `other`, treating a leading
    # $match with $expr over let-vars as the join condition.
    stages = list(spec["pipeline"])
    equi: list[tuple[Column, Column]] = []   # (left expr, right expr) $eq
    residual: list[Column] = []              # non-equi join conditions
    seen_match = False
    rest: list[dict] = []
    right = other
    for st in stages:
        if (
            not seen_match
            and len(st) == 1
            and "$match" in st
            and isinstance(st["$match"], dict)
            and "$expr" in st["$match"]
            and len(st["$match"]) == 1
        ):
            seen_match = True
            pairs = _decorrelate_pairs(
                st["$match"]["$expr"], bound, ctx_for(right)
            )
            if pairs is not None:
                for op, a, b, a_left, b_left in pairs:
                    if op == "$eq" and a_left != b_left:
                        equi.append((a, b) if a_left else (b, a))
                    else:
                        residual.append(_cmp_cond(op, a, b))
            else:
                # general fallback: the whole $expr becomes the join
                # condition, $$vars bound to the tagged left columns —
                # never a silent lit(True) cross join
                fctx = ctx_for(right).child(
                    {v: left[c] for v, c in bound.items()}
                )
                residual.append(
                    compile_expr(st["$match"]["$expr"], fctx)
                    .cast("boolean")
                )
            continue
        rest.append(st)
    if rest:
        right = compile_pipeline(right, rest, pctx)

    rdoc = right.select(F.struct("*").alias("__doc"), "*")

    def combined_on():
        conds = [a.eqNullSafe(b) for a, b in equi] + residual
        on = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            on = on & c
        return on

    if unwind:
        return left.join(rdoc, combined_on(), "inner").select(
            *[F.col(c) for c in df.columns if not c.startswith("__let_")],
            F.col("__doc").alias(as_field),
        )

    if equi and not residual:
        # scale path (array form, pure equi): pre-aggregate the right side
        # per join key — one shuffle of the right side, no per-row tagging,
        # no join-explosion regroup.  Null keys group together, matching
        # the eqNullSafe semantics of the general path.
        keys = [f"__k{i}" for i in range(len(equi))]
        ragg = rdoc.groupBy(
            *[r.alias(k) for k, (_, r) in zip(keys, equi)]
        ).agg(F.collect_list("__doc").alias(as_field))
        on = None
        for k, (l, _) in zip(keys, equi):
            c = l.eqNullSafe(ragg[k])
            on = c if on is None else on & c
        empty = F.array().cast(ragg.schema[as_field].dataType)
        out = left.join(ragg, on, "left").select(
            *[F.col(c) for c in df.columns],
            F.coalesce(F.col(as_field), empty).alias(as_field),
        )
    else:
        # general path: tag rows once, join once, regroup on the tag.
        # The tag appears in a SINGLE plan branch (carried through the
        # groupBy, never re-joined against its own source), so the
        # nondeterminism of monotonically_increasing_id across re-executed
        # branches cannot misalign rows.
        tagged = left.withColumn("__rowid", F.monotonically_increasing_id())
        joined = tagged.join(rdoc, combined_on(), "left")
        out = joined.groupBy("__rowid").agg(
            *[F.first(tagged[c]).alias(c) for c in df.columns],
            F.collect_list("__doc").alias(as_field),
        ).select(*[F.col(c) for c in df.columns], F.col(as_field))
    if inner:
        out = out.filter(F.size(F.col(as_field)) > 0)
    return out


def _cmp_cond(op: str, a: Column, b: Column) -> Column:
    return {
        "$eq": lambda: a.eqNullSafe(b), "$ne": lambda: ~a.eqNullSafe(b),
        "$gt": lambda: a > b, "$gte": lambda: a >= b,
        "$lt": lambda: a < b, "$lte": lambda: a <= b,
    }[op]()


def _decorrelate_pairs(expr: Any, bound: dict[str, str], rctx: Ctx):
    """Decompose {$eq: ["$$var", "$field"]} (and $and of comparisons) into
    (op, a, b, a_is_left, b_is_left) tuples, where $$var refs resolve to
    pre-bound left columns.  Returns None when the expression isn't a
    conjunction of simple comparisons — the caller then compiles the whole
    expression as a join condition instead."""
    if not isinstance(expr, dict) or len(expr) != 1:
        return None
    (op, args), = expr.items()
    if op == "$and":
        out = []
        for a in args:
            sub = _decorrelate_pairs(a, bound, rctx)
            if sub is None:
                return None
            out.extend(sub)
        return out
    if op in ("$eq", "$gt", "$gte", "$lt", "$lte", "$ne"):
        def side(e):
            if isinstance(e, str) and e.startswith("$$"):
                var = e[2:].split(".")[0]
                if var in bound:
                    col = F.col(bound[var])
                    for seg in e[2:].split(".")[1:]:
                        col = col.getField(seg)
                    return col, True
                return None, False
            return compile_expr(e, rctx), False
        a, a_left = side(args[0])
        b, b_left = side(args[1])
        if a is None or b is None:
            return None
        return [(op, a, b, a_left, b_left)]
    return None


# --------------------------------------------------------------------------
# $graphLookup  (MongoDB stage extension; the reference covers $lookup only,
# docs/aggregation_stages.md:346-372 — this completes the Mongo lookup
# family so real Mongo pipelines run unchanged)
# --------------------------------------------------------------------------

def _arrayify(df: DataFrame, col: Column) -> Column:
    """Coerce a column to array type (Mongo connect fields match scalars
    and array members alike)."""
    from pyspark.sql.types import ArrayType

    t = df.select(col.alias("__t")).schema[0].dataType
    return col if isinstance(t, ArrayType) else F.array(col)


def _graph_reach(edges: DataFrame, useeds: DataFrame, max_depth) -> DataFrame:
    """BFS over (seed value, document) pairs.

    ``edges``: one row per (document, connectTo value) with the doc's
    connectFrom value array; ``useeds``: DISTINCT seed values.  Returns
    every (``__sv`` seed, ``__did`` doc id, ``__doc``, ``__depth``) reached,
    at its MINIMAL depth (a doc enters ``visited`` on its first hop and the
    anti-join keeps later hops out).

    Scale shape: each hop is one equi-join frontier->edges plus one
    anti-join against visited — never a cross product; the frontier is
    ``localCheckpoint``-ed per hop so iteration lineage stays flat, and
    traversal cost is shared across input rows because it runs per
    DISTINCT seed value, not per row.  Cycles terminate via the visited
    anti-join; ``maxDepth`` bounds hops like Mongo's option."""
    cols = ["__sv", "__did", "__doc", "__from", "__depth"]
    frontier = (
        useeds.join(edges, useeds["__sv"] == edges["__to"])
        .select("__sv", "__did", "__doc", "__from",
                F.lit(0).alias("__depth"))
        .dropDuplicates(["__sv", "__did"])
        .localCheckpoint(eager=True)
    )
    visited = frontier
    depth = 0
    while not frontier.isEmpty():
        if max_depth is not None and depth >= int(max_depth):
            break
        hop_vals = frontier.select(
            "__sv", F.explode("__from").alias("__v")
        ).where(F.col("__v").isNotNull()).distinct()
        nxt = (
            hop_vals.join(edges, hop_vals["__v"] == edges["__to"])
            .select("__sv", "__did", "__doc", "__from",
                    F.lit(depth + 1).alias("__depth"))
            .dropDuplicates(["__sv", "__did"])
            .join(visited.select("__sv", "__did"),
                  ["__sv", "__did"], "left_anti")
            .localCheckpoint(eager=True)
        )
        visited = visited.select(cols).unionByName(nxt.select(cols))
        frontier = nxt
        depth += 1
    return visited


def _stage_graph_lookup(df, spec, pctx):
    """$graphLookup (MongoDB shape): recursive traversal of ``from``,
    seeded by ``startWith``, following connectFromField -> connectToField
    edges up to ``maxDepth``; matches land in the array ``as`` (each doc
    optionally carrying its minimal ``depthField``).

    Spark-first decomposition: (1) the collection explodes once into
    (doc, connectTo value) edge rows, (2) BFS runs over DISTINCT seed
    values (_graph_reach), (3) per-seed doc arrays join back to the
    input.  Scalar seeds join back by value — the input is never tagged
    or materialized; array seeds (startWith yielding an array) tag rows
    with a checkpointed id so multi-seed results union + dedup per row.
    Match arrays are ``array_sort``-ed: Mongo guarantees no order, the
    engine guarantees a stable one."""
    _batch_only(df, "$graphLookup",
                "iterative traversal re-joins the frontier")
    coll = pctx.collection(spec["from"])
    as_field = spec["as"]
    max_depth = spec.get("maxDepth")
    depth_field = spec.get("depthField")
    restrict = spec.get("restrictSearchWithMatch")
    if restrict:
        coll = coll.filter(compile_query(restrict, ctx_for(coll)))

    cctx = ctx_for(coll)
    doc = F.struct(*[F.col(c) for c in coll.columns])
    edges = coll.select(
        doc.alias("__doc"),
        F.xxhash64(F.to_json(doc)).alias("__did"),
        F.explode(_arrayify(coll, cctx.field(spec["connectToField"])))
         .alias("__to"),
        _arrayify(coll, cctx.field(spec["connectFromField"]))
         .alias("__from"),
    ).where(F.col("__to").isNotNull())

    start = compile_expr(spec["startWith"], ctx_for(df))
    from pyspark.sql.types import ArrayType
    start_is_array = isinstance(
        df.select(start.alias("__t")).schema[0].dataType, ArrayType
    )

    if not start_is_array:
        useeds = (df.select(start.alias("__sv"))
                  .where(F.col("__sv").isNotNull()).distinct())
        visited = _graph_reach(edges, useeds, max_depth)
        out_doc = (F.col("__doc").withField(depth_field, F.col("__depth"))
                   if depth_field else F.col("__doc"))
        per_seed = visited.groupBy("__sv").agg(
            F.array_sort(F.collect_list(out_doc)).alias(as_field)
        )
        # Mongo overwrites an existing `as` field: bind the seed value
        # BEFORE dropping it (startWith may reference the old column)
        base = df.withColumn("__gl_start", start)
        if as_field in df.columns:
            base = base.drop(as_field)
        joined = base.join(
            per_seed,
            base["__gl_start"].eqNullSafe(per_seed["__sv"]), "left")
        empty = F.array().cast(dict(per_seed.dtypes)[as_field])
        keep = [c for c in df.columns if c != as_field]
        return joined.select(
            *[base[c] for c in keep],
            F.coalesce(F.col(as_field), empty).alias(as_field),
        )

    # array-seed path: per-row union over seeds, dedup by doc at min depth
    tagged = df.withColumn(
        "__rowid", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    seeds = tagged.select(
        "__rowid",
        F.explode(compile_expr(spec["startWith"], ctx_for(tagged)))
         .alias("__seed"),
    ).where(F.col("__seed").isNotNull())
    useeds = seeds.select(F.col("__seed").alias("__sv")).distinct()
    visited = _graph_reach(edges, useeds, max_depth)
    hits = (
        seeds.join(visited, seeds["__seed"] == visited["__sv"])
        .groupBy("__rowid", "__did")
        .agg(F.min("__depth").alias("__depth"),
             F.first("__doc").alias("__doc"))
    )
    out_doc = (F.col("__doc").withField(depth_field, F.col("__depth"))
               if depth_field else F.col("__doc"))
    per_row = hits.groupBy("__rowid").agg(
        F.array_sort(F.collect_list(out_doc)).alias(as_field)
    )
    # Mongo overwrites an existing `as` field (seeds were already
    # computed from the pre-drop frame above)
    base = tagged.drop(as_field) if as_field in df.columns else tagged
    joined = base.join(per_row, "__rowid", "left")
    empty = F.array().cast(dict(per_row.dtypes)[as_field])
    keep = [c for c in df.columns if c != as_field]
    return joined.select(
        *[F.col(c) for c in keep],
        F.coalesce(F.col(as_field), empty).alias(as_field),
    )


# --------------------------------------------------------------------------
# $redact  (docs/aggregation_stages.md:491-513)
# --------------------------------------------------------------------------

def _stage_redact(df, spec, pctx):
    """Recursive keep/prune via $$DESCEND/$$PRUNE/$$KEEP.  Compiled as an
    Arrow JSON transform (:func:`.rows.map_rows`; no native recursive
    struct op exists); the decision expression runs through the full row
    interpreter (streaming/reducers.eval_expr) at every document level —
    unsupported operators raise instead of silently evaluating as
    literals.  Rows whose top-level decision is $$PRUNE are dropped."""
    from pincette_json_streams_spark.streaming.reducers import eval_expr

    cols = df.columns
    schema_dt = df.select(F.struct(*cols).alias("s")).schema["s"].dataType
    markers = {"DESCEND": "$$DESCEND", "PRUNE": "$$PRUNE",
               "KEEP": "$$KEEP"}

    def walk(node):
        decision = eval_expr(spec, node, markers)
        if decision == "$$PRUNE":
            return None
        if decision == "$$KEEP":
            return node
        # $$DESCEND: keep this level, recurse into subdocuments
        if isinstance(node, dict):
            out = {}
            for k, v in node.items():
                if isinstance(v, dict):
                    r = walk(v)
                    if r is not None:
                        out[k] = r
                elif isinstance(v, list):
                    out[k] = [
                        w for w in (
                            walk(x) if isinstance(x, dict) else x
                            for x in v
                        ) if w is not None
                    ]
                else:
                    out[k] = v
            return out
        return node

    def kernel(docs):
        rows = []
        for i, js in enumerate(docs):
            r = walk(json.loads(js))
            if r is not None:
                rows.append((i, json.dumps(r)))
        return zip(*rows)

    prepared = df.select(F.to_json(F.struct(*cols)).alias("__json"))
    return (
        map_rows(prepared, kernel, ["__json"], [("__js", "string")],
                 keep=[])
        .select(F.from_json("__js", schema_dt).alias("__root"))
        .select("__root.*")
    )


# --------------------------------------------------------------------------
# $jq / $jslt  (docs/aggregation_stages.md:245-277)
# --------------------------------------------------------------------------

def _stage_script(df, spec, pctx, language):
    """Whole-message JQ/JSLT transform.  The message is schemaless by
    nature here, so output rows carry the result as a JSON `value`
    string; pass {"script": ..., "schema": "<DDL>"} to get typed columns
    back (the engine can't infer a static schema from an arbitrary
    script).  A changed `_id` re-keys the message (docs:276)."""
    if isinstance(spec, str):
        script, schema = spec, None
    else:
        script, schema = spec["script"], spec.get("schema")
    cols = list(df.columns)
    # driver-side snapshot: worker-side compile would see an empty registry
    from pincette_json_streams_spark.plugins import JSLT_FUNCTION_EXTENSIONS
    jslt_ext = dict(JSLT_FUNCTION_EXTENSIONS)

    compiled: list = []  # once per task: each task unpickles its own

    def compile_script():
        if language == "jq":
            from pincette_json_streams_spark.functions.jq_subset import (
                compile_jq,
            )
            return compile_jq(script)
        from pincette_json_streams_spark.functions.jslt_subset import (
            compile_jslt,
        )
        one = compile_jslt(script, extensions=jslt_ext)
        return lambda doc: [one(doc)]

    def kernel(docs):
        if not compiled:
            compiled.append(compile_script())
        rows = []
        for i, js in enumerate(docs):
            for result in compiled[0](json.loads(js)):
                rid = result.get("_id") if isinstance(result, dict) \
                    else None
                rows.append((i, None if rid is None else str(rid),
                             json.dumps(result)))
        return zip(*rows)

    src = df.select(
        F.to_json(F.struct(*[F.col(c) for c in cols])).alias("__json")
    )
    out = map_rows(src, kernel, ["__json"],
                   [("_id", "string"), ("value", "string")], keep=[])
    if schema:
        # typed form: exactly the declared columns (declare _id in the
        # schema to keep the re-keyed message id)
        return out.select(
            F.from_json("value", schema).alias("__v")
        ).select("__v.*")
    return out


def _stage_jq(df, spec, pctx):
    return _stage_script(df, spec, pctx, "jq")


def _stage_jslt(df, spec, pctx):
    return _stage_script(df, spec, pctx, "jslt")


# --------------------------------------------------------------------------
# $validate  (docs/aggregation_stages.md:857-879, docs/validator.md)
# --------------------------------------------------------------------------

def _stage_validate(df, spec, pctx):
    from pincette_json_streams_spark.operators.validator import (
        compile_validator,
    )
    return compile_validator(df, spec)


# --------------------------------------------------------------------------
# observability stages — pass-through in batch plans
# --------------------------------------------------------------------------

def _stage_trace(df, spec, pctx):
    if pctx.trace is not None:
        pctx.trace("$trace", spec)
    return df


def _stage_probe(df, spec, pctx):
    # $probe (docs:413-466): per-minute throughput counters produced to
    # a topic (streaming/effects.py stage_probe); the topic-less form
    # stays an observe() metric
    from pincette_json_streams_spark.streaming import effects

    return effects.stage_probe(df, spec, pctx)


# --------------------------------------------------------------------------
# sinks usable inside a pipeline
# --------------------------------------------------------------------------

def _stage_out(df, spec, pctx):
    # $out REPLACES the target collection (docs:382-391): later parts
    # and $lookup see the new contents, matching $merge's contract.
    # Streaming frames only capture (same guard as $merge): replacing a
    # static catalog entry with a stream would make later parts'
    # $lookup/$graphLookup an illegal stream-as-batch join source.
    name = spec if isinstance(spec, str) else spec["coll"]
    pctx.outputs[name] = df
    if not df.isStreaming:
        pctx.catalog[name] = df
    return df


def _stage_merge(df, spec, pctx):
    """$merge (MongoDB shape, docs/aggregation_stages.md:378-380): merge
    the stream into a catalog collection keyed by ``on`` (default
    ``_id``), honoring ``whenMatched`` (replace | keepExisting | merge |
    fail) and ``whenNotMatched`` (insert | discard | fail).

    Batch semantics of Delta's MERGE INTO: one full-outer equi-join on
    the merge keys; ``merge`` is the engine's field-wise overwrite
    (source fields that are present — non-null under the parquet data
    model — win).  The merged table replaces the catalog entry and is
    captured in ``pctx.outputs`` so later parts and the runner see the
    post-merge state.  The ``fail`` modes need a match-existence check,
    which is one bounded action (limit(1).count()) — the documented
    cost of a fail-fast contract.  With no existing target the stage
    degrades to plain capture (everything is unmatched)."""
    if isinstance(spec, str):
        spec = {"into": spec}
    name = spec["into"]
    wm = spec.get("whenMatched", "merge")
    wnm = spec.get("whenNotMatched", "insert")
    on = spec.get("on", "_id")
    keys = [on] if isinstance(on, str) else list(on)
    target = pctx.catalog.get(name)

    if df.isStreaming or (target is not None and target.isStreaming):
        # streaming: capture only — upsert-by-key is the sink layer's
        # contract (toCollection through streaming.sinks); the
        # batch full-outer join below is an illegal streaming plan.
        # Streaming frames are NEVER registered in the catalog: a
        # later part's $lookup/$graphLookup of the entry would be a
        # stream-as-batch join (collection() rejects those).
        pctx.outputs[name] = df
        return df
    if target is not None:
        # Mongo contract: every `on` field must exist on both sides —
        # silently replacing the target (or crashing in the join)
        # would lose data
        missing = [k for k in keys
                   if k not in df.columns or k not in target.columns]
        if missing:
            raise UnsupportedExpression(
                f"$merge on-field(s) {missing} missing from "
                f"source or target {name!r}")
    if target is None:
        out = df
    else:
        # literal presence markers, not key-null checks: null merge
        # keys are legitimate rows under eqNullSafe
        src = df.select(F.lit(True).alias("__s_present"),
                        *[F.col(c).alias(f"__s_{c}") for c in df.columns])
        tgt = target.select(
            F.lit(True).alias("__t_present"),
            *[F.col(c).alias(f"__t_{c}") for c in target.columns])
        cond = None
        for k in keys:
            c = F.col(f"__s_{k}").eqNullSafe(F.col(f"__t_{k}"))
            cond = c if cond is None else cond & c
        joined = src.join(tgt, cond, "full_outer")
        s_hit = F.col("__s_present").isNotNull()
        t_hit = F.col("__t_present").isNotNull()
        if wm == "fail" and not joined.filter(
                s_hit & t_hit).limit(1).isEmpty():
            raise ValueError(f"$merge whenMatched=fail: matches in {name!r}")
        if wnm == "fail" and not joined.filter(
                s_hit & ~t_hit).limit(1).isEmpty():
            raise ValueError(
                f"$merge whenNotMatched=fail: unmatched docs for {name!r}")
        if wnm == "discard":
            joined = joined.filter(t_hit)
        cols = list(dict.fromkeys([*target.columns, *df.columns]))

        def pick(c):
            s = (F.col(f"__s_{c}") if c in df.columns
                 else F.lit(None))
            t = (F.col(f"__t_{c}") if c in target.columns
                 else F.lit(None))
            matched = {
                "replace": s,
                "keepExisting": t,
                "merge": F.when(s.isNotNull(), s).otherwise(t),
                "fail": t,
            }.get(wm)
            if matched is None:
                raise UnsupportedExpression(f"$merge whenMatched {wm!r}")
            return (
                F.when(s_hit & t_hit, matched)
                .when(t_hit, t)
                .otherwise(s)
                .alias(c)
            )

        out = joined.select([pick(c) for c in cols])
    pctx.outputs[name] = out
    pctx.catalog[name] = out
    return df


# --------------------------------------------------------------------------
# batch-order extensions (not in the reference: streams are unordered —
# SURVEY.md §2.5 — but batch/training pipelines need them)
# --------------------------------------------------------------------------

def _stage_sort_ext(df, spec, pctx):
    cols = [
        F.col(k).asc() if d >= 0 else F.col(k).desc()
        for k, d in spec.items()
    ]
    return df.orderBy(*cols)


def _stage_limit_ext(df, spec, pctx):
    return df.limit(int(spec))


def _stage_geo_near(df, spec, pctx):
    """$geoNear (MongoDB shape, batch extension): haversine distance in
    meters from ``near`` ([lon, lat] or GeoJSON point) to the [lon, lat]
    array field ``key``, filtered by ``query`` / ``minDistance`` /
    ``maxDistance`` (raw meters, like Mongo), distance stored in
    ``distanceField`` (scaled by ``distanceMultiplier``), nearest-first.

    Pure native-Column trig (runs in whole-stage codegen; a SQL oracle
    replays it exactly) using Mongo's WGS84 equatorial radius 6378137 m.
    The only non-pushdown cost is the final global sort — which is the
    stage's contract; at scale, prefer ``maxDistance`` so the sort ranks
    a neighborhood, not the planet."""
    _batch_only(df, "$geoNear", "global nearest-first ordering")
    near = spec["near"]
    if isinstance(near, dict):
        near = near["coordinates"]
    lon0, lat0 = float(near[0]), float(near[1])
    dist_field = spec.get("distanceField", "distance")
    mult = float(spec.get("distanceMultiplier", 1.0))
    if spec.get("query"):
        df = df.filter(compile_query(spec["query"], ctx_for(df)))
    loc = ctx_for(df).field(spec.get("key", "location"))
    lon = F.element_at(loc, 1).cast("double")
    lat = F.element_at(loc, 2).cast("double")
    radius = 6378137.0
    dlat = F.radians(lat - F.lit(lat0))
    dlon = F.radians(lon - F.lit(lon0))
    a = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.radians(F.lit(lat0))) * F.cos(F.radians(lat))
        * F.pow(F.sin(dlon / 2), 2)
    )
    dist = F.lit(2.0 * radius) * F.asin(F.sqrt(a))
    out = df.withColumn("__geo_dist", dist)
    if "maxDistance" in spec:
        out = out.filter(
            F.col("__geo_dist") <= float(spec["maxDistance"]))
    if "minDistance" in spec:
        out = out.filter(
            F.col("__geo_dist") >= float(spec["minDistance"]))
    # dotted distanceField ("dist.calculated", Mongo's canonical usage)
    # lands as a nested field via the engine's path writer
    scaled = _set_path(out, dist_field, F.col("__geo_dist") * mult) \
        .drop("__geo_dist")
    return scaled.orderBy(F.asc_nulls_last(ctx_for(scaled)
                                           .field(dist_field)))


def _stage_sort_by_count(df, spec, pctx):
    """$sortByCount (MongoDB shape, batch extension): group by the
    expression into ``_id``, count, sort count-descending.  Compiles to
    one map-side-combining hash aggregate + a global sort of the GROUP
    rows (cardinality of the expression, not the input).  Mongo leaves
    equal-count order undefined; the engine tie-breaks on ``_id`` so
    distributed runs are reproducible."""
    _batch_only(df, "$sortByCount", "global count ordering")
    col = compile_expr(spec, ctx_for(df))
    return (
        df.groupBy(col.alias("_id"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc("_id"))
    )


def _stage_sample_ext(df, spec, pctx):
    frac = spec.get("fraction") if isinstance(spec, dict) else None
    if frac is not None:
        return df.sample(fraction=float(frac), seed=int(spec.get("seed", 42)))
    n = int(spec["size"]) if isinstance(spec, dict) else int(spec)
    # rand-order + limit compiles to TakeOrderedAndProject: one pass,
    # per-partition top-n then a driver merge of n rows — no count()
    # action at plan-build time and no full sort shuffle
    seed = int(spec.get("seed", 42)) if isinstance(spec, dict) else 42
    return df.orderBy(F.rand(seed)).limit(n)


def _stage_lag(df, spec, pctx):
    # $lag (docs/aggregation_stages.md:279-303): attach the Kafka
    # consumer-lag snapshot under `as`.  The lag source is an injectable
    # provider (AdminClient in production; tests inject a fake) — same
    # philosophy as http_transport/object_store.  The object's keys are
    # dynamic (consumer groups/topics/partitions), so it lands as a JSON
    # string column, the engine's representation for open-schema values.
    as_field = spec.get("as", "lag") if isinstance(spec, dict) else "lag"
    provider = pctx.lag_provider
    if provider is None:
        # no admin client in this runtime: documented no-op
        return df

    snap: list = []  # once per task: each task unpickles its own

    def kernel(rows):
        if not snap:
            snap.append(json.dumps(provider()))
        return [[snap[0]] * len(rows)]

    # the kernel reads one column only for the batch's row count
    return map_rows(df, kernel, df.columns[:1], [(as_field, "string")])


def _stage_throttle(df, spec, pctx):
    # $throttle (docs/aggregation_stages.md:787-802): cap pipeline
    # throughput at maxPerSecond.  Streaming: an executor-side pacing
    # pass — each task sleeps off the remainder of its rows' rate
    # budget (rate split across partitions), which caps steady-state
    # throughput like Kafka quotas do, without any driver coordination.
    # Batch: no-op (a bounded job has no sustained rate to cap); source
    # knobs (maxOffsetsPerTrigger/maxFilesPerTrigger) remain the
    # coarse-grained companion in kafka_source/file_stream_catalog.
    rate = None
    if isinstance(spec, dict) and spec.get("maxPerSecond"):
        rate = float(spec["maxPerSecond"])
    if not rate or not df.isStreaming:
        return df
    # repartition to a KNOWN width so the per-partition budget is exact:
    # splitting by defaultParallelism under- or over-throttles whenever
    # the stream's real partition count differs (fewer partitions than
    # cores -> over-throttle; more -> aggregate rate exceeds the cap).
    # A throttled stream is rate-bound anyway, so the extra exchange is
    # noise next to the pacing sleeps.
    parallelism = max(
        df.sparkSession.sparkContext.defaultParallelism, 1
    )
    df = df.repartition(parallelism)
    per_part = max(rate / parallelism, 1e-9)

    def pace(batches):
        import time as _time

        for batch in batches:
            t0 = _time.time()
            yield batch
            budget = batch.num_rows / per_part
            elapsed = _time.time() - t0
            if budget > elapsed:
                _time.sleep(min(budget - elapsed, 30.0))

    return df.mapInArrow(pace, df.schema)


def _batch_only(df, stage: str, why: str) -> None:
    # A clear spec-level error beats the AnalysisException Spark would
    # throw at sink start for an unstreamable plan.
    if df.isStreaming:
        raise UnsupportedExpression(f"{stage} is batch-only ({why})")


def _window_frame(win, sort_cols, bounds):
    # documents: [a, b] with "unbounded"/"current"/int offsets
    from pyspark.sql.window import Window as W

    def edge(v, default):
        if v == "unbounded":
            return default
        if v == "current":
            return W.currentRow
        return int(v)

    lo = edge(bounds[0], W.unboundedPreceding)
    hi = edge(bounds[1], W.unboundedFollowing)
    return win.rowsBetween(lo, hi)


# $derivative/$integral/$densify unit -> milliseconds: the SAME table
# $dateAdd/$dateDiff use (one source of truth for fixed-width units)
from pincette_json_streams_spark.operators.expressions import (  # noqa: E402
    _DATE_UNIT_MS as _WF_UNIT_MS,
)


def _window_special(op, args, ospec, ctx, win, ordered,
                    single_sort_key, sort_cols):
    """Mongo 5.x window-only operators for $windowFields.  All native
    Columns: covariances are Spark covar_pop/covar_samp; $median and
    $percentile are exact F.percentile over the frame (same contract as
    the group accumulators); $derivative is (Δvalue / Δsort-key) over
    the frame ends; $integral is a per-row trapezoid fold over the
    frame's (key, value) list via F.aggregate (no UDF — the fold runs
    in codegen, O(frame) per row); $expMovingAvg is the Mongo recursive
    EMA as a fold over the cumulative history list (exact, O(history)
    per row — the documented cost of an order-recursive definition);
    $locf / $linearFill repair NULLs with last-carried-forward /
    key-proportional interpolation between surrounding non-nulls (no
    extrapolation), matching the $fill stage's semantics."""
    from pyspark.sql.window import Window as W

    if op in ("$covariancePop", "$covarianceSamp"):
        a = compile_expr(args[0], ctx).cast("double")
        b = compile_expr(args[1], ctx).cast("double")
        fn = F.covar_pop if op == "$covariancePop" else F.covar_samp
        return fn(a, b).over(win)

    if op == "$median":
        inp = compile_expr(args["input"], ctx).cast("double")
        return F.percentile(inp, F.lit(0.5)).over(win)

    if op == "$percentile":
        inp = compile_expr(args["input"], ctx).cast("double")
        ps = args["p"]
        return F.percentile(
            inp, F.array(*[F.lit(float(p)) for p in ps])
        ).over(win)

    if op == "$derivative":
        key = single_sort_key().cast("double")
        val = compile_expr(args["input"], ctx).cast("double")
        dv = F.last(val, True).over(win) - F.first(val, True).over(win)
        dk = F.last(key, True).over(win) - F.first(key, True).over(win)
        unit = args.get("unit")
        if unit is not None:
            if unit not in _WF_UNIT_MS:
                raise UnsupportedExpression(f"$derivative unit {unit!r}")
            dk = dk / F.lit(float(_WF_UNIT_MS[unit]))
        return F.when(dk != 0, dv / dk)

    if op == "$integral":
        key = single_sort_key().cast("double")
        val = compile_expr(args["input"], ctx).cast("double")
        unit_div = 1.0
        unit = args.get("unit")
        if unit is not None:
            if unit not in _WF_UNIT_MS:
                raise UnsupportedExpression(f"$integral unit {unit!r}")
            unit_div = float(_WF_UNIT_MS[unit])
        pts = F.collect_list(F.struct(key.alias("k"), val.alias("v"))) \
            .over(win)
        # trapezoid over consecutive points; the frame list arrives in
        # frame order (ascending sort key is enforced)
        idx = F.sequence(F.lit(1), F.greatest(F.size(pts) - 1, F.lit(0)))
        return F.when(F.size(pts) >= 2, F.aggregate(
            idx, F.lit(0.0),
            lambda acc, i: acc
            + (F.element_at(pts, i + 1)["k"] - F.element_at(pts, i)["k"])
            * (F.element_at(pts, i + 1)["v"] + F.element_at(pts, i)["v"])
            / 2.0,
        ) / F.lit(unit_div)).otherwise(F.lit(0.0))

    if op == "$expMovingAvg":
        if not sort_cols:
            raise UnsupportedExpression("$expMovingAvg requires sortBy")
        if "window" in ospec:
            raise UnsupportedExpression(
                "$expMovingAvg does not accept a window (Mongo contract)")
        val = compile_expr(args["input"], ctx).cast("double")
        if "alpha" in args:
            alpha = float(args["alpha"])
        elif "N" in args:
            alpha = 2.0 / (float(args["N"]) + 1.0)
        else:
            raise UnsupportedExpression("$expMovingAvg needs N or alpha")
        hist = F.collect_list(val).over(
            ordered.rowsBetween(W.unboundedPreceding, W.currentRow))
        # Mongo: ema_0 = x_0; ema_i = alpha*x_i + (1-alpha)*ema_{i-1}
        return F.when(F.size(hist) > 0, F.aggregate(
            F.slice(hist, 2, F.greatest(F.size(hist) - 1, F.lit(0))),
            F.element_at(hist, 1),
            lambda acc, x: F.lit(alpha) * x
            + F.lit(1.0 - alpha) * acc,
        ))

    if op == "$locf":
        val = compile_expr(args, ctx)
        return F.last(val, True).over(
            ordered.rowsBetween(W.unboundedPreceding, W.currentRow))

    if op == "$linearFill":
        key = single_sort_key().cast("double")
        val = compile_expr(args, ctx).cast("double")
        back = ordered.rowsBetween(W.unboundedPreceding, W.currentRow)
        fwd = ordered.rowsBetween(W.currentRow, W.unboundedFollowing)
        pv = F.last(val, True).over(back)
        pk = F.last(F.when(val.isNotNull(), key), True).over(back)
        nv = F.first(val, True).over(fwd)
        nk = F.first(F.when(val.isNotNull(), key), True).over(fwd)
        return F.when(val.isNotNull(), val).when(
            pv.isNotNull() & nv.isNotNull() & (nk != pk),
            pv + (nv - pv) * (key - pk) / (nk - pk),
        ).when(pv.isNotNull() & nv.isNotNull(), pv)

    raise UnsupportedExpression(f"unknown window operator {op}")


def _stage_window_fields_ext(df, spec, pctx):
    """$windowFields batch extension — MongoDB 5.0's $setWindowFields
    shape re-expressed as Spark window functions (the reference's
    aggregation subset predates it; batch-only like $sort_ext because
    Structured Streaming has no ordered frames).

    {"partitionBy": expr?, "sortBy": {field: 1|-1, ...}?, "output":
     {name: {"$rank": {}} | {"$denseRank": {}} | {"$rowNumber": {}}
          | {"$shift": {"output": expr, "by": n, "default": expr?}}
          | {"$sum"/"$avg"/"$min"/"$max"/"$count"/"$stdDevPop"
             /"$stdDevSamp"/"$first"/"$last"/"$push"/"$addToSet": expr,
             "window": {"documents": [a, b]} | {"range": [a, b]}?}
          | {"$covariancePop"/"$covarianceSamp": [e1, e2], ...}
          | {"$median": {"input": e}} | {"$percentile": {"input", "p"}}
          | {"$derivative"/"$integral": {"input": e, "unit"?}, ...}
          | {"$expMovingAvg": {"input": e, "N" | "alpha"}}
          | {"$locf"/"$linearFill": expr}}}

    Every output compiles to a native window Column over ONE shared
    WindowSpec family — a single hash-partition exchange on the
    partitionBy key plus an in-partition sort, exactly what Catalyst
    plans for analytic SQL; no UDF, no second shuffle per field."""
    _batch_only(df, "$windowFields", "no ordered frames over unbounded streams")
    from pyspark.sql.window import Window as W

    ctx = ctx_for(df)
    spec = spec if isinstance(spec, dict) else {}
    part = spec.get("partitionBy")
    base = (
        W.partitionBy(compile_expr(part, ctx))
        if part is not None
        else W.partitionBy()
    )
    sort_by = spec.get("sortBy") or {}
    sort_cols = [
        F.col(k).asc() if d >= 0 else F.col(k).desc()
        for k, d in sort_by.items()
    ]
    ordered = base.orderBy(*sort_cols) if sort_cols else base
    rankers = {
        "$rank": F.rank,
        "$denseRank": F.dense_rank,
        "$rowNumber": F.row_number,
    }
    aggs = {
        "$sum": F.sum, "$avg": F.avg, "$min": F.min, "$max": F.max,
        "$stdDevPop": F.stddev_pop, "$stdDevSamp": F.stddev_samp,
        "$first": F.first, "$last": F.last,
        "$count": lambda c: F.count(F.lit(1)),
        # frame-order list / sorted set over the window ($addToSet's
        # array_sort wraps AFTER .over() — it is not a window function)
        "$push": F.collect_list,
        "$addToSet": F.collect_set,
    }
    # Mongo 5.x window-only operators beyond plain aggregates; each
    # compiles against (args, frame window, single sort key) below
    special = {"$covariancePop", "$covarianceSamp", "$median",
               "$percentile", "$derivative", "$integral",
               "$expMovingAvg", "$locf", "$linearFill"}

    def single_sort_key():
        if len(sort_by) != 1:
            raise UnsupportedExpression(
                "this window operator requires exactly one sortBy key")
        k, d = next(iter(sort_by.items()))
        if d < 0:
            raise UnsupportedExpression(
                "this window operator requires an ascending sortBy")
        # date-ish sort keys (the engine's ISO strings, timestamps,
        # dates) become epoch MILLIS so $derivative/$integral `unit`
        # scaling is correct; a bare cast('double') would NULL the ISO
        # strings and leave typed timestamps in seconds (1000x off)
        dt = dict(ctx.df.dtypes).get(k) if ctx.df is not None else None
        if dt == "date":
            # calendar millis (datediff), not a timestamp cast: DST
            # days are 23/25 h through the session timezone
            return (F.datediff(
                F.col(k), F.to_date(F.lit("1970-01-01")))
                .cast("double") * 86400000.0)
        if (dt or "").startswith("timestamp"):
            return F.unix_millis(F.col(k).cast("timestamp")) \
                .cast("double")
        if dt == "string":
            # numeric strings stay numeric; ISO strings -> epoch millis
            # (try_cast: ANSI mode would otherwise throw on non-numeric)
            return F.coalesce(
                F.col(k).try_cast("double"),
                F.unix_millis(F.col(k).cast("timestamp")).cast("double"),
            )
        return F.col(k)
    out_cols = []
    for name, ospec in (spec.get("output") or {}).items():
        if not (isinstance(ospec, dict) and len(ospec) >= 1):
            raise UnsupportedExpression(f"$windowFields output {name!r}")
        op = next(k for k in ospec if k.startswith("$"))
        args = ospec[op]
        if op in rankers:
            if not sort_cols:
                raise UnsupportedExpression(f"{op} requires sortBy")
            col = rankers[op]().over(ordered)
        elif op == "$shift":
            if not sort_cols:
                raise UnsupportedExpression("$shift requires sortBy")
            by = int(args.get("by", 1))
            val = compile_expr(args.get("output"), ctx)
            default = args.get("default")
            dcol = (
                compile_expr(default, ctx)
                if default is not None else F.lit(None)
            )
            col = (
                F.lead(val, by).over(ordered)
                if by >= 0 else F.lag(val, -by).over(ordered)
            )
            col = F.coalesce(col, dcol)
        elif op in aggs or op in special:
            def frame_of(ospec):
                win = ordered if sort_cols else base
                wspec = ospec.get("window") or {}
                bounds = wspec.get("documents")
                range_bounds = wspec.get("range")
                if bounds is not None:
                    if not sort_cols:
                        raise UnsupportedExpression(
                            "documents window requires sortBy"
                        )
                    return _window_frame(ordered, sort_cols, bounds)
                if range_bounds is not None:
                    # value-based frame over ONE numeric sort key (Mongo
                    # range windows) -> Spark rangeBetween.  With `unit`
                    # (Mongo time-range windows) the sort key is re-
                    # expressed as epoch MILLIS (single_sort_key handles
                    # dates / timestamps / the engine's ISO strings) and
                    # the bounds scale by the fixed-width unit.
                    if len(sort_by) != 1:
                        raise UnsupportedExpression(
                            "range window requires exactly one sortBy key"
                        )
                    unit = wspec.get("unit")
                    scale = 1
                    frame_win = ordered
                    if unit is not None:
                        if unit not in _WF_UNIT_MS:
                            raise UnsupportedExpression(
                                f"range window unit {unit!r} (fixed-"
                                "width units only)")
                        scale = _WF_UNIT_MS[unit]
                        frame_win = (
                            W.partitionBy(compile_expr(part, ctx))
                            if part is not None else W.partitionBy()
                        ).orderBy(single_sort_key().cast("long").asc())
                    lo = (W.unboundedPreceding
                          if range_bounds[0] == "unbounded"
                          else W.currentRow
                          if range_bounds[0] == "current"
                          else int(range_bounds[0]) * scale)
                    hi = (W.unboundedFollowing
                          if range_bounds[1] == "unbounded"
                          else W.currentRow
                          if range_bounds[1] == "current"
                          else int(range_bounds[1]) * scale)
                    return frame_win.rangeBetween(lo, hi)
                if sort_cols:
                    # Mongo: sortBy without an explicit window means the
                    # whole partition, not a cumulative frame
                    return ordered.rowsBetween(
                        W.unboundedPreceding, W.unboundedFollowing
                    )
                return win

            if op in aggs:
                col = aggs[op](compile_expr(args, ctx)).over(
                    frame_of(ospec))
                if op == "$addToSet":
                    col = F.array_sort(col)
            else:
                col = _window_special(
                    op, args, ospec, ctx, frame_of(ospec), ordered,
                    single_sort_key, sort_cols,
                )
        else:
            raise UnsupportedExpression(
                f"unknown $windowFields operator {op}"
            )
        out_cols.append((name, col))
    flat = [c.alias(n) for n, c in out_cols if "." not in n]
    out = df.select("*", *flat)
    # dotted output names nest (Mongo's "stats.rank" idiom); window
    # expressions must be materialized as plain columns first —
    # withField cannot host a window function
    for n, c in out_cols:
        if "." in n:
            tmp = f"__wf_{n.replace('.', '_')}"
            out = _set_path(out.withColumn(tmp, c), n,
                            F.col(tmp)).drop(tmp)
    return out


def _stage_facet_ext(df, spec, pctx):
    """$facet batch extension (MongoDB shape): run several sub-pipelines
    over the SAME input and emit ONE row with an array column per facet.

    {"facetName": [stage, ...], ...}

    Each sub-pipeline compiles against the shared input DataFrame (the
    scan is reused; Spark caches nothing extra — Catalyst dedups the
    common subtree when AQE reuses exchanges), its result collapses via
    ``collect_list`` of a struct (or the bare column when the result
    has exactly one column), and the single-row facets cross-join
    together.  Facet arrays are ``array_sort``-ed: Mongo's document-
    order contract cannot survive distributed collection, so the
    engine-stable order is sorted.  Each facet must fit one row — the
    same practical bound as Mongo's 16 MB facet document."""
    _batch_only(df, "$facet", "facets collapse the whole input to one row")
    if not isinstance(spec, dict) or not spec:
        raise UnsupportedExpression("$facet needs {name: [stages]}")
    outs = []
    for name, stages in spec.items():
        sub = compile_pipeline(df, stages, pctx)
        if len(sub.columns) == 1:
            col = F.col(sub.columns[0])
        else:
            col = F.struct(*[F.col(c) for c in sub.columns])
        outs.append(
            sub.agg(F.array_sort(F.collect_list(col)).alias(name))
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.crossJoin(o)
    return res


def _stage_densify_ext(df, spec, pctx):
    """$densify batch extension (MongoDB 5.1 shape): insert rows at
    ``step`` intervals of a numeric field where none exist.

    {"field": name, "partitionByFields": [..]?, "range": {"step": n,
     "bounds": "partition" | "full" | [lo, hi]}}

    Plan: per-partition (or global) min/max from one map-side-combining
    aggregate, the grid generated by ``sequence`` + ``explode`` (rows
    proportional to the number of HOLES, not the data), one anti-join
    against existing values, union-by-name with NULL non-key columns —
    the raw rows are never rescanned."""
    _batch_only(df, "$densify", "grid bounds need the whole series")
    field = spec["field"]
    parts = list(spec.get("partitionByFields") or [])
    rng = spec.get("range") or {}
    step = int(rng.get("step", 1))
    bounds = rng.get("bounds", "partition")
    if rng.get("unit") is not None:
        return _densify_dates(df, field, parts, rng, pctx)
    if bounds == "partition":
        if not parts:
            raise UnsupportedExpression(
                "$densify bounds=partition needs partitionByFields"
            )
        grid_src = df.groupBy(*parts).agg(
            F.min(field).alias("__lo"), F.max(field).alias("__hi")
        )
    elif bounds == "full":
        stats = df.agg(
            F.min(field).alias("__lo"), F.max(field).alias("__hi")
        )
        grid_src = (
            df.select(*parts).distinct().crossJoin(F.broadcast(stats))
            if parts else stats
        )
    elif isinstance(bounds, (list, tuple)) and len(bounds) == 2:
        lo, hi = bounds
        grid_src = (
            df.select(*parts).distinct() if parts
            else df.sparkSession.range(1).select()
        ).withColumn("__lo", F.lit(lo)).withColumn("__hi", F.lit(hi))
    else:
        raise UnsupportedExpression(f"$densify bounds {bounds!r}")
    grid = grid_src.select(
        *parts,
        F.explode(
            F.sequence(
                F.col("__lo").cast("long"), F.col("__hi").cast("long"),
                F.lit(step),
            )
        ).alias(field),
    )
    missing = grid.join(
        df.select(*parts, field).distinct(), [*parts, field], "left_anti"
    )
    return df.unionByName(missing, allowMissingColumns=True)


def _densify_dates(df, field, parts, rng, pctx):
    """$densify with a date ``unit`` (MongoDB 5.1 date ranges): the grid
    runs over epoch millis at unit*step width and converts back to the
    field's own type (date, timestamp, or the engine's ISO strings).
    Fixed-width units only — month/quarter/year vary in length, the
    same restriction as $dateTrunc binSize."""
    from pyspark.sql.types import DateType, TimestampType

    unit = rng["unit"]
    step = int(rng.get("step", 1))
    bounds = rng.get("bounds", "partition")
    if unit not in _WF_UNIT_MS:
        raise UnsupportedExpression(
            f"$densify unit {unit!r} (fixed-width units only)")
    width = _WF_UNIT_MS[unit] * step

    dtype = dict(df.dtypes).get(field)
    if dtype == "date":
        # pure calendar arithmetic: a date->timestamp cast goes through
        # the session timezone (DST days are 23/25 h and would skew the
        # fixed-width grid); datediff/date_add never touch instants
        epoch = F.to_date(F.lit("1970-01-01"))
        ms = F.datediff(F.col(field), epoch).cast("long") * 86400000
    else:
        ms = F.unix_millis(F.col(field).cast("timestamp"))

    def back(ms_col):
        if dtype == "date":
            return F.date_add(F.to_date(F.lit("1970-01-01")),
                              (ms_col / 86400000).cast("int"))
        ts = F.timestamp_millis(ms_col)
        if dtype and dtype.startswith("timestamp"):
            return ts.cast(dtype)
        # engine ISO-string date model
        from pincette_json_streams_spark.operators.expressions import (
            _iso_instant,
        )
        return _iso_instant(ts)

    if bounds == "partition":
        if not parts:
            raise UnsupportedExpression(
                "$densify bounds=partition needs partitionByFields")
        grid_src = df.groupBy(*parts).agg(
            F.min(ms).alias("__lo"), F.max(ms).alias("__hi"))
    elif bounds == "full":
        stats = df.agg(F.min(ms).alias("__lo"), F.max(ms).alias("__hi"))
        grid_src = (
            df.select(*parts).distinct().crossJoin(F.broadcast(stats))
            if parts else stats
        )
    elif isinstance(bounds, (list, tuple)) and len(bounds) == 2:
        if dtype == "date":
            # calendar millis like the data side — a timestamp cast
            # would shift the grid by the session-timezone offset
            epoch = F.to_date(F.lit("1970-01-01"))
            lo = (F.datediff(F.to_date(F.lit(bounds[0])), epoch)
                  .cast("long") * 86400000)
            hi = (F.datediff(F.to_date(F.lit(bounds[1])), epoch)
                  .cast("long") * 86400000)
        else:
            lo = F.unix_millis(F.lit(bounds[0]).cast("timestamp"))
            hi = F.unix_millis(F.lit(bounds[1]).cast("timestamp"))
        grid_src = (
            df.select(*parts).distinct() if parts
            else df.sparkSession.range(1).select()
        ).withColumn("__lo", lo).withColumn("__hi", hi)
    else:
        raise UnsupportedExpression(f"$densify bounds {bounds!r}")
    grid = grid_src.select(
        *parts,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"),
                             F.lit(width))).alias("__ms"),
    ).select(*parts, back(F.col("__ms")).alias(field))
    missing = grid.join(
        df.select(*parts, field).distinct(), [*parts, field], "left_anti"
    )
    return df.unionByName(missing, allowMissingColumns=True)


def _stage_fill_ext(df, spec, pctx):
    """$fill batch extension (MongoDB 5.3 shape): repair NULLs with
    last-observation-carried-forward or a constant/expression.

    {"partitionByFields": [..]?, "sortBy": {field: 1|-1}?, "output":
     {col: {"method": "locf"} | {"value": expr}}}

    locf compiles to ``last(ignorenulls)`` over one shared keyed
    window — a single hash-partition exchange covers every filled
    column; value fills are plain coalesce in codegen."""
    _batch_only(df, "$fill", "locf needs ordered frames")
    from pyspark.sql.window import Window as W

    ctx = ctx_for(df)
    parts = list(
        spec.get("partitionByFields") or spec.get("partitionBy") or []
    )
    sort_by = spec.get("sortBy") or {}
    sort_cols = [
        F.col(k).asc() if d >= 0 else F.col(k).desc()
        for k, d in sort_by.items()
    ]
    w = None
    if sort_cols:
        w = (
            W.partitionBy(*[F.col(p) for p in parts])
            .orderBy(*sort_cols)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
    out = df
    for col, ospec in (spec.get("output") or {}).items():
        if "value" in ospec:
            out = out.withColumn(
                col,
                F.coalesce(F.col(col), compile_expr(ospec["value"], ctx)),
            )
        elif ospec.get("method") == "locf":
            if w is None:
                raise UnsupportedExpression("$fill locf requires sortBy")
            out = out.withColumn(
                col, F.last(col, ignorenulls=True).over(w)
            )
        elif ospec.get("method") == "linear":
            # Mongo linear interpolation: a NULL between two known
            # points takes prev + (next-prev)*(t-t_prev)/(t_next-t_prev)
            # over the single numeric sortBy key; leading/trailing
            # NULLs stay NULL (no extrapolation).  Two frames over the
            # SAME keyed window family — still one exchange.
            if w is None or len(sort_by) != 1:
                raise UnsupportedExpression(
                    "$fill linear requires exactly one numeric sortBy"
                )
            from pyspark.sql.window import Window as W2
            tcol = F.col(next(iter(sort_by))).cast("double")
            base = (
                W2.partitionBy(*[F.col(p) for p in parts])
                .orderBy(*sort_cols)
            )
            wprev = base.rowsBetween(W2.unboundedPreceding, -1)
            wnext = base.rowsBetween(1, W2.unboundedFollowing)
            v = F.col(col).cast("double")
            t_known = F.when(v.isNotNull(), tcol)
            pv = F.last(v, ignorenulls=True).over(wprev)
            pt = F.last(t_known, ignorenulls=True).over(wprev)
            nv = F.first(v, ignorenulls=True).over(wnext)
            nt = F.first(t_known, ignorenulls=True).over(wnext)
            interp = pv + (nv - pv) * (tcol - pt) / (nt - pt)
            out = out.withColumn(
                col,
                F.when(v.isNotNull(), v).otherwise(
                    F.when(
                        pv.isNotNull() & nv.isNotNull(), interp
                    ).otherwise(F.lit(None))
                ),
            )
        else:
            raise UnsupportedExpression(
                f"$fill method {ospec.get('method')!r} "
                "(locf/linear/value only)"
            )
    return out


# --------------------------------------------------------------------------
# function-backed extension stages (docs/extension_stages.md)
# --------------------------------------------------------------------------

# an extra key without a default: the spec must give it
_REQUIRED = object()

_SCALARS = (int, float, bool, str)


@dataclass(frozen=True)
class Extension:
    """One function-backed extension stage.

    ``fns`` are ``"module.attribute"`` names under ``functions/``,
    looked up when the stage compiles (the benchmark's tracer rebinds
    those module attributes).  ``keys`` maps each spec key onto a
    parameter of one of them (``"verify.cap"`` is ``cap`` inside a
    ``verify`` object); the first function taking a parameter gives
    its type and default.  ``defaults`` holds the stage's own default
    only where it differs from that or the signature has none.
    ``extra`` lists the keys the stage's ``run`` reads itself, with
    their defaults.  ``scalar`` is the key a scalar spec stands for;
    ``base64`` is the parameter naming the binary field that
    ``base64: true`` decodes in place first; ``batch_only`` says why
    the stage cannot run on a stream.  Without ``run`` the stage is the
    first function applied to the input."""

    fns: tuple[str, ...]
    keys: dict[str, str]
    defaults: dict[str, Any] = field(default_factory=dict)
    extra: dict[str, Any] = field(default_factory=dict)
    scalar: Optional[str] = None
    base64: Optional[str] = None
    batch_only: Optional[str] = None
    run: Optional[Callable] = None

    @property
    def accepted(self) -> set[str]:
        """Every spec key the stage takes, nested ones dotted."""
        keys = {*self.keys, *self.extra} | ({"base64"} if self.base64
                                            else set())
        return keys | {k.split(".")[0] for k in keys}


@functools.lru_cache(maxsize=None)
def _parameters(fn: Callable) -> dict[str, tuple[inspect.Parameter, Any]]:
    """Each parameter of ``fn`` with the scalar type its annotation
    names (``int``, ``Optional[int]``, ``int | None``), else None."""
    hints = typing.get_type_hints(fn)
    out = {}
    for p in inspect.signature(fn).parameters.values():
        hint = hints.get(p.name)
        if typing.get_origin(hint) in (typing.Union, types.UnionType):
            args = [a for a in typing.get_args(hint) if a is not type(None)]
            hint = args[0] if len(args) == 1 else None
        out[p.name] = (p, hint if hint in _SCALARS else None)
    return out


def _coerce(stage: str, key: str, value: Any, kind) -> Any:
    if value is None or kind is None:
        return value
    if kind in (list, tuple):
        if isinstance(value, list) and value:
            return value
        raise UnsupportedExpression(
            f"{stage}: {key!r} must be a non-empty list, not {value!r}")
    if not isinstance(value, (dict, list)):
        try:
            return kind(value)
        except (TypeError, ValueError):
            pass
    raise UnsupportedExpression(
        f"{stage}: {key!r} must be {kind.__name__}, not {value!r}")


class _Bound:
    """A stage spec checked against its ``Extension``: ``call`` runs
    one of the stage's functions with the parameters the spec gave,
    ``arg`` reads a parameter's value and ``s[key]`` an extra key's."""

    def __init__(self, stage: str, ext: Extension, spec: Any):
        if spec is None:
            spec = {}
        elif not isinstance(spec, dict):
            if ext.scalar is None:
                raise UnsupportedExpression(
                    f"{stage} takes an object spec, not {spec!r}")
            spec = {ext.scalar: spec}
        accepted = ext.accepted
        given = {}
        for key, value in spec.items():
            given[key] = value
            if isinstance(key, str) and value is not None and any(
                    k.startswith(f"{key}.") for k in accepted):
                if not isinstance(value, dict):
                    raise UnsupportedExpression(
                        f"{stage}: {key!r} takes an object, not {value!r}")
                given.update({f"{key}.{k}": v for k, v in value.items()})
        for key in given:
            if key not in accepted:
                raise UnsupportedExpression(
                    f"{stage}: unknown key {key!r} (accepted: "
                    f"{', '.join(sorted(accepted))})")
        self.stage, self.ext, self.given = stage, ext, given
        # attribute -> (function, its parameters), in table order
        self.fns = {}
        for name in ext.fns:
            mod, attr = name.rsplit(".", 1)
            fn = getattr(importlib.import_module(
                f"pincette_json_streams_spark.functions.{mod}"), attr)
            self.fns[attr] = (fn, _parameters(fn))
        self.args = {}
        for key, param in ext.keys.items():
            if key in given:
                p, kind = self._param(param)
                default = ext.defaults.get(param, p.default)
                if default is not None and default is not p.empty:
                    kind = type(default)
                self.args[param] = _coerce(stage, key, given[key], kind)

    def _param(self, param: str) -> tuple[inspect.Parameter, Any]:
        return next(params[param] for _, params in self.fns.values()
                    if param in params)

    def __getitem__(self, key: str) -> Any:
        default = self.ext.extra.get(key, False if key == "base64" else None)
        if key not in self.given:
            if default is _REQUIRED:
                raise UnsupportedExpression(
                    f"{self.stage}: missing required key {key!r}")
            return default
        if default is _REQUIRED or default is None:
            return self.given[key]
        return _coerce(self.stage, key, self.given[key], type(default))

    def arg(self, param: str) -> Any:
        if param in self.args:
            return self.args[param]
        if param in self.ext.defaults:
            return self.ext.defaults[param]
        default = self._param(param)[0].default
        return None if default is inspect.Parameter.empty else default

    def call(self, name: str, *args, **kw) -> Any:
        fn, params = self.fns[name]
        var_kw = any(p.kind is p.VAR_KEYWORD for p, _ in params.values())
        taken = set(list(params)[:len(args)])
        given = {p: v for p, v in {**self.ext.defaults, **self.args}.items()
                 if (p in params or var_kw) and p not in taken}
        given.update(kw)
        for p, _ in params.values():
            if p.default is p.empty and p.name not in given \
                    and p.name not in taken \
                    and p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY):
                key = next((k for k, v in self.ext.keys.items()
                            if v == p.name), p.name)
                raise UnsupportedExpression(
                    f"{self.stage}: missing required key {key!r}")
        return fn(*args, **given)


def _run_extension(stage: str, df: DataFrame, spec: Any,
                   pctx: PipelineContext) -> DataFrame:
    ext = EXTENSIONS[stage]
    s = _Bound(stage, ext, spec)
    if ext.batch_only:
        _batch_only(df, stage, ext.batch_only)
    if ext.base64 and s["base64"]:
        f = s.arg(ext.base64)
        df = df.withColumn(f, F.unbase64(F.col(f)))
    if ext.run is not None:
        return ext.run(df, s, pctx)
    return s.call(ext.fns[0].rsplit(".", 1)[1], df)


def _register(pctx: PipelineContext, name: Any, table: DataFrame):
    """Register a stage's state table under ``_collection``."""
    if isinstance(name, str):
        pctx.catalog[name] = table
    return table


def _grouped(df: DataFrame, s: _Bound) -> tuple[DataFrame, str]:
    """The sketch group column: ``by``, else one ``__all`` group."""
    group = s.arg("group_col")
    if group is None:
        return df.withColumn("__all", F.lit("all")), "__all"
    return df, group


def _query_set(df: DataFrame, s: _Bound, *cols: str) -> DataFrame:
    """The probe set of the ANN stages: the rows whose id is 0 modulo
    ``queries.mod`` (bounded, broadcast)."""
    idc = s.arg("id_col")
    return df.filter(F.col(idc) % s["queries.mod"] == 0).select(
        F.col(idc).alias("query_id"), F.col(s.arg("vec_col")),
        *map(F.col, cols))


def _bpe_train(df, s, pctx):
    # the merge table registers as (rank, left, right) for $bpeEncode
    # or $lookup; the input passes through unchanged, like $merge
    merges = s.call("train_bpe", s.call("word_frequencies", df))
    table = df.sparkSession.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank long, left string, right string")
    pctx.outputs[s["_collection"]] = _register(pctx, s["_collection"],
                                               table)
    return df


def _bpe_encode(df, s, pctx):
    # merge tables are vocabulary-sized by construction: bounded collect
    src = pctx.collection(s["from"])
    merges = [(r["left"], r["right"])
              for r in src.orderBy("rank").collect()]
    return s.call("bpe_encode", df, merges)


def _asof_lookup(df, s, pctx):
    return s.call("asof_join", df, pctx.collection(s["from"]))


def _scrub_pii(df, s, pctx):
    return df.withColumn(s["as"] or s["field"],
                         s.call("scrub_pii", F.col(s["field"])))


def _robots_filter(df, s, pctx):
    rules = s.call("robots_rules", pctx.collection(s["robots"]))
    res = s.call("url_allowed", df, rules)
    if s["keep"]:
        return res
    out = s.arg("out_col")
    return res.filter(F.col(out)).drop(out)


def _text_features(df, s, pctx):
    res = s.call("with_text_features", df)
    tf = F.col(s.arg("out"))
    if s["lang"]:
        res = res.withColumn(s["lang"], tf["lang"])
    if s["score"]:
        res = res.withColumn(s["score"], s.call(
            "quality_score_from", tf, F.length(F.col(s.arg("text_col")))))
    return res


def _quality_gate(df, s, pctx):
    n_chars = F.length(F.col(s.arg("text_col")))
    if s["tf"]:
        return df.filter(s.call("quality_gate_from", F.col(s["tf"]),
                                n_chars))
    tmp = "__qgate_tf"
    res = s.call("with_text_features", df, out=tmp)
    return res.filter(s.call("quality_gate_from", F.col(tmp),
                             n_chars)).drop(tmp)


def _html_extract(df, s, pctx):
    # straight after $warcRecords the HTTP header column feeds the
    # charset ladder unless "contentType" names another
    if "contentType" not in s.given and "http_content_type" in df.columns:
        return s.call("html_extract", df,
                      content_type_col="http_content_type")
    return s.call("html_extract", df)


def _dedup_spans(df, s, pctx):
    fns = {"mark": "duplicate_spans", "strip": "strip_duplicate_spans"}
    if s["action"] not in fns:
        raise UnsupportedExpression(
            f"$dedupSpans: action must be mark or strip, not "
            f"{s['action']!r}")
    return s.call(fns[s["action"]], df)


def _normalize_url(df, s, pctx):
    if s["dedup"]:
        return s.call("url_dedup", df)
    return df.withColumn(s["as"], s.call(
        "normalize_url", F.col(s.arg("url_col"))))


def _zorder(df, s, pctx):
    if s.arg("num_partitions"):
        return s.call("cluster_by_zorder", df, keep_key=True)
    return s.call("zorder_key", df)


def _near_dups(df, s, pctx):
    pairs = s.call("minhash_lsh_pairs", df)
    if not s["verify"]:
        return pairs
    # jaccard rides through the verify melt/regroup so the expensive
    # LSH self-join plan is evaluated exactly once (no re-join of pairs)
    return s.call("verify_pairs_editdist", pairs, df,
                  carry_cols=["jaccard"])


def _hard_negatives(df, s, pctx):
    return s.call("hard_negative_topk", df,
                  _query_set(df, s, s.arg("label_col")))


def _hamming_topk(df, s, pctx):
    return s.call("hamming_topk", df, _query_set(df, s))


def _hamming_lsh_topk(df, s, pctx):
    return s.call("hamming_lsh_topk", df, _query_set(df, s))


def _hdr_quantiles(df, s, pctx):
    sketch = _register(pctx, s["_collection"], s.call("hdr_sketch", df))
    return s.call("hdr_quantiles", sketch)


def _cms_sketch(df, s, pctx):
    return _register(pctx, s["_collection"], s.call("cms_sketch", df))


def _hll_sketch(df, s, pctx):
    df, group = _grouped(df, s)
    return _register(pctx, s["_collection"],
                     s.call("hll_sketch", df, group_col=group))


def _kmv_sketch(df, s, pctx):
    df, group = _grouped(df, s)
    sketch = _register(pctx, s["_collection"],
                       s.call("kmv_sketch", df, group_col=group))
    if s["estimate"]:
        return s.call("kmv_estimate", sketch, group_col=group)
    return sketch


def _kmv_overlap(df, s, pctx):
    return s.call("kmv_overlap", s.call("kmv_sketch", df))


def _binary_signatures(df, s, pctx):
    if s.arg("dims") is None and df.isStreaming:
        # width inference needs a batch probe job
        raise UnsupportedExpression(
            "$binarySignatures: 'dims' is required on a streaming input")
    return s.call("binary_signatures", df)


def _hamming_probe(df, s, pctx):
    # not batch-only, and that is the point: a stream-static equi-join
    # on band postings whose multi-band duplicates drop by expression
    # (no aggregation, no state) is append-mode streaming-legal
    index_id = s.arg("index_id_col" if "indexId" in s.given else "id_col")
    return s.call("hamming_probe", df, pctx.collection(s["index"]),
                  index_id_col=index_id)


def _ivf_probe(df, s, pctx):
    # the centroid set is collected ordered by id at plan build: it is
    # bounded by construction, not a corpus
    cents = [list(r[0]) for r in pctx.collection(s["centroids"])
             .orderBy(s["centroidId"]).select(s["centroidVector"])
             .collect()]
    if not cents:
        raise UnsupportedExpression(
            f"$ivfProbe: empty centroids collection {s['centroids']!r}")
    return s.call("ivf_probe", df, pctx.collection(s["index"]), cents)


_QUERIES = {"queries.mod": 100}
_SKETCH = {"_collection": None}

EXTENSIONS: dict[str, Extension] = {
    "$chunk": Extension(
        ("text.chunk_documents",),
        {"text": "text_col", "size": "size", "overlap": "overlap"}),
    "$bpeTrain": Extension(
        ("bpe.train_bpe", "bpe.word_frequencies"),
        {"text": "text_col", "merges": "n_merges", "maxWords": "max_words"},
        extra={"_collection": "bpe_merges"},
        batch_only="global vocabulary induction", run=_bpe_train),
    "$bpeEncode": Extension(
        ("bpe.bpe_encode",), {"text": "text_col", "as": "out_col"},
        extra={"from": "bpe_merges"}, run=_bpe_encode),
    "$sessionize": Extension(
        ("timeseries.sessionize",),
        {"by": "by", "ts": "ts", "gap": "gap", "tiebreak": "tiebreak",
         "as": "out", "bucketSpan": "bucket_span"},
        batch_only="running-sum windows; streams use "
                   "functions.timeseries.sessionize_stream"),
    "$asofLookup": Extension(
        ("timeseries.asof_join",),
        {"on": "on", "by": "by", "rightOn": "right_on",
         "rightBy": "right_by", "as": "as_field", "tiebreak": "tiebreak",
         "bucketSpan": "bucket_span"},
        extra={"from": _REQUIRED},
        batch_only="running window over both sides", run=_asof_lookup),
    "$scrubPii": Extension(
        ("text.scrub_pii",), {}, extra={"field": "text", "as": None},
        scalar="field", run=_scrub_pii),
    "$probeMedia": Extension(
        ("multimodal.probe_media",), {"field": "media_col", "as": "out_col"}),
    "$decodeAudio": Extension(
        ("multimodal.decode_audio",),
        {"field": "media_col", "as": "out_col", "bins": "waveform_bins"}),
    "$decodeImage": Extension(
        ("multimodal.decode_image",),
        {"field": "media_col", "as": "out_col", "bins": "hist_bins"}),
    "$resizeImage": Extension(
        ("multimodal.resize_image",),
        {"field": "media_col", "as": "out_col", "width": "width",
         "height": "height"}),
    "$sampleFrames": Extension(
        ("multimodal.sample_frames",),
        {"field": "media_col", "as": "out_col", "n": "n_frames"}),
    "$cdcChunks": Extension(
        ("multimodal.cdc_chunks",),
        {"field": "data_col", "id": "id_col", "min": "min_size",
         "avg": "avg_size", "max": "max_size"}),
    "$audioFingerprint": Extension(
        ("multimodal.audio_fingerprint",),
        {"field": "media_col", "as": "out_col"}, base64="media_col"),
    "$audioFingerprintWindows": Extension(
        ("multimodal.audio_fingerprint_windows",),
        {"field": "media_col", "id": "id_col", "as": "out_col",
         "hop": "hop"}, base64="media_col"),
    "$audioNearDups": Extension(
        ("multimodal.audio_near_pairs",),
        {"field": "media_col", "id": "id_col", "hop": "hop",
         "maxHamming": "max_hamming", "minWindows": "min_matching_windows"},
        base64="media_col", batch_only="corpus-wide window self-join"),
    "$videoFingerprint": Extension(
        ("multimodal.video_fingerprint",),
        {"field": "media_col", "id": "id_col", "frames": "n_frames"},
        base64="media_col"),
    "$videoNearDups": Extension(
        ("multimodal.video_near_pairs",),
        {"field": "media_col", "id": "id_col", "frames": "n_frames",
         "maxHamming": "max_hamming", "minFrames": "min_matching_frames"},
        base64="media_col", batch_only="corpus-wide frame self-join"),
    "$warcRecords": Extension(
        ("crawl.warc_records",), {"field": "data_col", "keep": "keep_cols"},
        base64="data_col"),
    "$sitemapUrls": Extension(
        ("crawl.sitemap_urls",), {"field": "xml_col", "keep": "keep_cols"},
        base64="xml_col"),
    "$htmlExtract": Extension(
        ("crawl.html_extract",),
        {"field": "html_col", "title": "title_col", "text": "text_col",
         "blocks": "blocks_col", "minBlockChars": "min_block_chars",
         "maxLinkDensity": "max_link_density",
         "contentType": "content_type_col"}, run=_html_extract),
    "$robotsFilter": Extension(
        ("robots.url_allowed", "robots.robots_rules"),
        {"field": "url_col", "agent": "agent", "as": "out_col",
         "robotsField": "robots_col", "hostField": "host_col"},
        extra={"robots": _REQUIRED, "keep": False}, run=_robots_filter),
    "$textFeatures": Extension(
        ("text.with_text_features", "text.quality_score_from"),
        {"field": "text_col", "as": "out"}, defaults={"out": "tf"},
        extra={"score": None, "lang": None}, run=_text_features),
    "$qualityGate": Extension(
        ("text.quality_gate_from", "text.with_text_features"),
        {"field": "text_col", "num": "num", "den": "den"},
        extra={"tf": None}, run=_quality_gate),
    "$dedupSpans": Extension(
        ("text.duplicate_spans", "text.strip_duplicate_spans"),
        {"text": "text_col", "id": "id_col", "width": "width",
         "minDocs": "min_docs"},
        extra={"action": "mark"},
        batch_only="corpus-wide window counts", run=_dedup_spans),
    "$normalizeUrl": Extension(
        ("web.url_dedup", "web.normalize_url"),
        {"field": "url_col", "id": "id_col", "stripWww": "strip_www"},
        extra={"as": "canonical_url", "dedup": False}, scalar="field",
        run=_normalize_url),
    "$zorder": Extension(
        ("layout.zorder_key", "layout.cluster_by_zorder"),
        {"columns": "cols", "bits": "bits", "partitions": "num_partitions"},
        batch_only="write layout needs global stats", run=_zorder),
    "$weightedSample": Extension(
        ("sampling.weighted_sample",),
        {"weight": "weight_col", "k": "k", "by": "group_col",
         "id": "id_col", "salt": "salt"},
        defaults={"weight_col": "weight", "k": 10},
        batch_only="global top-k by sample key"),
    "$balancedSample": Extension(
        ("sampling.balanced_topn_sample",),
        {"by": "strata_col", "n": "n_per_stratum", "key": "key_col",
         "salt": "salt"},
        defaults={"strata_col": "label", "n_per_stratum": 100},
        batch_only="per-stratum rank window"),
    "$nearDups": Extension(
        ("dedup.minhash_lsh_pairs", "dedup.verify_pairs_editdist"),
        {"text": "text_col", "id": "id_col", "threshold": "threshold",
         "numHashes": "num_hashes", "bands": "bands", "k": "k",
         "verify.cap": "cap", "verify.minSim": "min_sim"},
        extra={"verify": None},
        batch_only="corpus-wide LSH self-join", run=_near_dups),
    "$prefixJaccard": Extension(
        ("dedup.prefix_filter_pairs",),
        {"text": "text_col", "id": "id_col", "thresholdPct": "threshold_pct",
         "n": "n"},
        batch_only="corpus-wide posting self-join"),
    "$containment": Extension(
        ("dedup.containment_pairs",),
        {"text": "text_col", "id": "id_col", "thresholdPct": "threshold_pct",
         "n": "n", "dfCap": "df_cap"},
        batch_only="corpus-wide posting self-join"),
    "$ngramPairs": Extension(
        ("dedup.ngram_jaccard_pairs",),
        {"text": "text_col", "id": "id_col", "threshold": "threshold",
         "n": "n", "dfCap": "df_cap"},
        batch_only="corpus-wide posting self-join"),
    "$ewma": Extension(
        ("timeseries.ewma_halflife",),
        {"value": "value_col", "by": "group_col", "orderBy": "order_by",
         "window": "window", "scale": "scale"},
        defaults={"order_by": ["ts_nanos"]},
        batch_only="keyed window over an ordered frame"),
    "$changepoints": Extension(
        ("timeseries.mean_shift_changepoints",),
        {"by": "by", "ts": "ts", "value": "value_col", "id": "id_col",
         "window": "window", "top": "top"},
        batch_only="keyed window over ordered frames"),
    "$robustZ": Extension(
        ("profiling.robust_zscores",),
        {"value": "value_col", "by": "group_col", "id": "id_col",
         "scale": "scale"},
        batch_only="group-wide rank medians"),
    "$hdrQuantiles": Extension(
        ("profiling.hdr_sketch", "profiling.hdr_quantiles"),
        {"value": "value_col", "by": "group_col", "sigBits": "sig_bits",
         "q": "qs"},
        defaults={"value_col": "value", "qs": [0.5, 0.9, 0.99]},
        extra=_SKETCH, batch_only="window cum-sum over the sketch",
        run=_hdr_quantiles),
    "$cmsSketch": Extension(
        ("profiling.cms_sketch",),
        {"field": "value_col", "depth": "depth", "width": "width"},
        defaults={"value_col": "token"}, extra=_SKETCH, run=_cms_sketch),
    "$hllSketch": Extension(
        ("profiling.hll_sketch",),
        {"value": "value_col", "by": "group_col", "p": "p"},
        defaults={"value_col": "value"}, extra=_SKETCH, run=_hll_sketch),
    "$kmvSketch": Extension(
        ("profiling.kmv_sketch", "profiling.kmv_estimate"),
        {"value": "value_col", "by": "group_col", "k": "k"},
        defaults={"value_col": "value"},
        extra={**_SKETCH, "estimate": False},
        batch_only="group-wide k-minimum rank window", run=_kmv_sketch),
    "$kmvOverlap": Extension(
        ("profiling.kmv_sketch", "profiling.kmv_overlap"),
        {"value": "value_col", "by": "group_col", "k": "k"},
        defaults={"value_col": "value", "group_col": "lang"},
        batch_only="group-wide k-minimum rank window", run=_kmv_overlap),
    "$binarySignatures": Extension(
        ("similarity.binary_signatures",),
        {"vector": "vec_col", "id": "id_col", "laneBits": "lane_bits",
         "dims": "dims"}, run=_binary_signatures),
    "$hammingTopk": Extension(
        ("similarity.hamming_topk",),
        {"vector": "vec_col", "id": "id_col", "k": "k"},
        extra=_QUERIES, batch_only="per-query rank window",
        run=_hamming_topk),
    "$hammingLshTopk": Extension(
        ("similarity.hamming_lsh_topk",),
        {"vector": "vec_col", "id": "id_col", "k": "k",
         "bandBits": "band_bits", "probeBits": "probe_bits"},
        extra=_QUERIES, batch_only="per-query rank window",
        run=_hamming_lsh_topk),
    "$hardNegatives": Extension(
        ("similarity.hard_negative_topk",),
        {"vector": "vec_col", "id": "id_col", "label": "label_col",
         "k": "k"},
        extra=_QUERIES, batch_only="per-query rank window",
        run=_hard_negatives),
    "$hammingPairs": Extension(
        ("similarity.hamming_near_pairs",),
        {"id": "id_col", "lanes": "lane_cols", "maxHamming": "max_hamming",
         "bandBits": "band_bits", "laneBits": "lane_bits"},
        batch_only="corpus-wide band self-join"),
    "$hammingProbe": Extension(
        ("similarity.hamming_probe",),
        {"id": "id_col", "indexId": "index_id_col", "lanes": "lane_cols",
         "maxHamming": "max_hamming", "bandBits": "band_bits",
         "laneBits": "lane_bits"},
        extra={"index": _REQUIRED}, run=_hamming_probe),
    "$ivfProbe": Extension(
        ("similarity.ivf_probe",),
        {"vector": "vec_col", "indexVector": "index_vec_col",
         "indexId": "index_id_col", "minCosine": "min_cosine",
         "nprobe": "nprobe"},
        extra={"index": _REQUIRED, "centroids": _REQUIRED,
               "centroidVector": "embedding", "centroidId": "vec_id"},
        run=_ivf_probe),
}


def _effect(name: str):
    # lazy import: effects pull in transports/crypto only when used
    def h(df, spec, pctx):
        from pincette_json_streams_spark.streaming import effects

        return getattr(effects, name)(df, spec, pctx)
    return h


STAGES: dict[str, Callable[[DataFrame, Any, PipelineContext], DataFrame]] = {
    "$match": _stage_match,
    "$project": _stage_project,
    "$addFields": _stage_add_fields,
    "$set": _stage_add_fields,  # synonym (docs:567-569)
    "$unset": _stage_unset,
    "$replaceRoot": _stage_replace_root,
    "$replaceWith": _stage_replace_root,
    "$unwind": _stage_unwind,
    "$setKey": _stage_set_key,
    "$group": _stage_group,
    "$bucket": _stage_bucket,
    "$count": _stage_count,
    "$deduplicate": _stage_deduplicate,
    "$per": _stage_per,
    "$lookup": _stage_lookup,
    "$graphLookup": _stage_graph_lookup,
    "$redact": _stage_redact,
    "$jq": _stage_jq,
    "$jslt": _stage_jslt,
    "$validate": _stage_validate,
    "$trace": _stage_trace,
    "$log": _effect("stage_log"),
    "$probe": _stage_probe,
    "$lag": _stage_lag,
    "$throttle": _stage_throttle,
    "$out": _stage_out,
    "$merge": _stage_merge,
    # side-effect stages (streaming/effects.py)
    "$http": _effect("stage_http"),
    "$signJwt": _effect("stage_sign_jwt"),
    "$send": _effect("stage_send"),
    "$delay": _effect("stage_delay"),
    "$delete": _effect("stage_delete"),
    "$s3Csv": _effect("stage_s3_csv"),
    "$s3Out": _effect("stage_s3_out"),
    "$s3Transfer": _effect("stage_s3_transfer"),
    "$s3Attachments": _effect("stage_s3_attachments"),
    # batch extensions
    "$sort": _stage_sort_ext,
    "$sort_ext": _stage_sort_ext,
    "$limit": _stage_limit_ext,
    "$skip": lambda df, spec, pctx: df.offset(int(spec)),
    "$sample": _stage_sample_ext,
    "$sortByCount": _stage_sort_by_count,
    "$rollup": _stage_rollup_cube("$rollup"),
    "$cube": _stage_rollup_cube("$cube"),
    "$geoNear": _stage_geo_near,
    "$windowFields": _stage_window_fields_ext,
    # MongoDB's canonical name — real Mongo pipelines run unchanged
    "$setWindowFields": _stage_window_fields_ext,
    "$densify": _stage_densify_ext,
    "$fill": _stage_fill_ext,
    "$facet": _stage_facet_ext,
    "$bucketAuto": _stage_bucket_auto,
    "$unionWith": _stage_union_with,
    "$documents": _stage_documents,
    # function-backed extension stages, one table
    **{name: functools.partial(_run_extension, name)
       for name in EXTENSIONS},
}
