"""Planner: canonical application spec -> executable Spark plans.

The reference interprets the spec per message with a reactive-streams
Processor chain (App.java:758-791 — SURVEY.md §3.2).  Here each part
compiles to a DataFrame lineage over a *source catalog*; Catalyst owns the
physical plan.  What each part reads and writes is decided once, by
`plans.spec.validate_application`, which returns the parts in dependency
order; each part compiles exactly once, in that order, so a part may name
a later part's stream.  The same compiled parts and the same sink set
(`run_batch`) run:

  - batch  — catalog maps topic/collection names to static DataFrames
    (parquet/Delta); `run_batch` returns the sink outputs.  This is the
    mode the golden tests and the driver's DuckDB oracle exercise.  A
    stream that two or more consumers read (`fromStream` reads plus
    sinks) is persisted when its part compiles, so one run computes it
    once; the cache serves that run only and is released when the
    `Application` and every frame `run_batch` returned are garbage
    (`functions.caching`).
  - stream — catalog maps names to streaming DataFrames (Kafka/Delta CDF);
    the streaming runtime starts one query per sink
    (pincette_json_streams_spark.streaming.runtime).

Join parts: the reference buffers both sides in MongoDB collections and
re-queries within a millisecond window (App.java:685-709,881-920).  The
Spark-first equivalent is a relational equi-join on the computed keys —
bounded data joins exactly; streaming adds watermarks per the window.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.caching import (
    run_scope,
    tracked_persist,
)
from pincette_json_streams_spark.operators.context import ctx_for
from pincette_json_streams_spark.operators.expressions import compile_expr
from pincette_json_streams_spark.operators.stages import (
    PipelineContext,
    compile_pipeline,
)
from pincette_json_streams_spark.plans.spec import (
    SpecError,
    Wiring,
    validate_application,
)

__all__ = ["Application"]


def _consumers(topology: list[Wiring]) -> Counter:
    """How many `fromStream` reads and sinks each stream has."""
    n: Counter = Counter()
    for w in topology:
        n.update(name for kind, name in w.reads if kind == "stream")
        n.update(name if name in w.streams else w.name
                 for _, name in w.sinks)
    return n


class Application:
    """A compiled application over a source catalog."""

    def __init__(
        self,
        spec: dict,
        catalog: dict[str, DataFrame],
        pctx: Optional[PipelineContext] = None,
    ):
        # Validate.java runs on every load; the wiring lists every part
        # after the producers of the streams it reads
        self.topology: list[Wiring] = validate_application(spec)
        self.spec = spec
        self.catalog = dict(catalog)
        self.pctx = pctx or PipelineContext(catalog=self.catalog)
        if self.pctx.app_name is None:
            self.pctx.app_name = spec.get("application")
        self.streams: dict[str, DataFrame] = {}
        self.sinks: dict[str, DataFrame] = {}
        self._consumers = _consumers(self.topology)
        with run_scope() as self._caches:
            for wiring in self.topology:
                self._compile_part(wiring)
        # every frame handed out keeps this run's caches alive
        for df in (*self.streams.values(), *self.run_batch().values()):
            df._run_caches = self._caches

    def _read(self, kind: str, name: str) -> DataFrame:
        if kind == "stream":
            return self.streams[name]
        if name not in self.catalog:
            raise SpecError(f"source {name!r} not in catalog")
        df = self.catalog[name]
        if kind == "collection" and "_id" in df.columns:
            # collection sources make _id the message key as a string
            # (docs/streams.md supported-fields table)
            df = df.withColumn("_id", F.col("_id").cast("string"))
        return df

    # -- compilation ---------------------------------------------------------
    def _compile_part(self, wiring: Wiring) -> None:
        part, t = wiring.part, wiring.part["type"]
        sources = [self._read(kind, name) for kind, name in wiring.reads]
        if t == "aggregate":
            from pincette_json_streams_spark.streaming.aggregate import (
                compile_aggregate,
            )
            outs = compile_aggregate(wiring, sources[0], self.pctx)
        else:
            if t == "stream":
                out = compile_pipeline(
                    sources[0], part.get("pipeline", []), self.pctx)
            elif t == "merge":
                out = reduce(lambda a, b: a.unionByName(
                    b, allowMissingColumns=True), sources)
            else:
                out = self._compile_join(wiring.name, part, *sources)
            # tracesTopic behavior (docs/telemetry.md:54): a configured
            # trace producer gets one event trace per correlated message
            # at the part output, with the reference's subpart naming
            # (`<part>.out` for streams, `<part>.merged` for merges;
            # join inputs are traced inside _compile_join as
            # `<part>.left.in`/`<part>.right.in`).  Aggregate parts emit
            # their own event stream and are not wrapped here.
            if t in ("stream", "merge"):
                from pincette_json_streams_spark.streaming.effects import (
                    emit_event_traces,
                )
                suffix = ".out" if t == "stream" else ".merged"
                out = emit_event_traces(out, f"{wiring.name}{suffix}",
                                        self.pctx, part=wiring.name)
            outs = {wiring.name: out}
        for name, df in outs.items():
            if self._consumers[name] > 1 and not df.isStreaming:
                # lazy: no job runs until the first consumer does
                outs[name] = tracked_persist(df)
        self.streams.update(outs)
        for kind, name in wiring.sinks:
            # an aggregate sinks each purpose stream under its own name;
            # any other part sinks its one output stream
            df = outs[name] if name in outs else outs[wiring.name]
            if kind == "topic" and part.get("toString"):
                df = df.select(F.to_json(F.struct("*")).alias("value"))
            self._add_sink(name, df)

    def _add_sink(self, name: str, df: DataFrame) -> None:
        # several parts may produce to the same topic (reference app3:
        # two streams -> one `out`); a topic is a UNION of its producers
        prev = self.sinks.get(name)
        self.sinks[name] = df if prev is None else \
            prev.unionByName(df, allowMissingColumns=True)

    def _compile_join(self, pname: str, part: dict, left: DataFrame,
                      right: DataFrame) -> DataFrame:
        # reference trace subparts <part>.left.in / <part>.right.in
        # (docs/telemetry.md metrics-attribute table)
        from pincette_json_streams_spark.streaming.effects import (
            emit_event_traces,
        )
        left = emit_event_traces(left, f"{pname}.left.in", self.pctx,
                                 part=pname)
        right = emit_event_traces(right, f"{pname}.right.in", self.pctx,
                                  part=pname)
        lkey = compile_expr(part["left"]["on"], ctx_for(left))
        rkey = compile_expr(part["right"]["on"], ctx_for(right))
        window_ms = part.get("window")
        streaming = left.isStreaming or right.isStreaming
        l = left.select(
            lkey.cast("string").alias("_id"), F.struct("*").alias("left")
        )
        r = right.select(
            rkey.cast("string").alias("_id"), F.struct("*").alias("right")
        )
        # Output shape {_id, left, right} per App.java:433-447.  The
        # window (ms, default infinite) constrains *arrival-time* skew —
        # the reference stamps each side with `_join_timestamp` on arrival
        # and queries the other side within [now-window, now]
        # (App.java:367-369,418-427).  Streaming mapping: ingest-time
        # column + watermark + symmetric time-range join condition, which
        # lets Spark expire join state at exactly the window the reference
        # TTLs its Mongo buffers at.  Infinite window (no `window` field)
        # -> unbounded state, like the reference's default.  Bounded batch
        # inputs: every pair is within any window -> plain equi-join.
        if streaming and window_ms:
            delay = f"{max(int(window_ms), 1000) // 1000} seconds"
            l = l.withColumn("__l_ts", F.current_timestamp()) \
                 .withWatermark("__l_ts", delay)
            r = r.withColumn("__r_ts", F.current_timestamp()) \
                 .withWatermark("__r_ts", delay)
            cond = (
                (l["_id"] == r["_id"])
                & (l["__l_ts"] >= r["__r_ts"] - F.expr(
                    f"INTERVAL {delay}"))
                & (l["__l_ts"] <= r["__r_ts"] + F.expr(
                    f"INTERVAL {delay}"))
            )
            joined = (
                l.join(r, cond, "inner")
                .select(l["_id"].alias("_id"), "left", "right",
                        l["__l_ts"])
            )
            # the reference suppresses identical join outputs within 1 s
            # (App.java:707-708: duplicateFilter on the message value) —
            # matching pairs arriving simultaneously can double-emit.
            # Same here: value-keyed dropDuplicatesWithinWatermark rides
            # the join's existing watermark (a new one can't be defined
            # downstream of a stream-stream join), so the suppression
            # window is max(1 s, join window) and dedup state expires
            # with it — O(rate), not O(data).
            return (
                joined.withColumn(
                    "__pair_key",
                    F.sha2(F.to_json(F.struct("_id", "left", "right")), 256),
                )
                .dropDuplicatesWithinWatermark(["__pair_key"])
                .drop("__pair_key", "__l_ts")
            )
        return l.join(r, "_id", "inner")

    # -- execution -----------------------------------------------------------
    def stream(self, name: str) -> DataFrame:
        return self.streams[name]

    def run_batch(self) -> dict[str, DataFrame]:
        """-> {sink name: DataFrame}: every part's sinks (toTopic,
        toCollection and an aggregate's purpose streams but ``command``)
        plus the $out/$merge targets captured during stage compilation.
        A stream runs the same set (``streaming.runtime.StreamingApp``)."""
        out = dict(self.pctx.outputs)
        out.update(self.sinks)
        return out
