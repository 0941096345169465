"""Structured-Streaming runtime: run an application's parts as streaming
queries.

The reference runs each app as a chain of reactive-streams processors over
Kafka consumers/producers (App.java:758-791,1087-1104 — SURVEY.md §3.2).
Spark-first equivalent: the SAME compiled DataFrame lineage (plans/planner
compiles batch and streaming identically), executed as one streaming query
per sink:

  source (Kafka / file-stream / rate)
    -> compiled pipeline (operators/stages.py — stateless stages are
       mode-agnostic; $group runs in update output mode; $deduplicate maps
       to dropDuplicates[WithinWatermark])
    -> sink (Kafka / memory / ``streaming.sinks.start_sink``)

Delivery: file sinks write each epoch once.  ``streaming.sinks`` stages
an epoch, moves it into its target and marks it in the query's
checkpoint, so an epoch replayed after a restart is skipped (its
docstring names the crash window left); ``delay_spool_sink`` is Spark's
file sink, which logs its epochs itself.  ``kafka_sink`` stays at-least-once, the reference's contract
(docs/index.md:3).  Kafka offsets ⇄ checkpoint state; the reference's
resume tokens (App.java:1056-1081) ⇄ checkpoint metadata.

Aggregate parts compile through the same compiler as in batch
(``streaming.aggregate.compile_aggregate``); only the fold operator
differs: ``streaming_aggregate`` runs it with grouped state
(``functions.groups.map_groups``) keyed by instance.  The reference serializes commands per aggregate
instance via Kafka key partitioning (docs/state.md:114-127); grouped
state processing is the faithful distributed analogue (parallel across
keys, ordered within one).  ``StreamingApp`` sinks each aggregate
part's purpose streams but ``command``, which shares its name with the
topic the part reads (``plans.spec.Wiring``).
"""

from __future__ import annotations

import json
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.groups import (
    PACKED, map_groups, pack, unpack,
)
from pincette_json_streams_spark.operators.stages import PipelineContext
from pincette_json_streams_spark.streaming.sinks import publish, start_sink

__all__ = [
    "kafka_source", "kafka_sink", "kafka_client_options",
    "file_stream_catalog", "attach_metrics_listener",
    "collection_change_stream", "StreamingApp", "streaming_aggregate",
    "delay_spool_sink", "delay_release_stream", "redelivery_sink",
]


# --------------------------------------------------------------------------
# sources / sinks
# --------------------------------------------------------------------------

# Spark's own Kafka-connector options — everything else in a client
# config is a kafka-client property and must be ``kafka.``-prefixed for
# the connector to forward it (SSL/SASL, fetch tuning, group id)
_SPARK_KAFKA_OPTS = {
    "subscribe", "subscribePattern", "assign", "topic",
    "startingOffsets", "endingOffsets", "startingTimestamp",
    "endingTimestamp", "startingOffsetsByTimestamp",
    "endingOffsetsByTimestamp", "startingOffsetsByTimestampStrategy",
    "maxOffsetsPerTrigger", "minOffsetsPerTrigger", "failOnDataLoss",
    "minPartitions", "groupIdPrefix", "includeHeaders",
    "checkpointLocation", "maxTriggerDelay", "fetchOffset.numRetries",
    "fetchOffset.retryIntervalMs", "kafkaConsumer.pollTimeoutMs",
}


def kafka_client_options(
    bootstrap: str, config: Optional[dict] = None
) -> dict:
    """Build the Spark option map for the Kafka connector from a plain
    client config — the reference's KafkaProvider does the same from
    its config file (KafkaProvider.java:168-189): every kafka-client
    property (``security.protocol``, ``ssl.truststore.location``,
    ``sasl.jaas.config``, ``group.id``, fetch tuning...) gets the
    ``kafka.`` prefix Spark's connector requires, while Spark's own
    connector options pass through unprefixed.  Pure function so the
    SSL/consumer-group wiring is unit-testable without a broker."""
    out = {"kafka.bootstrap.servers": bootstrap}
    for k, v in (config or {}).items():
        if k.startswith("kafka.") or k in _SPARK_KAFKA_OPTS:
            out[k] = str(v)
        else:
            out[f"kafka.{k}"] = str(v)
    return out

def kafka_source(
    spark: SparkSession,
    topic: str,
    bootstrap: str,
    schema: Optional[str] = None,
    max_offsets_per_trigger: Optional[int] = None,
    wire_format: str = "cbor",
    config: Optional[dict] = None,
) -> DataFrame:
    """Kafka topic -> streaming DataFrame.  With a schema, the JSON value
    is parsed into typed columns plus the Kafka key as ``_key``; without
    one, rows are (``_key``, ``value`` JSON string) — the schemaless
    shape, accessed downstream via $stringToJson / get_json_object.
    ``maxOffsetsPerTrigger`` is the backpressure knob standing in for the
    reference's batchSize/batchTimeout (KafkaProvider.java:61-66).

    ``wire_format="cbor"`` (the reference's wire format,
    docs/serialisation.md) decodes gzip-CBOR message values with the
    string fallback; ``"string"`` casts the raw bytes."""
    # defaults first, config LAST: a caller-provided startingOffsets /
    # assign / subscribePattern must win over the built-in defaults
    opts = {"subscribe": topic, "startingOffsets": "earliest"}
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    opts.update(kafka_client_options(bootstrap, config))
    if config and ("assign" in config or "subscribePattern" in config):
        # Spark rejects multiple subscription modes — an explicit mode
        # in the config replaces the default subscribe
        opts.pop("subscribe", None)
    reader = spark.readStream.format("kafka").options(**opts)
    loaded = reader.load()
    if wire_format == "cbor":
        from pincette_json_streams_spark.sources.serialisation import (
            decode_col,
        )
        raw = loaded.select(
            F.col("key").cast("string").alias("_key"),
            decode_col(F.col("value")).alias("value"),
        )
    else:
        raw = loaded.selectExpr(
            "CAST(key AS STRING) AS _key", "CAST(value AS STRING) AS value"
        )
    if schema is None:
        return raw
    return raw.select(
        "_key", F.from_json("value", schema).alias("v")
    ).select("_key", "v.*")


def kafka_sink(
    df: DataFrame,
    bootstrap: str,
    topic: Optional[str],
    checkpoint: str,
    key_col: str = "_id",
    output_mode: str = "append",
    to_string: bool = False,
    config: Optional[dict] = None,
):
    """Streaming DataFrame -> Kafka.  Messages serialize as gzip-CBOR of
    the row document (the reference's wire format); ``to_string=True``
    produces plain JSON strings instead — the stream-part ``toString``
    flag (docs/serialisation.md).  A per-row ``topic`` column (from
    $send/$delay) takes precedence over the fixed topic — Kafka sinks
    route on it natively.

    At-least-once: Kafka output cannot be staged, so an epoch replayed
    from the checkpoint is produced again (the reference's contract,
    docs/index.md:3).

    The document is Spark's default JSON, so timestamps go on the wire
    to the millisecond (``kafka_source`` reads the same format).  That
    is an external format other Kafka clients read; the exact packing
    of ``functions.groups`` is for data that stays inside the engine."""
    cols = [c for c in df.columns if c not in ("topic",)]
    value_json = F.to_json(F.struct(*[F.col(c) for c in cols]))
    if to_string:
        value = value_json
    else:
        from pincette_json_streams_spark.sources.serialisation import (
            encode_col,
        )
        value = encode_col(value_json)
    out = df.select(
        *( [F.col("topic")] if "topic" in df.columns else [] ),
        (F.col(key_col).cast("string") if key_col in df.columns
         else F.lit(None).cast("string")).alias("key"),
        value.alias("value"),
    )
    # defaults first, config LAST (an explicit checkpointLocation in
    # the client config wins over the positional argument)
    wopts = {"checkpointLocation": checkpoint}
    wopts.update(kafka_client_options(bootstrap, config))
    writer = (
        out.writeStream.format("kafka")
        .options(**wopts)
        .outputMode(output_mode)
    )
    if topic is not None and "topic" not in df.columns:
        writer = writer.option("topic", topic)
    return writer


def file_stream_catalog(
    spark: SparkSession,
    topic_dirs: dict[str, str],
    schemas: dict[str, str],
    max_files_per_trigger: Optional[int] = None,
) -> dict[str, DataFrame]:
    """Offline stand-in for Kafka: one parquet directory per topic
    (appends = new files).  Used by tests and local runs; the semantics —
    unbounded append source with checkpointed progress — match."""
    catalog = {}
    for name, d in topic_dirs.items():
        reader = spark.readStream.schema(schemas[name]).format("parquet")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   str(max_files_per_trigger))
        catalog[name] = reader.load(d)
    return catalog


def collection_change_stream(
    spark: SparkSession,
    collection_dir: str,
    schema: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Append-only tail of a plain parquet directory (appends become
    change events; the streaming checkpoint is the resume token).

    This is the lightweight form for append-only collections.  The FULL
    ``fromCollection`` contract — insert/replace/delete operationType
    per document with checkpointed per-key state, matching the
    reference's Mongo change streams (App.java:650-683,1056-1081) — is
    ``sources.changelog.ChangeLogCollection.change_stream``; pass that
    DataFrame as the catalog entry instead when the collection is
    written as a change log."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.load(collection_dir)


# --------------------------------------------------------------------------
# $delay redelivery  (docs/aggregation_stages.md:118-158)
# --------------------------------------------------------------------------
#
# The reference delays each message in-process and re-produces it to the
# target Kafka topic.  Spark-first decomposition, all checkpointed:
#
#   $delay stage (effects.py) tags rows with topic + deliver_after
#     -> delay_spool_sink: spool the routed rows (parquet append)
#     -> delay_release_stream: stateful hold (``map_groups`` with a
#        processing-time timeout) that emits each message once
#        now >= deliver_after — state is O(in-flight delayed messages)
#     -> redelivery_sink: append released messages back into the target
#        topic's directory, where the normal source re-ingests them.
#
# Loss mid-delay is possible in the reference too (docs:122); here the
# spool + checkpoints narrow that window to the release hold.

def delay_spool_sink(routed: DataFrame, spool_dir: str, checkpoint: str):
    """Writer that spools $delay-routed rows (topic + deliver_after +
    payload), the payload packed exactly (``functions.groups.pack``).
    It stays Spark's file sink rather than a ``streaming.sinks.Sink``:
    that sink already logs each epoch once in ``_spark_metadata``."""
    payload = [c for c in routed.columns
               if c not in ("topic", "deliver_after")]
    rows = routed.select(
        F.col("topic").cast("string"),
        F.col("deliver_after").cast("long"),
        pack(*[F.col(c) for c in payload]).alias("value"),
    )
    return (
        rows.writeStream.format("parquet")
        .option("path", spool_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def delay_release_stream(
    spark: SparkSession, spool_dir: str, buckets: int = 8
) -> DataFrame:
    """Spool -> held messages released when due.  Keys spread over
    ``buckets`` so the hold state parallelizes; each key sets a
    processing-time timeout at its earliest pending deliver_after.
    The state holds each pending message as ``[deliver_after, packed
    topic and value]``."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = spark.readStream.schema(
        "topic string, deliver_after long, value string"
    ).format("parquet").load(spool_dir)
    keyed = src.withColumn(
        "__k", (F.crc32(F.col("value")) % buckets).cast("string")
    )

    def hold(key, pdfs, state):
        import time

        import pandas as pd

        pending = json.loads(state.get[0]) if state.exists else []
        for pdf in pdfs:
            pending.extend(zip(pdf["deliver_after"].tolist(),
                               pdf[PACKED].tolist()))
        now_ms = int(time.time() * 1000)
        due = [row for at, row in pending if at <= now_ms]
        rest = [(at, row) for at, row in pending if at > now_ms]
        state.update((json.dumps(rest),))
        if rest:
            state.setTimeoutDuration(max(
                min(at for at, _ in rest) - now_ms, 50
            ))
        yield pd.DataFrame({PACKED: due}, dtype=object)

    return map_groups(
        keyed, ["__k"], hold, "", payload=["topic", "value"],
        state="pending string",
        timeout=GroupStateTimeout.ProcessingTimeTimeout)


class _Redelivery:
    """``Sink`` that appends each released message, parsed, into its
    target topic's directory in one ``publish``."""

    def __init__(self, topic_dirs: dict[str, str], schemas: dict[str, str]):
        self.topic_dirs, self.schemas = topic_dirs, schemas

    def write(self, df: DataFrame, epoch_id: int) -> None:
        publish({
            d: df.filter(F.col("topic") == topic)
            .select(unpack("value", self.schemas[topic]).alias("v"))
            .select("v.*")
            for topic, d in self.topic_dirs.items()
        })


def redelivery_sink(
    released: DataFrame,
    topic_dirs: dict[str, str],
    schemas: dict[str, str],
    checkpoint: str,
):
    """Writer that appends released messages into their target topic's
    directory (the file-source analogue of producing back to Kafka) —
    the topic's normal streaming source then re-ingests them.  Each
    epoch is appended once (``streaming.sinks.start_sink``)."""
    return start_sink(_Redelivery(topic_dirs, schemas), released, checkpoint)


# --------------------------------------------------------------------------
# streaming aggregate part  (docs/state.md — SURVEY.md §2.8)
# --------------------------------------------------------------------------

def streaming_aggregate(
    keyed: DataFrame,
    fold: Callable[[Optional[dict], "pandas.DataFrame"], list[dict]],
) -> DataFrame:
    """The stateful fold of a streaming aggregate part.

    ``keyed`` carries one row per command: the instance key ``__key``,
    the command JSON and its arrival columns
    (``streaming.aggregate.compile_aggregate`` builds it, with ``fold``).
    ``functions.groups.map_groups`` groups it by ``__key`` with state:
    the instance's latest aggregate JSON.  ``fold(state, pdf)`` returns
    the ``reduce_commands`` records for a micro-batch's rows of one key.
    Emits one row per output message with a ``purpose`` discriminator,
    which the compiler fans out to the five purpose streams."""
    from pincette_json_streams_spark.streaming.aggregate import (
        FOLD_SCHEMA, fold_frame,
    )

    def stateful(key, pdf_iter, state):
        import pandas as pd

        cur = json.loads(state.get[0]) if state.exists else None
        recs = fold(cur, pd.concat(list(pdf_iter), ignore_index=True))
        for r in recs:
            if r["purpose"] == "aggregate":
                cur = r["doc"]
        state.update((json.dumps(cur or {}),))
        yield fold_frame(recs)

    return map_groups(keyed, ["__key"], stateful, FOLD_SCHEMA,
                      state="state string")


# --------------------------------------------------------------------------
# app runner
# --------------------------------------------------------------------------

class StreamingApp:
    """Run an application's parts as streaming queries.

    ``catalog`` maps topic names to *streaming* DataFrames (kafka_source /
    file_stream_catalog).  Each sink of ``Application.run_batch`` —
    toTopic, toCollection and an aggregate's purpose streams — becomes
    one streaming query via ``sink_factory(name, df) -> DataStreamWriter``
    (tests use memory sinks; production uses ``kafka_sink`` or
    ``streaming.sinks.start_sink`` with a ``Sink``, such as a
    ``ChangeLogCollection``).
    """

    def __init__(
        self,
        spark: SparkSession,
        spec: dict,
        catalog: dict[str, DataFrame],
        pctx: Optional[PipelineContext] = None,
    ):
        from pincette_json_streams_spark.plans.planner import Application

        self.spark = spark
        self.pctx = pctx or PipelineContext(catalog=dict(catalog))
        # the planner compiles identically on streaming DataFrames and
        # returns the same sink set in both modes
        self.app = Application(spec, catalog, self.pctx)
        self.sinks = dict(self.app.run_batch())
        self.streams = dict(self.app.streams)

    def start(
        self,
        sink_factory: Callable[[str, DataFrame], "object"],
        available_now: bool = False,
    ) -> list:
        """Start one streaming query per sink; returns the queries."""
        queries = []
        for name, df in self.sinks.items():
            writer = sink_factory(name, df)
            if available_now:
                writer = writer.trigger(availableNow=True)
            queries.append(writer.start())
        return queries

    def start_delay_redelivery(
        self,
        topic_dirs: dict[str, str],
        schemas: dict[str, str],
        base_dir: str,
        buckets: int = 8,
    ) -> list:
        """Start the $delay redelivery loop (spool -> timed hold ->
        append into the target topic directory).  Returns the queries;
        callers stop them when shutting the app down."""
        import os

        routed = [s for s in getattr(self.pctx, "sends", [])
                  if s.isStreaming and "deliver_after" in s.columns]
        if not routed:
            return []
        spool = os.path.join(base_dir, "delay-spool")
        queries = [
            delay_spool_sink(
                r, spool, os.path.join(base_dir, f"ckpt-spool-{i}")
            ).start()
            for i, r in enumerate(routed)
        ]
        released = delay_release_stream(self.spark, spool, buckets)
        queries.append(
            redelivery_sink(
                released, topic_dirs, schemas,
                os.path.join(base_dir, "ckpt-release"),
            ).trigger(processingTime="500 milliseconds").start()
        )
        return queries

    def run_until_drained(
        self, sink_factory, timeout: int = 120,
        collect_metrics: bool = False,
    ):
        """availableNow run: process everything currently in the sources,
        then stop — the golden-test execution mode (mirrors the reference's
        `test` command draining behavior, Test.java:429-512).

        With ``collect_metrics=True`` returns per-sink counters drawn
        from the queries' progress events — rows in, batches, and any
        ``observe()`` metrics ($probe's topic-less form) — the
        reference's per-part message counters (App.java:948-974)."""
        queries = self.start(sink_factory, available_now=True)
        for q in queries:
            q.awaitTermination(timeout)
        if not collect_metrics:
            return None
        out: dict[str, dict] = {}
        for name, q in zip(self.sinks, queries):
            rows = 0
            batches = 0
            observed: dict = {}
            for p in q.recentProgress:
                rows += int(p.get("numInputRows", 0) or 0)
                batches += 1
                for k, v in (p.get("observedMetrics") or {}).items():
                    observed[k] = v
            out[name] = {"numInputRows": rows, "numBatches": batches,
                         "observedMetrics": observed}
        return out

    def run_supervised(
        self,
        sink_factory,
        max_restarts: int = 3,
        timeout: int = 120,
    ):
        """availableNow run with restart-on-error: a failed query is
        restarted from its checkpoint up to ``max_restarts`` times —
        the reference's Run loop keeps apps alive the same way
        (restart-on-error with the resume token).  The checkpoint
        replays the epoch that failed.  Sinks started through
        ``streaming.sinks.start_sink`` skip an epoch they already wrote,
        so their rows appear once; ``kafka_sink`` produces the epoch
        again (at-least-once).  Raises the last error when a query keeps
        failing."""
        from pyspark.errors import StreamingQueryException

        attempts = 0
        while True:
            try:
                self.run_until_drained(sink_factory, timeout=timeout)
                return attempts
            except StreamingQueryException:
                attempts += 1
                if attempts > max_restarts:
                    raise

def attach_metrics_listener(spark: SparkSession, counter, application: str):
    """Forward per-query streaming throughput to a counter emitter —
    the reference's automatic OpenTelemetry ``json_streams.messages``
    observable counters per part in/out (docs/telemetry.md:35-47,
    attributes application/part/profile.frame.*).

    ``counter(name, value, attributes)`` matches
    ``OtlpHttpExporter.emit_counter``; the listener runs driver-side on
    every micro-batch progress event and emits ``<query>.in`` with the
    batch's ``numInputRows`` and ``<query>.out`` with the sink's
    ``numOutputRows`` (skipped when the sink doesn't report).  Returns
    the listener so callers can ``spark.streams.removeListener`` it."""
    from pyspark.sql.streaming import StreamingQueryListener

    frame_attrs = {
        "application": application,
        "profile.frame.type": "json-streams",
    }

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            part = p.name or str(p.id)
            try:
                n_in = int(p.numInputRows)
                counter("json_streams.messages", n_in,
                        {**frame_attrs, "part": f"{part}.in"})
                n_out = int(p.sink.numOutputRows)
                if n_out >= 0:  # -1 = sink doesn't report
                    counter("json_streams.messages", n_out,
                            {**frame_attrs, "part": f"{part}.out"})
            except Exception:
                pass  # telemetry must never break the stream

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener
