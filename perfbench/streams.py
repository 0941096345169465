"""Streaming workloads: an open loop at a fixed rate into parquet topic
directories, closed-loop probes on idle queries, then a backlog drain.

``stream_pipeline`` runs a stream part, a merge part and a windowed join
part; ``aggregate_commands`` runs an event-sourcing aggregate part.
Each sink is a ``foreachBatch`` parquet writer that stamps the time its
batch was written; an output row's latency is that stamp minus the time
its input event was due at the generator.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import checks
import gen
from harness import SETUPS
from stats import percentile, summarize

OPEN_SHARE = 0.2      # of the measured phase; probes take the rest
TICK_S = 0.1          # the generator writes one file per topic per tick
WARMUP_S = 0.25       # open-loop events due earlier are not sampled
OPEN_ID = 10 ** 6     # first id of the open-loop phase
BACKLOG_ID = 10 ** 7  # first id of the drain
PROBE_ID = 10 ** 8    # first id of the probes
PROBE_N = 100         # events per probe
MIN_PROBES = 4


class OpenLoop(threading.Thread):
    """Writes each tick's files when they are due, whether or not the
    program keeps up, and records how late each write finished."""

    def __init__(self, ticks: list[dict[str, pa.Table]],
                 dirs: dict[str, str]):
        super().__init__(daemon=True)
        self.ticks, self.dirs = ticks, dirs
        self.t0 = time.perf_counter()
        self.lags_ms: list[float] = []

    def run(self):
        for k, tables in enumerate(self.ticks):
            due = self.t0 + (k + 1) * TICK_S
            time.sleep(max(0.0, due - time.perf_counter()))
            for topic, t in tables.items():
                if t.num_rows:
                    gen.write_table(t, os.path.join(
                        self.dirs[topic], f"open-{k:05d}.parquet"))
            self.lags_ms.append((time.perf_counter() - due) * 1e3)


def stage(tables: dict[str, pa.Table], dirs: dict[str, str], name: str,
          parts: int = 1) -> list[tuple[str, str]]:
    """Write ``tables`` under hidden names; the caller renames each
    (tmp, final) pair to make the files appear."""
    staged = []
    for topic, t in tables.items():
        for part in range(parts):
            lo, hi = part * t.num_rows // parts, (part + 1) * t.num_rows // parts
            final = os.path.join(dirs[topic], f"{name}-{part}.parquet")
            tmp = os.path.join(dirs[topic], f".{name}-{part}.tmp")
            pq.write_table(t.slice(lo, hi - lo), tmp, compression="snappy")
            staged.append((tmp, final))
    return staged


def split_ticks(tables: dict[str, pa.Table], seconds: float
                ) -> list[dict[str, pa.Table]]:
    """Bucket each topic's rows by due time into generator ticks."""
    out = []
    for k in range(int(round(seconds / TICK_S))):
        lo, hi = int(k * TICK_S * 1e6), int((k + 1) * TICK_S * 1e6)
        out.append({
            topic: t.filter(pc.and_(pc.greater_equal(t["due_us"], lo),
                                    pc.less(t["due_us"], hi)))
            for topic, t in tables.items()})
    return out


class ParquetSink:
    """``sink_factory`` for ``StreamingApp.start``: each sink becomes a
    ``foreachBatch`` query appending parquet, tagged with its epoch."""

    def __init__(self, b, root: str):
        self.b, self.root = b, root
        self.commits: dict[tuple[str, int], float] = {}
        self.calls: Counter = Counter()
        self.write_ms: list[float] = []

    def dir(self, name: str) -> str:
        return os.path.join(self.root, "out", name)

    def __call__(self, name: str, df):
        from pyspark.sql import functions as F

        path, tracer = self.dir(name), self.b.tracer

        def write(batch, epoch):
            t = time.perf_counter()
            with tracer.span("sink.write", "sink"):
                batch.withColumn("_epoch", F.lit(epoch)) \
                    .write.mode("append").parquet(path)
            done = time.perf_counter()
            self.write_ms.append((done - t) * 1e3)
            self.calls[(name, epoch)] += 1
            self.commits[(name, epoch)] = done

        return (df.writeStream.foreachBatch(write)
                .option("checkpointLocation",
                        os.path.join(self.root, "ckpt", name)))

    def read(self, name: str) -> pa.Table:
        return pq.read_table(self.dir(name))


# -- the two applications -------------------------------------------------

PIPELINE_SPEC = {
    "application": "shop",
    "parts": [
        {"type": "stream", "name": "enrich", "fromTopic": "orders",
         "toTopic": "enriched", "pipeline": [
             {"$match": {"amount": {"$gte": 100}}},
             {"$addFields": {"tier": {"$cond": [
                 {"$gte": ["$amount", 5000]}, "gold", "std"]}}},
             {"$unwind": "$items"},
             {"$project": {"_id": 0, "order_id": 1, "due_us": 1, "tier": 1,
                           "sku": "$items.sku", "qty": "$items.qty"}},
         ]},
        {"type": "merge", "name": "all", "fromTopics": ["orders", "payments"],
         "toTopic": "merged"},
        {"type": "join", "name": "paired", "toTopic": "paired",
         "window": 60000,
         "left": {"fromTopic": "orders", "on": "$order_id"},
         "right": {"fromTopic": "payments", "on": "$order_id"}},
    ],
}

AGGREGATE_SPEC = {
    "application": "bench",
    "parts": [
        {"type": "aggregate", "aggregateType": "acct", "orderBy": "seq",
         "commands": {"add": {
             "reducer": [{"$replaceRoot": {"newRoot": {"$mergeObjects": [
                 "$state",
                 {"amount": {"$add": [{"$ifNull": ["$state.amount", 0]},
                                      "$command.amount"]},
                  "seq": "$command.seq", "due_us": "$command.due_us"},
             ]}}}],
             "validator": {"conditions": [
                 {"amount": {"$gte": 0, "$code": "NEGATIVE"}}]},
         }}},
    ],
}
COMMAND_TOPIC = "bench-acct-command"


class Workload:
    """What differs between the two streaming workloads."""
    name: str
    spec: dict
    rate: float          # open-loop events per second
    backlog: int         # events written at once for the drain
    schemas: dict[str, pa.Schema]
    latency_sinks: tuple[str, ...]
    sinks: tuple[str, ...] = ()    # the sinks to run; all when empty

    def inputs(self, seed: int, first_id: int, n: int,
                 rate: float) -> dict[str, pa.Table]:
        raise NotImplementedError


class StreamPipeline(Workload):
    name = "stream_pipeline"
    spec = PIPELINE_SPEC
    rate = 500.0
    backlog = 1500
    schemas = {"orders": gen.ORDER_SCHEMA, "payments": gen.PAYMENT_SCHEMA}
    latency_sinks = ("enriched", "merged", "paired")

    def inputs(self, seed, first_id, n, rate):
        orders, payments = gen.order_events(seed, first_id, n, rate)
        return {"orders": orders, "payments": payments}

    def samples(self, sink, name):
        """(event id, due_us, epoch) of every row of one sink."""
        t = sink.read(name)
        if name == "paired":
            left = t["left"].combine_chunks()
            ids = left.field("order_id")
            due = left.field("due_us")
        else:
            ids, due = t["order_id"], t["due_us"]
        return zip(ids.to_pylist(), due.to_pylist(),
                   t["_epoch"].to_pylist())

    def check(self, b, sink, inputs) -> tuple[int, int]:
        orders = pa.concat_tables([i["orders"] for i in inputs]).to_pylist()
        pays = pa.concat_tables([i["payments"] for i in inputs]).to_pylist()
        want_enriched = [
            (o["order_id"], it["sku"], it["qty"],
             "gold" if o["amount"] >= 5000 else "std")
            for o in orders if o["amount"] >= 100 for it in o["items"]]
        got = sink.read("enriched")
        results = [checks.check_rows(want_enriched, zip(
            got["order_id"].to_pylist(), got["sku"].to_pylist(),
            got["qty"].to_pylist(), got["tier"].to_pylist()))]
        got = sink.read("merged")
        results.append(checks.check_rows(
            [(o["order_id"], None) for o in orders]
            + [(p["order_id"], p["pay_id"]) for p in pays],
            zip(got["order_id"].to_pylist(), got["pay_id"].to_pylist())))
        got = sink.read("paired")
        results.append(checks.check_rows(
            [(str(p["order_id"]), p["order_id"], p["pay_id"]) for p in pays],
            zip(got["_id"].to_pylist(),
                got["left"].combine_chunks().field("order_id").to_pylist(),
                got["right"].combine_chunks().field("pay_id").to_pylist())))
        b.notes["check_base"] = ("sink rows expected over enriched, merged "
                                 "and paired")
        b.notes["failed_by_sink"] = {
            n: f for n, (_, f) in zip(("enriched", "merged", "paired"),
                                      results)}
        return (sum(a for a, _ in results), sum(f for _, f in results))


class AggregateCommands(Workload):
    name = "aggregate_commands"
    spec = AGGREGATE_SPEC
    rate = 500.0
    backlog = 5000
    schemas = {COMMAND_TOPIC: gen.COMMAND_SCHEMA}
    latency_sinks = ("bench-acct-aggregate",)
    # the aggregate's own topic; each further purpose topic would run the
    # fold again in a query of its own
    sinks = ("bench-acct-aggregate",)

    def __init__(self):
        self.seen: set = set()

    def inputs(self, seed, first_id, n, rate):
        return {COMMAND_TOPIC: gen.commands(seed, first_id, n, rate,
                                            seen=self.seen)}

    def samples(self, sink, name):
        t = sink.read(name)
        docs = [json.loads(v) for v in t["value"].to_pylist()]
        return zip([d["seq"] for d in docs], [d["due_us"] for d in docs],
                   t["_epoch"].to_pylist())

    @staticmethod
    def final_states(values) -> dict:
        last: dict = {}
        for v in values:
            d = json.loads(v)
            if d["_id"] not in last or d["_seq"] > last[d["_id"]]["_seq"]:
                last[d["_id"]] = d
        return last

    def check(self, b, sink, inputs) -> tuple[int, int]:
        """Every command folds exactly once, and the streaming final
        states equal the batch aggregate path's on the same commands."""
        from pincette_json_streams_spark import Application

        cmds = pa.concat_tables([i[COMMAND_TOPIC] for i in inputs])
        path = b.path("check", "commands.parquet")
        pq.write_table(cmds, path)
        spark = b.session()
        batch = Application(self.spec, {
            COMMAND_TOPIC: spark.read.schema(
                gen.spark_schema(gen.COMMAND_SCHEMA)).parquet(path)})
        want = self.final_states(
            r["value"] for r in
            batch.stream("bench-acct-aggregate").collect())
        got_values = sink.read("bench-acct-aggregate")["value"].to_pylist()
        seqs = checks.check_rows(cmds["seq"].to_pylist(),
                                 [json.loads(v)["seq"] for v in got_values])
        states = checks.check_states(want, self.final_states(got_values))
        b.notes["check_base"] = (f"{seqs[0]} commands folded exactly once "
                                 f"+ {states[0]} final states vs run_batch")
        return seqs[0] + states[0], seqs[1] + states[1]


def run(b, w: Workload) -> dict:
    """Start the session, warm up the instance to be measured, time
    ``SETUPS`` set-ups of other instances, measure for ``b.seconds`` (an
    open loop, then closed-loop probes), drain a backlog, then check
    every sink."""
    from pincette_json_streams_spark.plans.spec import load_application
    from pincette_json_streams_spark.streaming.runtime import (
        StreamingApp, file_stream_catalog)

    tracer = b.tracer

    def start(name: str):
        """Load, compile and start the app over empty topic directories
        of its own."""
        root = b.path(name, "")
        dirs = {t: b.path(name, "in", t, "") for t in w.schemas}
        spec_path = b.write_spec(f"{w.name}-{name}", w.spec)
        t0 = time.perf_counter()
        spark = b.session()
        spec = load_application(spec_path)
        catalog = file_stream_catalog(
            spark, dirs, {t: gen.spark_schema(s)
                          for t, s in w.schemas.items()})
        app = StreamingApp(spark, spec, catalog)
        if w.sinks:
            app.sinks = {n: app.sinks[n] for n in w.sinks}
        sink = ParquetSink(b, root)
        queries = app.start(sink)
        return time.perf_counter() - t0, queries, sink, dirs

    b.session()

    # untimed warm-up: the instance that is measured later takes one file
    # per topic, so Spark's code generation and JIT are done with
    t0 = time.perf_counter()
    tracer.trace = "warmup"
    warm = w.inputs(b.seed, 0, int(w.rate), w.rate)
    _, queries, sink, dirs = start("measured")
    for topic, t in warm.items():
        gen.write_table(t, os.path.join(dirs[topic], "warm.parquet"))
    for q in queries:
        q.processAllAvailable()
    b.notes["warmup_s"] = time.perf_counter() - t0

    # set-up k: spec load, catalog, compile and query start of another
    # instance, stopped once timed
    setup_s = []
    for k in range(SETUPS):
        tracer.trace = f"setup-{k}"
        took, started, _, _ = start(f"setup{k}")
        setup_s.append(took)
        for q in started:
            q.stop()
    phase_t = [("start", time.perf_counter())]

    # measured phase: an open loop, then closed-loop probes
    open_s = OPEN_SHARE * b.seconds
    n_open = int(w.rate * open_s)
    opened = w.inputs(b.seed, OPEN_ID, n_open, w.rate)
    ticks = split_ticks(opened, open_s)
    first_batch = {q.id: (q.lastProgress or {}).get("batchId", -1)
                   for q in queries}
    if b.counters is not None:
        b.counters.mark()
    tracer.trace = "measure"
    loop = OpenLoop(ticks, dirs)
    loop.start()
    loop.join()
    open_end = time.perf_counter()
    for q in queries:
        q.processAllAvailable()

    phase_t.append(("open loop", time.perf_counter()))

    # probes: one small file per topic at a time, on idle queries; a
    # probe's latency in a sink runs from its files' appearance to the
    # commit of its last output row there
    probes, probe_t = [], []
    t_end = open_end + b.seconds - open_s
    while time.perf_counter() < t_end or len(probes) < MIN_PROBES:
        k = len(probes)
        probes.append(w.inputs(b.seed, PROBE_ID + k * PROBE_N, PROBE_N,
                               w.rate))
        staged = stage(probes[-1], dirs, f"probe-{k}")
        probe_t.append(time.perf_counter())
        for tmp, final in staged:
            os.rename(tmp, final)
        for q in queries:
            q.processAllAvailable()

    phase_t.append(("probes", time.perf_counter()))

    # drain: a backlog appears at once, timed until every sink has it
    backlog = w.inputs(b.seed, BACKLOG_ID, w.backlog, w.rate * 1000)
    staged = stage(backlog, dirs, "backlog", parts=4)
    t_drain = time.perf_counter()
    for tmp, final in staged:
        os.rename(tmp, final)
    for q in queries:
        q.processAllAvailable()
    drain_rate = (sum(t.num_rows for t in backlog.values())
                  / (time.perf_counter() - t_drain))
    phase_t.append(("drain", time.perf_counter()))
    progress = {q.name or str(q.id): [p for p in q.recentProgress
                                      if p["batchId"] > first_batch[q.id]]
                for q in queries}
    for q in queries:
        q.stop()

    # open-loop samples: rows of events due after the warm-up
    lat_ms, tail_batches, late_at_end, sink_rows = [], [], 0, 0
    probe_done: dict[tuple[int, str], float] = {}
    for name in w.latency_sinks:
        for ident, due_us, epoch in w.samples(sink, name):
            done = sink.commits[(name, epoch)]
            if ident >= PROBE_ID:
                k = (ident - PROBE_ID) // PROBE_N
                probe_done[(k, name)] = max(probe_done.get((k, name), 0.0),
                                            done)
            if not OPEN_ID <= ident < BACKLOG_ID:
                continue
            sink_rows += 1
            due = loop.t0 + due_us / 1e6
            if name == w.latency_sinks[-1] and due < open_end < done:
                late_at_end += 1
            if due_us >= WARMUP_S * 1e6:
                lat_ms.append((done - due) * 1e3)
                tail_batches.append(((done - due) * 1e3, name, epoch))
    open_loop = summarize(lat_ms)
    p95 = percentile(lat_ms, 0.95)
    open_loop["micro-batches at or beyond p95"] = len(
        {(n, e) for v, n, e in tail_batches if v >= p95})
    b.notes["open_loop_latency_ms"] = open_loop
    probe_ms = {key: (done - probe_t[key[0]]) * 1e3
                for key, done in sorted(probe_done.items())}
    b.notes["probe_ms"] = {name: [round(v, 1) for (_, n), v in
                                  probe_ms.items() if n == name]
                           for name in w.latency_sinks}
    attempted, failed = w.check(b, sink,
                                [warm, opened, *probes, backlog])
    phase_t.append(("check", time.perf_counter()))
    b.notes["phase_s"] = {name: round(t - t_prev, 2) for (_, t_prev), (name, t)
                          in zip(phase_t, phase_t[1:])}

    out = {
        "attempted": attempted, "failed": failed,
        "setup_s": setup_s,
        "latency_ms": list(probe_ms.values()),
        "latency_unit": f"probe x sink samples of {len(probes)} "
                        "closed-loop probes",
        "throughput_name": "drain_per_s",
        "throughput": drain_rate,
        "throughput_unit": "events/s" if w.name == "stream_pipeline"
        else "commands/s",
        "ops": sum(len(v) for v in progress.values()),
        "compile_traces": [f"setup-{k}" for k in range(SETUPS)],
    }
    if tracer.enabled:
        out["layers"] = stream_layers(b, sink, progress, loop, late_at_end,
                                      sum(t.num_rows for t in opened.values()))
        out["layers"]["sink.rows"] = sink_rows
    return out


def stream_layers(b, sink, progress, loop, late_at_end, n_open) -> dict:
    """Per-micro-batch means of the streaming progress reports, sink and
    generator figures."""
    batches = [p for ps in progress.values() for p in ps]
    n = max(len(batches), 1)

    def mean_duration(key):
        return sum(p["durationMs"].get(key, 0) for p in batches) / n

    state = [s for ps in progress.values() if ps
             for s in ps[-1].get("stateOperators", [])]
    return {
        "streaming.batches": len(batches),
        "streaming.rows_per_batch":
            sum(p["numInputRows"] for p in batches) / n,
        "streaming.trigger_ms": mean_duration("triggerExecution"),
        "streaming.query_planning_ms": mean_duration("queryPlanning"),
        "streaming.latest_offset_ms": mean_duration("latestOffset"),
        "streaming.get_batch_ms": mean_duration("getBatch"),
        "streaming.add_batch_ms": mean_duration("addBatch"),
        "streaming.wal_commit_ms": mean_duration("walCommit"),
        "streaming.commit_offsets_ms": mean_duration("commitOffsets"),
        "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
        "streaming.state_bytes":
            sum(s.get("memoryUsedBytes", 0) for s in state),
        "streaming.state_commit_ms": sum(
            s.get("commitTimeMs", 0) for p in batches
            for s in p.get("stateOperators", [])) / n,
        "sink.write_ms": sum(sink.write_ms) / max(len(sink.write_ms), 1),
        "sink.retries": sum(c - 1 for c in sink.calls.values()),
        "gen.lag_p95_ms": percentile(loop.lags_ms, 0.95),
        "gen.events": n_open,
        "source.backlog_end": late_at_end,
        "ops": len(batches),
    }
