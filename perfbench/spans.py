"""Traced runs: spans around the calls into each layer of the program,
plus counters read from Spark's own status stores.

Spans are recorded from the benchmark's files only: :meth:`Tracer.install`
wraps the public functions of ``plans``, ``operators``, ``sources``,
``functions`` and ``streaming`` in place, so the program is run as it
ships.  Spans stay in memory; :func:`self_times` turns them into each
layer's self time once the run is over.  Spark's ``catalyst`` and
``exec`` layers are read from outside, through ``queryExecution()``,
the application status store and the SQL status store.
"""

from __future__ import annotations

import contextlib
import functools
import re
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "pincette_json_streams_spark"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    trace: str          # shared by the spans of one set-up, op or batch
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None   # Spark job group of the span's own jobs
    count: int = 0             # work items, e.g. stages compiled


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its child spans
    cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.sid] = (s.end - s.start) - covered
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span below it."""
    below: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            below.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(below.get(s.sid, []))
    return out


class NullTracer:
    """The untraced run: every hook is a no-op."""

    enabled = False
    trace = "setup-0"

    @contextlib.contextmanager
    def span(self, name, layer, count=0):
        yield None

    def install(self):
        pass

    def uninstall(self):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self.trace = "setup-0"
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name, layer, count=0):
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            s = Span(sid, name, layer, self.trace,
                     stack[-1].sid if stack else None, 0.0, count=count)
            self.spans.append(s)
        sc, prev = _context(), None
        # job groups are thread-local in Spark; only the driver's main
        # thread runs the jobs we attribute (streaming jobs carry their
        # query's run id as group instead)
        if sc is not None and threading.current_thread() is \
                threading.main_thread():
            s.group = f"perfbench-{sid}"
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", s.group)
        stack.append(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if s.group is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            self.overhead_s += time.perf_counter() - s.end

    def wrap(self, owner, attr: str, layer: str, counter=None):
        """Replace ``owner.attr`` by a spanned version, and rebind every
        module of the package that imported the same object."""
        orig = getattr(owner, attr)
        tracer = self
        name = f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as s:
                if counter is not None:
                    s.count += counter(args, kwargs)
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and mod is not owner and \
                    getattr(mod, attr, None) is orig:
                self._patched.append((mod, attr, orig))
                setattr(mod, attr, traced)

    def install(self):
        """Span the public entry points of each layer."""
        import importlib

        def mod(name):
            return importlib.import_module(f"{PACKAGE}.{name}")

        planner, spec = mod("plans.planner"), mod("plans.spec")
        stages, tables = mod("operators.stages"), mod("sources.tables")
        runtime = mod("streaming.runtime")
        self.wrap(spec, "load_application", "plans")
        self.wrap(planner.Application, "__init__", "plans")
        self.wrap(runtime.StreamingApp, "__init__", "plans")
        self.wrap(stages, "compile_pipeline", "operators",
                  counter=lambda a, k: len(a[1] if len(a) > 1
                                           else k.get("stages", [])))
        self.wrap(tables, "load_table", "sources")
        self.wrap(runtime, "file_stream_catalog", "streaming")
        self.wrap(runtime, "streaming_aggregate", "streaming")
        self.wrap(runtime.StreamingApp, "start", "streaming")
        for fmod, names in (
            ("functions.dedup", ("minhash_lsh_pairs", "verify_pairs_editdist",
                                 "connected_components",
                                 "prefix_filter_pairs",
                                 "ngram_jaccard_pairs")),
            ("functions.graph", ("pagerank",)),
            ("functions.text", ("with_text_features", "quality_gate_from")),
            ("functions.crawl", ("html_extract",)),
        ):
            m = mod(fmod)
            for n in names:
                self.wrap(m, n, "functions")

    def uninstall(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def _context():
    from pyspark import SparkContext
    return SparkContext._active_spark_context


# -- summaries ------------------------------------------------------------

def layer_summary(tracer: Tracer, traces: list[str],
                  job_groups: dict[str, int]) -> dict[str, float]:
    """Median over ``traces`` (the set-ups or ops a figure describes) of
    each layer's self time, its span count and the Spark jobs its
    spans launched."""
    import statistics

    selfs = self_times(tracer.spans)
    per: dict[str, dict[str, float]] = {t: {} for t in traces}
    for s in tracer.spans:
        if s.trace not in per:
            continue
        d = per[s.trace]
        d[f"{s.layer}.ms"] = d.get(f"{s.layer}.ms", 0.0) + \
            selfs[s.sid] * 1e3
        d[f"{s.layer}.count"] = d.get(f"{s.layer}.count", 0) + s.count
        d[f"{s.layer}.jobs"] = d.get(f"{s.layer}.jobs", 0) + \
            job_groups.get(s.group, 0)
        d[f"{s.name}.ms"] = d.get(f"{s.name}.ms", 0.0) + selfs[s.sid] * 1e3
        d[f"{s.name}.jobs"] = d.get(f"{s.name}.jobs", 0) + \
            sum(job_groups.get(c.group, 0) for c in subtree(tracer.spans, s))
    keys = {k for d in per.values() for k in d}
    return {k: statistics.median([per[t].get(k, 0.0) for t in traces])
            for k in keys} if traces else {}


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s plan, in ms;
    forces physical planning if it has not happened yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    conv = df.sparkSession._jvm.scala.jdk.javaapi.CollectionConverters
    phases = conv.asJava(qe.tracker().phases())
    return {k: float(phases.get(k).durationMs()) for k in phases.keySet()}


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6, "ns": 1e-6}


def parse_metric(text: str) -> float:
    """A value as Spark's SQL status store prints it: '1,024',
    '12 ms', '1.5 KiB', or the 'total (min, med, max ...)' form whose
    second line starts with the total.  Sizes in bytes, times in ms."""
    if text is None:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


# SQL metrics of interest: (node name contains, metric name) -> key
_SQL_METRICS = {
    ("Python", "time to run Python workers"): "python_ms",
    ("InPandas", "time to run Python workers"): "python_ms",
    ("Python", "number of output rows"): "python_rows",
    ("InPandas", "number of output rows"): "python_rows",
    ("BroadcastExchange", "data size"): "broadcast_bytes",
}


class SparkCounters:
    """Jobs, stages, tasks, shuffle and spill bytes from the status
    store, and Python-worker and broadcast figures from the SQL status
    store, for everything that ran after :meth:`mark`.  Each store list
    crosses py4j as one JSON string (the same serialisation Spark's REST
    API uses), not one call per entry."""

    def __init__(self, spark):
        self.spark = spark
        self.first_job = 0
        self.first_execution = 0
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def _json(self, obj):
        import json
        return json.loads(self._mapper.writeValueAsString(obj))

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def mark(self):
        jobs = self._json(self._store().jobsList(None))
        self.first_job = max([j["jobId"] for j in jobs], default=-1) + 1
        execs = self._json(self._sql_store().executionsList())
        self.first_execution = max([e["executionId"] for e in execs],
                                   default=-1) + 1

    def jobs(self) -> tuple[dict[str, float], dict[str, int]]:
        """-> (totals since the mark, jobs per job group over the run).
        Skipped stages (their output was reused) are not counted."""
        store = self._store()
        gw = self.spark.sparkContext._gateway
        stages = {}
        for st in self._json(store.stageList(
                None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            prev = stages.get(st["stageId"])
            if prev is None or st["attemptId"] > prev["attemptId"]:
                stages[st["stageId"]] = st
        tot = {"jobs": 0, "stages": 0, "tasks": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        groups: dict[str, int] = {}
        for j in self._json(store.jobsList(None)):
            if j.get("jobGroup"):
                groups[j["jobGroup"]] = groups.get(j["jobGroup"], 0) + 1
            if j["jobId"] < self.first_job:
                continue
            tot["jobs"] += 1
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is None or st["status"] == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st["numTasks"]
                tot["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                tot["spill_bytes"] += st["memoryBytesSpilled"] + \
                    st["diskBytesSpilled"]
        return tot, groups

    def sql(self) -> dict[str, float]:
        """Python-worker time and rows and broadcast bytes, summed over
        the SQL executions since the mark."""
        store = self._sql_store()
        tot = {"python_ms": 0.0, "python_rows": 0.0, "broadcast_bytes": 0.0}
        for e in self._json(store.executionsList()):
            eid = e["executionId"]
            if eid < self.first_execution:
                continue
            values = self._json(store.executionMetrics(eid))
            todo = list(self._json(store.planGraph(eid))["nodes"])
            while todo:
                node = todo.pop()
                todo.extend(node.get("nodes", []))
                for m in node.get("metrics", []):
                    for (frag, mname), key in _SQL_METRICS.items():
                        if frag in node["name"] and m["name"] == mname:
                            tot[key] += parse_metric(
                                values.get(str(m["accumulatorId"])))
        return tot
