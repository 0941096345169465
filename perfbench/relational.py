"""Batch workload ``pipeline_batch``: thirty small relational
applications over seeded customer, order, payment and event tables.

Ten templates (filter, group, ``$lookup``, ``$unwind``, ``$facet``,
``$setWindowFields``, a ``join`` part, a ``merge`` part, a two-part
chain and ``$sortByCount``) each give three applications whose
thresholds, regions and kinds are drawn from the seed.  One op is one
application: load its spec, read its sources, compile, and write every
sink as parquet.  Every sink is checked against DuckDB SQL over the same
generated files.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen
from harness import SETUPS, catalyst_medians

TABLES = ("customers", "orders", "payments", "events")
VARIANTS = 3


def _stream(name, source, pipeline, to="out"):
    part = {"type": "stream", "name": name, "pipeline": pipeline}
    part.update(source)
    if to:
        part["toTopic"] = to
    return part


def t_filter(r):
    lo = int(r.integers(500, 5000))
    hi = lo + int(r.integers(1000, 4000))
    return [_stream("big", {"fromTopic": "orders"}, [
        {"$match": {"amount": {"$gte": lo}}},
        {"$addFields": {"band": {"$cond": [{"$gte": ["$amount", hi]}, 2, 1]}}},
        {"$project": {"_id": 0, "order_id": 1, "customer": 1, "band": 1}},
    ])], {"out": (["order_id", "customer", "band"],
                  f"select order_id, customer, case when amount >= {hi} "
                  f"then 2 else 1 end from orders where amount >= {lo}")}


def t_group(r):
    lo = int(r.integers(0, 5000))
    return [_stream("per_customer", {"fromTopic": "orders"}, [
        {"$match": {"amount": {"$gte": lo}}},
        {"$group": {"_id": "$customer", "total": {"$sum": "$amount"},
                    "n": {"$sum": 1}, "top": {"$max": "$amount"}}},
    ])], {"out": (["_id", "total", "n", "top"],
                  f"select customer, sum(amount), count(*), max(amount) "
                  f"from orders where amount >= {lo} group by customer")}


def t_lookup(r):
    region = gen.REGIONS[int(r.integers(0, len(gen.REGIONS)))]
    return [_stream("in_region", {"fromTopic": "orders"}, [
        {"$lookup": {"from": "customers", "localField": "customer",
                     "foreignField": "cust_id", "as": "c", "unwind": True}},
        {"$match": {"c.region": region}},
        {"$project": {"_id": 0, "order_id": 1, "name": "$c.name",
                      "tier": "$c.tier"}},
    ])], {"out": (["order_id", "name", "tier"],
                  "select o.order_id, c.name, c.tier from orders o join "
                  "customers c on o.customer = c.cust_id "
                  f"where c.region = '{region}'")}


def t_unwind(r):
    q = int(r.integers(5, 40))
    return [_stream("per_sku", {"fromTopic": "orders"}, [
        {"$unwind": "$items"},
        {"$group": {"_id": "$items.sku", "qty": {"$sum": "$items.qty"},
                    "lines": {"$sum": 1}}},
        {"$match": {"qty": {"$gte": q}}},
    ])], {"out": (["_id", "qty", "lines"],
                  "select s.sku, sum(s.qty), count(*) from (select "
                  "unnest(items) as s from orders) group by s.sku "
                  f"having sum(s.qty) >= {q}")}


def t_facet(r):
    u = int(r.integers(20, 60))
    return [_stream("summary", {"fromTopic": "events"}, [
        {"$facet": {
            "kinds": [
                {"$group": {"_id": "$kind", "n": {"$sum": 1}}},
                {"$project": {"_id": 0, "s": {"$concat": [
                    "$_id", ":", {"$toString": "$n"}]}}},
            ],
            "early": [
                {"$match": {"user": {"$lt": u}}},
                {"$project": {"_id": 0, "event_id": 1}},
            ],
        }},
    ])], {"out": (["kinds", "early"],
                  "select (select list(s order by s) from (select kind || "
                  "':' || cast(count(*) as varchar) as s from events "
                  "group by kind)), (select coalesce(list(event_id order by "
                  f"event_id), []) from events where user < {u})")}


def t_window(r):
    k = int(r.integers(2, 6))
    return [_stream("first_visits", {"fromTopic": "events"}, [
        {"$setWindowFields": {
            "partitionBy": "$user", "sortBy": {"ts": 1, "event_id": 1},
            "output": {"rn": {"$rowNumber": {}},
                       "running": {"$sum": "$dwell", "window": {
                           "documents": ["unbounded", "current"]}}}}},
        {"$match": {"rn": {"$lte": k}}},
        {"$project": {"_id": 0, "event_id": 1, "user": 1, "rn": 1,
                      "running": 1}},
    ])], {"out": (["event_id", "user", "rn", "running"],
                  "select event_id, user, rn, running from (select "
                  "event_id, user, row_number() over w as rn, sum(dwell) "
                  "over (w rows between unbounded preceding and current "
                  "row) as running from events window w as (partition by "
                  f"user order by ts, event_id)) where rn <= {k}")}


def t_join(r):
    lo = int(r.integers(1000, 8000))
    return [
        _stream("big", {"fromTopic": "orders"},
                [{"$match": {"amount": {"$gte": lo}}}], to=None),
        {"type": "join", "name": "with_customer", "toTopic": "out",
         "left": {"fromStream": "big", "on": "$customer"},
         "right": {"fromTopic": "customers", "on": "$cust_id"}},
    ], {"out": (["_id", "left.order_id", "right.name"],
                "select cast(o.customer as varchar), o.order_id, c.name "
                "from orders o join customers c on o.customer = c.cust_id "
                f"where o.amount >= {lo}")}


def t_merge(r):
    cut = int(r.integers(300, 1500))
    return [
        {"type": "merge", "name": "all", "fromTopics": ["orders", "payments"]},
        _stream("paid", {"fromStream": "all"}, [
            {"$group": {"_id": "$order_id", "n": {"$sum": 1},
                        "paid": {"$max": "$paid"}}},
            {"$match": {"n": {"$gte": 2}, "_id": {"$lt": cut}}},
        ]),
    ], {"out": (["_id", "n", "paid"],
                "select order_id, count(*), max(paid) from (select "
                "order_id, null::bigint as paid from orders union all "
                "select order_id, paid from payments) group by order_id "
                f"having count(*) >= 2 and order_id < {cut}")}


def t_chain(r):
    kind = gen.KINDS[int(r.integers(0, len(gen.KINDS)))]
    return [
        _stream("of_kind", {"fromTopic": "events"}, [
            {"$match": {"kind": kind}},
            {"$lookup": {"from": "customers", "localField": "user",
                         "foreignField": "cust_id", "as": "c",
                         "unwind": True}},
            {"$project": {"_id": 0, "region": "$c.region", "dwell": 1}},
        ], to=None),
        _stream("per_region", {"fromStream": "of_kind"}, [
            {"$group": {"_id": "$region", "dwell": {"$sum": "$dwell"},
                        "n": {"$sum": 1}}},
        ]),
    ], {"out": (["_id", "dwell", "n"],
                "select c.region, sum(e.dwell), count(*) from events e "
                "join customers c on e.user = c.cust_id "
                f"where e.kind = '{kind}' group by c.region")}


def t_count(r):
    kind = gen.KINDS[int(r.integers(0, len(gen.KINDS)))]
    return [_stream("pages", {"fromTopic": "events"}, [
        {"$match": {"kind": {"$ne": kind}}},
        {"$sortByCount": "$page"},
    ])], {"out": (["_id", "count"],
                  "select page, count(*) from events "
                  f"where kind <> '{kind}' group by page")}


TEMPLATES = (t_filter, t_group, t_lookup, t_unwind, t_facet, t_window,
             t_join, t_merge, t_chain, t_count)


def apps(seed: int) -> list[tuple[str, dict, dict]]:
    """(name, spec, {sink: (columns, DuckDB SQL)}) of every application,
    in run order; parameters are drawn from ``seed``."""
    rng = gen.rng_for(seed, 13)
    out = []
    for v in range(VARIANTS):
        for t in TEMPLATES:
            name = f"{t.__name__[2:]}{v}"
            parts, sinks = t(rng)
            out.append((name, {"application": name, "parts": parts}, sinks))
    return out


def sources(spec) -> list[str]:
    """The tables an application reads: its topics and lookups."""
    found = set()
    if isinstance(spec, dict):
        for k, v in spec.items():
            if k in ("fromTopic", "fromTopics", "from"):
                found.update([v] if isinstance(v, str) else v)
            else:
                found.update(sources(v))
    elif isinstance(spec, list):
        for v in spec:
            found.update(sources(v))
    return [t for t in TABLES if t in found]


# -- running and checking ---------------------------------------------------

class App:
    """One application run; ``catalyst`` collects plan phase times when
    tracing."""

    def __init__(self, b, name: str, spec_path: str, inputs: str):
        self.b, self.name = b, name
        self.spec_path, self.inputs = spec_path, inputs
        self.catalyst: dict[str, float] = {}

    def compile(self, tables):
        from pincette_json_streams_spark import Application
        from pincette_json_streams_spark.plans.spec import load_application
        from pincette_json_streams_spark.sources.tables import load_table

        spark = self.b.session()
        spec = load_application(self.spec_path)
        return Application(spec, {t: load_table(spark, self.inputs, t)
                                  for t in tables})

    def run(self, tables, out: str):
        for sink, df in self.compile(tables).run_batch().items():
            self.b.write_sink(df, os.path.join(out, self.name, sink),
                              self.catalyst)


def _column(t: pa.Table, path: str) -> list:
    head, *rest = path.split(".")
    col = t[head].combine_chunks()
    for f in rest:
        col = col.field(f)
    return col.to_pylist()


def _norm(v):
    return tuple(_norm(x) for x in v) if isinstance(v, list) else v


def check(out: str, inputs: str, app_list) -> tuple[int, int]:
    """Every sink of every application against DuckDB SQL over the same
    parquet files: each expected row must be there exactly once."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"create view {t} as select * from read_parquet("
                        f"'{os.path.join(inputs, t + '.parquet')}')")
        attempted = failed = 0
        for name, _, sinks in app_list:
            for sink, (cols, sql) in sinks.items():
                want = [tuple(_norm(v) for v in row)
                        for row in con.execute(sql).fetchall()]
                t = pq.read_table(os.path.join(out, name, sink))
                got = zip(*(map(_norm, _column(t, c)) for c in cols))
                a, f = checks.check_rows(want, got)
                attempted, failed = attempted + a, failed + f
        return attempted, failed
    finally:
        con.close()


def run(b) -> dict:
    inputs = b.path("inputs", "")
    data = gen.shop_tables(b.seed)
    for name, t in data.items():
        gen.write_table(t, os.path.join(inputs, f"{name}.parquet"))
    app_list = apps(b.seed)
    specs = [(name, b.write_spec(name, spec), sources(spec))
             for name, spec, _ in app_list]
    tracer, out = b.tracer, b.path("out")

    b.session()
    # an untimed run of the first ten apps, one per template, loads the
    # hot paths
    n = len(TEMPLATES)
    tracer.trace = "warmup"
    t0 = time.perf_counter()
    for name, path, tables in specs[:n]:
        App(b, name, path, inputs).run(tables, b.path("warmup"))
    b.notes["warmup_s"] = time.perf_counter() - t0

    # set-up k: spec load, source read and compile of the ten apps of
    # variant k
    setup_s = []
    for k in range(SETUPS):
        tracer.trace = f"setup-{k}"
        t0 = time.perf_counter()
        for name, path, tables in specs[k * n:(k + 1) * n]:
            App(b, name, path, inputs).compile(tables)
        setup_s.append(time.perf_counter() - t0)

    if b.counters is not None:
        b.counters.mark()
    app_ms, catalyst, passes = [], [], 0
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < b.seconds or passes < 1:
        for name, path, tables in specs:
            tracer.trace = f"op-{len(app_ms)}"
            a = App(b, name, path, inputs)
            t0 = time.perf_counter()
            a.run(tables, out)
            app_ms.append((time.perf_counter() - t0) * 1e3)
            catalyst.append(a.catalyst)
        passes += 1
    elapsed = time.perf_counter() - t_start
    attempted, failed = check(out, inputs, app_list)
    b.notes["check_base"] = (f"sink rows of {len(app_list)} apps expected "
                             "from DuckDB SQL over the same files")
    b.notes["batch_s"] = [round(sum(app_ms[i:i + len(specs)]) / 1e3, 3)
                          for i in range(0, len(app_ms), len(specs))]
    res = {
        "attempted": attempted, "failed": failed,
        "setup_s": setup_s, "latency_ms": app_ms,
        "latency_unit": "app runs",
        "throughput_name": "apps_per_s",
        "throughput": len(app_ms) / elapsed,
        "throughput_unit": "apps/s",
        "ops": len(app_ms),
        "compile_traces": [f"op-{i}" for i in range(len(app_ms))],
    }
    if tracer.enabled:
        res["layers"] = {
            "gen.events": sum(t.num_rows for t in data.values()),
            **catalyst_medians(catalyst),
        }
    return res
