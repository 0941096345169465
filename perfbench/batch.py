"""Batch workload ``curation_batch``: a web-curation application over a
seeded HTML corpus with planted near-duplicates and a link graph.

One op is one pass: load the spec, read the inputs, compile, write the
``clean`` and ``pairs`` sinks ($htmlExtract -> $textFeatures ->
$qualityGate, then $nearDups with an edit-distance verify), resolve the
pairs into clusters with ``connected_components`` and keep one canonical
page per cluster, and rank the link graph with ``pagerank``.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

import checks
import gen
from harness import SETUPS, catalyst_medians

CURATION_SPEC = {
    "application": "curation",
    "parts": [
        {"type": "stream", "name": "clean", "fromTopic": "docs",
         "toTopic": "clean", "pipeline": [
             {"$htmlExtract": {"field": "html"}},
             {"$textFeatures": {"field": "text", "as": "tf"}},
             {"$qualityGate": {"field": "text", "tf": "tf",
                               "num": 1, "den": 2}},
             {"$project": {"doc_id": 1, "url": 1, "text": 1}},
         ]},
        {"type": "stream", "name": "dups", "fromStream": "clean",
         "toTopic": "pairs", "pipeline": [
             {"$nearDups": {"text": "text", "id": "doc_id",
                            "threshold": 0.5,
                            "verify": {"minSim": 0.9}}},
         ]},
    ],
}


DOCS = 240
WARMUP_DOCS = 40


class Pass:
    """One curation pass; ``catalyst`` collects plan phase times when
    tracing."""

    def __init__(self, b, spec_path: str, inputs: str):
        self.b, self.spec_path, self.inputs = b, spec_path, inputs
        self.catalyst: dict[str, float] = {}

    def compile(self):
        from pincette_json_streams_spark import Application
        from pincette_json_streams_spark.plans.spec import load_application
        from pincette_json_streams_spark.sources.tables import load_table

        spark = self.b.session()
        spec = load_application(self.spec_path)
        return Application(spec, {"docs": load_table(spark, self.inputs,
                                                     "docs")})

    def write(self, df, path: str):
        self.b.write_sink(df, path, self.catalyst)

    def run(self, out: str):
        from pyspark.sql import functions as F

        from pincette_json_streams_spark.functions.dedup import (
            connected_components)
        from pincette_json_streams_spark.functions.graph import pagerank
        from pincette_json_streams_spark.sources.tables import load_table

        spark = self.b.session()
        sinks = self.compile().run_batch()
        self.write(sinks["clean"], f"{out}/clean")
        self.write(sinks["pairs"], f"{out}/pairs")
        clean = spark.read.parquet(f"{out}/clean")
        comp = connected_components(spark.read.parquet(f"{out}/pairs"),
                                    nodes=clean.select("doc_id"))
        self.write(comp, f"{out}/clusters")
        canonical = comp.filter(F.col("id") == F.col("cluster_id")) \
            .join(clean, F.col("id") == F.col("doc_id")) \
            .select("doc_id", "url", "text")
        self.write(canonical, f"{out}/canonical")
        self.write(pagerank(load_table(spark, self.inputs, "links")),
                   f"{out}/ranks")


def check(out: str, truth: dict, links) -> tuple[int, int]:
    """Against the generator's ground truth: the gate drops exactly the
    junk pages, every page lands in its original's cluster, one page per
    cluster survives, and the ranks equal a plain-Python PageRank."""
    junk = set(truth["junk"])
    origin = {i: o for i, o in enumerate(truth["origin"]) if i not in junk}
    clean = pq.read_table(f"{out}/clean")["doc_id"].to_pylist()
    clusters = pq.read_table(f"{out}/clusters").to_pydict()
    canonical = pq.read_table(f"{out}/canonical")["doc_id"].to_pylist()
    ranks = pq.read_table(f"{out}/ranks").to_pydict()
    results = [
        checks.check_rows(list(origin), clean),
        checks.check_states(origin, dict(zip(clusters["id"],
                                             clusters["cluster_id"]))),
        checks.check_rows(set(origin.values()), canonical),
        checks.check_pagerank(
            list(zip(links["src"].to_pylist(), links["dst"].to_pylist())),
            dict(zip(ranks["node"], ranks["rank"]))),
    ]
    return sum(a for a, _ in results), sum(f for _, f in results)


def measure_pair_yield(b, out: str) -> dict:
    """Verified near-duplicate pairs per LSH candidate pair, from the
    warm-up pass's outputs (traced runs only: it runs the LSH stage
    again, before the measured phase)."""
    from pincette_json_streams_spark.operators.stages import (
        PipelineContext, compile_pipeline)

    spark = b.session()
    lsh = dict(CURATION_SPEC["parts"][1]["pipeline"][0]["$nearDups"])
    lsh.pop("verify")
    candidates = compile_pipeline(spark.read.parquet(f"{out}/clean"),
                                  [{"$nearDups": lsh}],
                                  PipelineContext()).count()
    n_pairs = pq.read_table(f"{out}/pairs").num_rows
    b.notes["pair_yield_base"] = (f"{n_pairs} verified pairs / "
                                  f"{candidates} LSH candidate pairs")
    return {"functions.pair_yield": n_pairs / max(candidates, 1)}


def write_corpus(b, name: str, docs: int):
    """Generate a corpus of ``docs`` pages into the work directory."""
    pages, links, truth = gen.corpus(b.seed, docs=docs)
    d = b.path(name, "")
    gen.write_table(pages, os.path.join(d, "docs.parquet"))
    gen.write_table(links, os.path.join(d, "links.parquet"))
    return d, pages, links, truth


def run(b) -> dict:
    inputs, docs, links, truth = write_corpus(b, "inputs", DOCS)
    warm_inputs = write_corpus(b, "warmup-inputs", WARMUP_DOCS)[0]
    spec_path = b.write_spec("curation", CURATION_SPEC)
    tracer = b.tracer

    b.session()
    # one untimed pass over a small corpus loads the Python workers and
    # compiles the hot paths
    tracer.trace = "warmup"
    t0 = time.perf_counter()
    Pass(b, spec_path, warm_inputs).run(b.path("warmup"))
    b.notes["warmup_s"] = time.perf_counter() - t0
    if tracer.enabled:
        pair_yield = measure_pair_yield(b, b.path("warmup"))

    # set-up: spec load, source read and compile
    setup_s = []
    for k in range(SETUPS):
        tracer.trace = f"setup-{k}"
        t0 = time.perf_counter()
        Pass(b, spec_path, inputs).compile()
        setup_s.append(time.perf_counter() - t0)

    if b.counters is not None:
        b.counters.mark()
    passes, catalyst, out = [], [], b.path("out")
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < b.seconds or not passes:
        tracer.trace = f"op-{len(passes)}"
        p = Pass(b, spec_path, inputs)
        t0 = time.perf_counter()
        p.run(out)
        passes.append(time.perf_counter() - t0)
        catalyst.append(p.catalyst)
    elapsed = time.perf_counter() - t_start
    attempted, failed = check(out, truth, links)
    b.notes["check_base"] = ("pages gated + pages clustered + canonical "
                             "pages + ranked nodes, against ground truth")
    b.notes["batch_s"] = sorted(passes)
    res = {
        "attempted": attempted, "failed": failed,
        "setup_s": setup_s, "latency_ms": [s * 1e3 for s in passes],
        "latency_unit": "passes",
        "throughput_name": "pages_per_s",
        "throughput": docs.num_rows * len(passes) / elapsed,
        "throughput_unit": "pages/s",
        "ops": len(passes),
        "compile_traces": [f"op-{i}" for i in range(len(passes))],
    }
    if tracer.enabled:
        res["layers"] = {
            "gen.events": docs.num_rows,
            **pair_yield,
            **catalyst_medians(catalyst),
        }
    return res
