"""The benchmark's tracer (``perfbench/spans.py``) wraps named entry
points of the package in place.  Renaming one of them must fail here
instead of silently breaking a traced benchmark run
(``python3 perfbench/run.py --trace 1``)."""

import importlib.util
import os
import sys

SPANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "perfbench", "spans.py")


def _load_spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    # dataclasses resolve the module's annotations through sys.modules
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return mod


def test_tracer_installs_and_uninstalls():
    from pincette_json_streams_spark.functions import dedup
    from pincette_json_streams_spark.streaming import runtime

    originals = (runtime.streaming_aggregate, dedup.connected_components)
    tracer = _load_spans().Tracer()
    tracer.install()
    try:
        assert runtime.streaming_aggregate is not originals[0]
        assert dedup.connected_components is not originals[1]
    finally:
        tracer.uninstall()
    assert (runtime.streaming_aggregate,
            dedup.connected_components) == originals


def _curation_spec():
    # the benchmark's curation_batch application, read from its source
    # without importing the benchmark's modules
    import ast

    path = os.path.join(os.path.dirname(SPANS), "batch.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    (value,) = [node.value for node in tree.body
                if isinstance(node, ast.Assign)
                and [t.id for t in node.targets] == ["CURATION_SPEC"]]
    return ast.literal_eval(value)


def test_tracer_spans_the_functions_behind_stages(spark):
    """Extension stages look their functions up when they compile, so
    the spans the tracer installs cover the curation pipelines."""
    from pincette_json_streams_spark import Application

    page = ("<html><head><title>T</title></head><body><p>The quick brown "
            "fox jumps over the lazy dog and then the fox runs far away "
            "into the quiet green woods again today.</p></body></html>")
    docs = spark.createDataFrame(
        [(i, f"https://x.example/{i}", page) for i in range(3)],
        "doc_id long, url string, html string")
    tracer = _load_spans().Tracer()
    tracer.install()
    try:
        sinks = Application(_curation_spec(), {"docs": docs}).run_batch()
        assert sinks["clean"].count() == 3
        assert sinks["pairs"].count() == 3
    finally:
        tracer.uninstall()
    names = {s.name for s in tracer.spans}
    assert {"crawl.html_extract", "text.with_text_features",
            "text.quality_gate_from", "dedup.minhash_lsh_pairs",
            "dedup.verify_pairs_editdist"} <= names
