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
