"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--report FILE]

Run from the root of a checkout.  Generates the workload's inputs from
``--seed``, sets the program up, measures for ``--seconds``, checks every
output, and prints one human-readable line per figure followed, as the
last line, by a JSON object: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  ``--report`` also saves the
full result (host figures included) for ``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("stream_pipeline", "aggregate_commands", "curation_batch",
             "pipeline_batch")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
}

PER_LAYER = {
    "plans.load_ms": "ms", "plans.compile_ms": "ms",
    "plans.compile_jobs": "count",
    "operators.compile_ms": "ms", "operators.stages": "count",
    "sources.read_ms": "ms", "sources.read_jobs": "count",
    "functions.call_ms": "ms", "functions.jobs": "count",
    "functions.pair_yield": "ratio",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.broadcast_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.python_ms": "ms",
    "exec.python_rows": "rows",
    "streaming.batches": "count", "streaming.rows_per_batch": "rows",
    "streaming.trigger_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.state_rows": "rows",
    "streaming.state_bytes": "bytes", "streaming.state_commit_ms": "ms",
    "sink.write_ms": "ms", "sink.rows": "rows", "sink.retries": "count",
    "gen.lag_p95_ms": "ms", "gen.events": "count",
    "source.backlog_end": "count",
    "trace.overhead_ms": "ms", "traced.latency_p50_ms": "ms",
    "traced.setup_s": "s",
}


def run_workload(b) -> dict:
    if b.workload in ("stream_pipeline", "aggregate_commands"):
        import streams
        w = (streams.StreamPipeline() if b.workload == "stream_pipeline"
             else streams.AggregateCommands())
        return streams.run(b, w)
    if b.workload == "pipeline_batch":
        import relational
        return relational.run(b)
    import batch
    return batch.run(b)


def collect_layers(b, res: dict) -> dict:
    """Per-layer figures of a traced run.  Spark counters are per op
    (a micro-batch, an app run or a curation pass) of the measured
    phase; span figures are medians over the set-ups (streaming) or the
    ops (batch) that compile the application."""
    import spans

    t0 = time.perf_counter()
    totals, groups = b.counters.jobs()
    sql = b.counters.sql()
    ops = max(res["ops"], 1)
    s = spans.layer_summary(b.tracer, res["compile_traces"], groups)
    load = s.get("spec.load_application.ms", 0.0)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({
        "plans.load_ms": load,
        "plans.compile_ms": s.get("plans.ms", 0.0) - load,
        "plans.compile_jobs": max(s.get("StreamingApp.__init__.jobs", 0),
                                  s.get("Application.__init__.jobs", 0)),
        "operators.compile_ms": s.get("operators.ms", 0.0),
        "operators.stages": s.get("operators.count", 0),
        "sources.read_ms": s.get("sources.ms", 0.0),
        "sources.read_jobs": s.get("sources.jobs", 0),
        "functions.call_ms": s.get("functions.ms", 0.0),
        "functions.jobs": s.get("functions.jobs", 0),
        "traced.latency_p50_ms": statistics.median(res["latency_ms"]),
        "traced.setup_s": statistics.median(res["setup_s"]),
    })
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
              "spill_bytes"):
        out[f"exec.{k}"] = totals[k] / ops
    for k in ("python_ms", "python_rows", "broadcast_bytes"):
        out[f"exec.{k}"] = sql[k] / ops
    out.update({k: v for k, v in res.get("layers", {}).items()
                if k in PER_LAYER})
    out["trace.overhead_ms"] = (b.tracer.overhead_s
                                + time.perf_counter() - t0) * 1e3
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pincette_json_streams_spark")):
        print("perfbench: no pincette_json_streams_spark package next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    import stats

    b = harness.Bench(ROOT, args.workload, args.seed, args.seconds,
                      bool(args.trace))
    before = stats.host_snapshot()
    b.rss.start()
    try:
        b.tracer.install()
        res = run_workload(b)
        b.rss.sample()
        layers = collect_layers(b, res) if args.trace else None
    finally:
        b.tracer.uninstall()
        b.close()
    host = stats.host_noise(before, stats.host_snapshot(), b.cpus)

    lat = stats.summarize(res["latency_ms"])
    rate_name = res["throughput_name"]
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "latency_p50_ms": lat["p50"],
        rate_name: res["throughput"],
        "peak_rss_mb": b.rss.peak_bytes / 2 ** 20,
    }
    print(f"perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}")
    print(f"  setup_s {e2e['setup_s']:.4f} s "
          f"(median of n={len(res['setup_s'])} set-ups: "
          + ", ".join(f"{x:.3f}" for x in res["setup_s"]) + ")")
    tails = ", ".join(f"{k} {v:.1f} ms" for k, v in lat.items()
                      if k.startswith("p"))
    print(f"  latency {tails} (n={lat['n']} {res['latency_unit']})")
    print(f"  {rate_name} {e2e[rate_name]:.2f} {res['throughput_unit']}")
    print(f"  error_rate {res['failed'] / res['attempted']:.6f} "
          f"({res['failed']} failed / {res['attempted']} attempted; base: "
          f"{b.notes.get('check_base', '')})")
    print(f"  peak_rss_mb {e2e['peak_rss_mb']:.1f} MB "
          "(driver JVM + Python driver + Python workers)")
    for k, v in b.notes.items():
        if k != "check_base":
            print(f"  {k} {v}")
    print("  host " + json.dumps(host))
    if layers is not None:
        for k, v in layers.items():
            print(f"  {k} {v:.4f} {PER_LAYER[k]}")
    chosen, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": chosen[k], "unit": units[k]}
                    for k in units},
    }
    if args.report:
        with open(args.report, "w") as f:
            json.dump({**result, "workload": args.workload,
                       "seed": args.seed, "trace": args.trace,
                       "seconds": args.seconds, "host": host,
                       "figures": e2e, "latency": lat,
                       "notes": b.notes}, f, indent=1,
                      default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
