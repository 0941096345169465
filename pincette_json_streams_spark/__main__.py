"""CLI mirroring the reference platform's subcommands
(Application.java:30-42, docs/cli.md):

  build    spec -> canonical self-contained JSON on stdout
  yaml     canonical JSON -> YAML (and back with --json)
  doc      spec -> markdown documentation
  dot      spec -> Graphviz topology graph
  test     run an application folder's golden test (docs/testing.md)
  run      batch-run an app over parquet-backed topics, write sinks
           (epoch 0 of each sink; a second run replaces the outputs)
           (--register also stores the built spec in the registry)
  list     print registered applications (name + version)
  delete   remove an application from the registry (stops it)
  restart  touch an application's _timestamp so workers reload it

The registry is a directory of JSON app documents
(plans/registry.py; default ~/.pincette-json-streams-spark/apps or
$PINCETTE_JSON_STREAMS_REGISTRY) — the local analogue of the
reference's MongoDB applications collection.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path


def _load(path: str):
    from pincette_json_streams_spark.plans.spec import load_applications

    return load_applications(path)


def cmd_build(args) -> int:
    apps = _load(args.spec)
    out = apps[0] if len(apps) == 1 else apps
    print(json.dumps(out, indent=2))
    return 0


def cmd_yaml(args) -> int:
    import yaml

    text = Path(args.spec).read_text()
    if args.to_json:
        print(json.dumps(yaml.safe_load(text), indent=2))
    else:
        print(yaml.safe_dump(json.loads(text), sort_keys=False))
    return 0


def cmd_doc(args) -> int:
    from pincette_json_streams_spark.plans.docgen import to_markdown

    for app in _load(args.spec):
        print(to_markdown(app))
    return 0


def cmd_dot(args) -> int:
    from pincette_json_streams_spark.plans.docgen import to_dot

    for app in _load(args.spec):
        print(to_dot(app))
    return 0


def _session(cpus: str = "4"):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pincette-json-streams-spark-cli")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_test(args) -> int:
    from pincette_json_streams_spark.plans.testing import run_app_test

    spark = _session(args.cpus)
    report = run_app_test(spark, args.app_dir, lenient=args.lenient)
    print(report)
    return 0 if report.ok else 1


def cmd_run(args) -> int:
    from pincette_json_streams_spark.plans.planner import Application
    from pincette_json_streams_spark.streaming.sinks import DirectorySink

    spark = _session(args.cpus)
    data = Path(args.data)
    catalog = {
        p.stem: spark.read.parquet(str(p))
        for p in sorted(data.glob("*.parquet"))
    }
    out_dir = Path(args.out)
    for spec in _load(args.spec):
        if args.register:
            from pincette_json_streams_spark.plans.registry import register

            register(spec, args.registry)
        app = Application(spec, catalog)
        for name, df in app.run_batch().items():
            target = out_dir / spec["application"] / name
            DirectorySink(str(target)).write(df, 0)
            print(f"{spec['application']}/{name}: "
                  f"{spark.read.parquet(str(target)).count()} rows "
                  f"-> {target}")
    return 0


def cmd_list(args) -> int:
    from pincette_json_streams_spark.plans.registry import list_apps

    for name, version in list_apps(args.registry):
        print(f"{name} {version}" if version is not None else name)
    return 0


def cmd_delete(args) -> int:
    from pincette_json_streams_spark.plans.registry import delete_app

    if not delete_app(args.registry, args.application):
        print(f"The application {args.application} doesn't exist.",
              file=sys.stderr)
        return 1
    return 0


def cmd_restart(args) -> int:
    from pincette_json_streams_spark.plans.registry import restart_app

    if not restart_app(args.registry, args.application):
        print(f"The application {args.application} doesn't exist.",
              file=sys.stderr)
        return 1
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="pincette_json_streams_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="spec -> canonical JSON")
    b.add_argument("spec")
    b.set_defaults(fn=cmd_build)

    y = sub.add_parser("yaml", help="JSON <-> YAML")
    y.add_argument("spec")
    y.add_argument("--to-json", action="store_true")
    y.set_defaults(fn=cmd_yaml)

    d = sub.add_parser("doc", help="spec -> markdown")
    d.add_argument("spec")
    d.set_defaults(fn=cmd_doc)

    g = sub.add_parser("dot", help="spec -> Graphviz digraph")
    g.add_argument("spec")
    g.set_defaults(fn=cmd_dot)

    t = sub.add_parser("test", help="run an app folder's golden test")
    t.add_argument("app_dir")
    t.add_argument("--lenient", action="store_true")
    t.add_argument("--cpus", default="4")
    t.set_defaults(fn=cmd_test)

    from pincette_json_streams_spark.plans.registry import default_registry

    r = sub.add_parser("run", help="batch-run over parquet topics")
    r.add_argument("spec")
    r.add_argument("--data", required=True,
                   help="directory of <topic>.parquet files")
    r.add_argument("--out", required=True)
    r.add_argument("--cpus", default="4")
    r.add_argument("--register", action="store_true",
                   help="also store the built spec in the registry")
    r.add_argument("--registry", default=default_registry())
    r.set_defaults(fn=cmd_run)

    ls = sub.add_parser("list", help="list registered applications")
    ls.add_argument("--registry", "-c", default=default_registry())
    ls.set_defaults(fn=cmd_list)

    de = sub.add_parser("delete", help="remove an app from the registry")
    de.add_argument("--application", "-a", required=True)
    de.add_argument("--registry", "-c", default=default_registry())
    de.set_defaults(fn=cmd_delete)

    re_ = sub.add_parser("restart",
                         help="touch an app so workers reload it")
    re_.add_argument("--application", "-a", required=True)
    re_.add_argument("--registry", "-c", default=default_registry())
    re_.set_defaults(fn=cmd_restart)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
