"""Documentation generators: the reference's `doc` and `dot` subcommands
(Application.java:30-42; CLI spec docs/cli.md) — markdown summaries and
Graphviz topology graphs from an application spec."""

from __future__ import annotations

from pincette_json_streams_spark.plans.spec import validate_application

__all__ = ["to_markdown", "to_dot"]


def to_markdown(spec: dict) -> str:
    """Application spec -> markdown documentation."""
    lines = [f"# {spec.get('application', 'application')}"]
    if spec.get("version"):
        lines.append(f"\nVersion: `{spec['version']}`")
    if spec.get("title"):
        lines.append(f"\n{spec['title']}")
    if spec.get("description"):
        lines.append(f"\n{spec['description']}")
    lines.append("\n## Parts\n")
    lines.append("| name | type | consumes | produces |")
    lines.append("|---|---|---|---|")
    topology = validate_application(spec)
    for w in topology:
        consumes = ", ".join(f"`{n}`" for _, n in w.reads)
        produces = ", ".join(f"`{n}`" for _, n in w.sinks)
        lines.append(
            f"| {w.name} | {w.part['type']} "
            f"| {consumes or '—'} | {produces or '—'} |"
        )
    for w in topology:
        pipeline = w.part.get("pipeline")
        if pipeline:
            lines.append(f"\n### {w.name}\n")
            stages = [next(iter(s)) if isinstance(s, dict) else str(s)
                      for s in pipeline]
            lines.append("Pipeline: " + " → ".join(
                f"`{s}`" for s in stages))
    return "\n".join(lines) + "\n"


def to_dot(spec: dict) -> str:
    """Application spec -> Graphviz digraph of the topology."""
    name = spec.get("application", "application")
    lines = [f'digraph "{name}" {{', "  rankdir=LR;"]
    seen_ext: set[str] = set()

    def ext(kind: str, n: str) -> str:
        node = f"ext_{n}"
        if node not in seen_ext:
            seen_ext.add(node)
            shape = "cylinder" if kind == "collection" else "cds"
            lines.append(f'  "{node}" [label="{n}", shape={shape}];')
        return node

    topology = validate_application(spec)
    producer = {s: w.name for w in topology for s in w.streams}
    for w in topology:
        lines.append(
            f'  "part_{w.name}" [label="{w.name}\\n({w.part["type"]})", '
            f"shape=box];"
        )
    for w in topology:
        node = f"part_{w.name}"
        for kind, n in w.reads:
            src = f"part_{producer[n]}" if kind == "stream" else ext(kind, n)
            lines.append(f'  "{src}" -> "{node}";')
        for kind, n in w.sinks:
            lines.append(f'  "{node}" -> "{ext(kind, n)}";')
    lines.append("}")
    return "\n".join(lines) + "\n"
