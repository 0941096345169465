"""Application spec front-end: YAML/JSON loading, parameter substitution,
include expansion, validation.

Mirrors the reference's build step (`Common.build`,
/root/reference/src/main/java/net/pincette/json/streams/Common.java:243-279
and Parameters.java:31-153; spec docs/application.md, docs/parameters.md):
the output is one canonical self-contained JSON document per application.
The planner then compiles that document to Spark plans — the extra step the
reference doesn't need because it interprets the spec directly.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from pathlib import Path
from typing import Any

import yaml

__all__ = ["load_application", "load_applications", "substitute_parameters",
           "validate_application", "SpecError", "Wiring", "PURPOSES"]


class SpecError(ValueError):
    pass


# ${NAME}, ${prefix:NAME:suffix}, ${NAME.field.path}
_REF = re.compile(r"\$\{([^}]*)\}")


def _resolve_ref(ref: str, params: dict[str, Any]) -> Any:
    """Resolve one ${...} reference body (docs/parameters.md)."""
    prefix, suffix = "", ""
    body = ref
    if ":" in ref:
        pieces = ref.split(":")
        if len(pieces) == 3:
            prefix, body, suffix = pieces
        elif len(pieces) == 2:
            prefix, body = pieces
    name, _, fieldpath = body.partition(".")
    if name not in params:
        return ""  # absent parameter -> empty string (docs/parameters.md:7)
    val = params[name]
    if fieldpath:
        for seg in fieldpath.split("."):
            if isinstance(val, dict) and seg in val:
                val = val[seg]
            else:
                return ""
    if prefix or suffix:
        return f"{prefix}{val}{suffix}"
    return val


def substitute_parameters(node: Any, params: dict[str, Any]) -> Any:
    """Deep parameter substitution.  A string that IS a single reference is
    replaced by the parameter's JSON value; embedded references only work
    for string-valued parameters (docs/parameters.md:9)."""
    if isinstance(node, str):
        m = _REF.fullmatch(node)
        if m:
            return _resolve_ref(m.group(1), params)
        return _REF.sub(
            lambda mm: str(_resolve_ref(mm.group(1), params)), node
        )
    if isinstance(node, dict):
        return {
            substitute_parameters(k, params): substitute_parameters(v, params)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [substitute_parameters(v, params) for v in node]
    return node


def _fix_yaml11_keys(node: Any) -> Any:
    """YAML 1.1 parses bare ``on``/``off``/``yes``/``no`` KEYS as
    booleans; the reference's join spec uses ``on:`` as a field name
    (docs/join.md).  Map boolean keys back to their spelled form."""
    if isinstance(node, dict):
        return {
            ("on" if k is True else "off" if k is False else k):
                _fix_yaml11_keys(v)
            for k, v in node.items()
        }
    if isinstance(node, list):
        return [_fix_yaml11_keys(v) for v in node]
    return node


def _load_file(path: Path) -> Any:
    text = path.read_text()
    if path.suffix in (".yml", ".yaml"):
        docs = [_fix_yaml11_keys(d) for d in yaml.safe_load_all(text)]
        return docs[0] if len(docs) == 1 else docs
    return json.loads(text)


def _expand_includes(node: Any, base: Path, params: dict[str, Any]) -> Any:
    """Recursively expand file references in parts/pipelines/stages
    (docs/application.md:47-91; Common.java:388-511)."""
    if isinstance(node, str) and node.endswith((".yml", ".yaml", ".json")):
        # only a string that resolves to a real file is an include — a
        # ".json"-suffixed data value (e.g. an $s3Out object key) is data
        if not (base / node).is_file():
            return node
        included = _load_file(base / node)
        return _expand_includes(
            substitute_parameters(included, params), (base / node).parent,
            params,
        )
    if isinstance(node, dict) and set(node) == {"include"}:
        # wrapper form: `include: {file, parameters}` or `include: "f.yml"`
        # (app32/33; docs/application.md:63-78)
        return _expand_includes(node["include"], base, params)
    if isinstance(node, dict) and set(node) <= {"file", "parameters"} \
            and "file" in node:
        inner = dict(params)
        inner.update(node.get("parameters", {}))
        included = _load_file(base / node["file"])
        return _expand_includes(
            substitute_parameters(included, inner),
            (base / node["file"]).parent, inner,
        )
    if isinstance(node, dict):
        return {k: _expand_includes(v, base, params) for k, v in node.items()}
    if isinstance(node, list):
        out = []
        for v in node:
            expanded = _expand_includes(v, base, params)
            # a part file may contain an array of parts -> splice; same
            # for the include-wrapper and {file,...} dict forms (app33)
            was_ref = isinstance(v, str) or (
                isinstance(v, dict)
                and (set(v) == {"include"}
                     or ("file" in v and set(v) <= {"file", "parameters"}))
            )
            if was_ref and isinstance(expanded, list) \
                    and not isinstance(v, list):
                out.extend(expanded)
            else:
                out.append(expanded)
        return out
    return node


def _resolve_params(raw: Any, config: dict[str, Any]) -> dict[str, Any]:
    """Resolve the parameters object: config:/config-json: prefixes, ENV,
    and parameter-to-parameter references (docs/parameters.md)."""
    params: dict[str, Any] = {}
    if isinstance(raw, list):  # list-of-single-key-objects form
        merged = {}
        for entry in raw:
            merged.update(entry)
        raw = merged
    raw = raw or {}
    if "environment" in config:
        params["ENV"] = config["environment"]
    for name, value in raw.items():
        if isinstance(value, str) and value.startswith("config:"):
            params[name] = config.get(value[len("config:"):], "")
        elif isinstance(value, str) and value.startswith("config-json:"):
            v = config.get(value[len("config-json:"):], "")
            params[name] = json.loads(v) if isinstance(v, str) and v else v
        else:
            params[name] = value
    # parameter values may reference other parameters
    for _ in range(5):
        new = {k: substitute_parameters(v, params) for k, v in params.items()}
        if new == params:
            break
        params = new
    return params


def load_application(
    source: str | Path | dict,
    config: dict[str, Any] | None = None,
) -> dict:
    """Load + build one application spec into canonical JSON form."""
    apps = load_applications(source, config)
    if len(apps) != 1:
        raise SpecError(f"expected 1 application, found {len(apps)}")
    return apps[0]


def load_applications(
    source: str | Path | dict,
    config: dict[str, Any] | None = None,
) -> list[dict]:
    config = dict(config or {})
    config.setdefault("environment", os.environ.get("ENV", ""))
    if isinstance(source, (str, Path)):
        base = Path(source).parent
        raw = _load_file(Path(source))
    else:
        base = Path(".")
        raw = source
    docs = raw if isinstance(raw, list) else [raw]
    out = []
    for doc in docs:
        params = _resolve_params(doc.get("parameters"), config)
        built = substitute_parameters(doc, params)
        built = _expand_includes(built, base, params)
        _inline_reducer_scripts(built, base)
        validate_application(built)
        out.append(built)
    return out


_SCRIPT_SUFFIXES = (".jq", ".jslt")
_IMPORT_RE = re.compile(r'import\s+"([^"]+)"')


def _inline_reducer_scripts(spec: dict, base: Path) -> None:
    """Build-time inlining of aggregate reducer script files, the way
    the reference's build command makes deployed apps self-contained
    (Common.java:803-846): a ``reducer: reducers/plus.jslt`` file ref
    becomes the script text (tagged with its language), and the
    scripts' transitive ``import``s are collected into the part's
    ``scriptImports`` keyed by the literal import path."""
    for part in spec.get("parts", []):
        if not isinstance(part, dict) or part.get("type") != "aggregate":
            continue
        imports: dict[str, str] = dict(part.get("scriptImports") or {})

        def scan_imports(text: str, parent: Path) -> None:
            for m in _IMPORT_RE.finditer(text):
                ip = m.group(1)
                if ip not in imports:
                    p = (parent / ip).resolve()
                    imports[ip] = p.read_text()
                    scan_imports(imports[ip], p.parent)

        def load_script(rel: str):
            p = (base / rel).resolve()
            text = p.read_text()
            scan_imports(text, p.parent)
            return {"jslt": text} if rel.endswith(".jslt") else \
                {"jq": text}

        def is_ref(v) -> bool:
            return isinstance(v, str) and v.endswith(_SCRIPT_SUFFIXES)

        for cname, cspec in list(part.get("commands", {}).items()):
            if is_ref(cspec):
                part["commands"][cname] = load_script(cspec)
            elif isinstance(cspec, dict):
                red = cspec.get("reducer")
                if is_ref(red):
                    cspec["reducer"] = load_script(red)
                elif isinstance(red, list):
                    for st in red:
                        if isinstance(st, dict):
                            for k in ("$jq", "$jslt"):
                                if is_ref(st.get(k)):
                                    text = (base / st[k]).resolve() \
                                        .read_text()
                                    scan_imports(
                                        text,
                                        (base / st[k]).resolve().parent,
                                    )
                                    st[k] = text
        if imports:
            part["scriptImports"] = imports


# --------------------------------------------------------------------------
# validation and wiring (Validate.java:141-289; App.java:532-549)
# --------------------------------------------------------------------------

_PART_TYPES = {"stream", "merge", "join", "aggregate"}
# the part-wiring keys, by the kind of thing they name; no other module
# reads them
_FROM = {"topic": "fromTopic", "stream": "fromStream",
         "collection": "fromCollection"}
_FROM_LIST = {"topic": "fromTopics", "stream": "fromStreams",
              "collection": "fromCollections"}
_TO = {"topic": "toTopic", "collection": "toCollection"}
# an aggregate part's purpose streams (docs/state.md:97-127)
PURPOSES = ("aggregate", "command", "event", "event-full", "reply")


@dataclass(frozen=True)
class Wiring:
    """What one part reads and writes.

    ``reads`` are (kind, name) pairs, kind one of topic/stream/collection,
    in source order (a join's left side first).  ``streams`` are the
    named streams the part produces; ``sinks`` are (kind, name) pairs,
    kind topic or collection.  For an aggregate part, ``aggregate`` is
    its full type ``<app>-<type>``: the part reads the
    ``<app>-<type>-command`` topic and produces one
    ``<app>-<type>-<purpose>`` stream per purpose, in ``PURPOSES`` order
    (App.java:532-549 ``addStreams``).  It sinks every purpose but
    ``command``: that stream has the name of the topic the part reads,
    so writing it there would fold every admitted command again; a
    ``fromStream`` consumer still reads it."""

    part: dict
    name: str
    reads: tuple[tuple[str, str], ...]
    streams: tuple[str, ...]
    sinks: tuple[tuple[str, str], ...]
    aggregate: str | None = None


def _single_source(p: dict) -> tuple[str, str] | None:
    srcs = [(kind, p[key]) for kind, key in _FROM.items() if key in p]
    return srcs[0] if len(srcs) == 1 else None


def _wire(p: dict, application: str) -> Wiring:
    t = p.get("type")
    if t not in _PART_TYPES:
        raise SpecError(f"part type must be one of {_PART_TYPES}: {p}")
    if t == "aggregate":
        agg_type = p.get("aggregateType", p.get("name"))
        if not agg_type:
            raise SpecError(f"aggregate part missing 'aggregateType': {p}")
        full = agg_type if "-" in agg_type else \
            f"{p.get('application') or application}-{agg_type}"
        streams = tuple(f"{full}-{purpose}" for purpose in PURPOSES)
        command = ("topic", f"{full}-command")
        return Wiring(p, p.get("name") or agg_type, (command,), streams,
                      tuple(("topic", s) for s in streams
                            if ("topic", s) != command), full)
    if not p.get("name"):
        raise SpecError(f"part missing 'name': {p}")
    if t == "stream":
        src = _single_source(p)
        if src is None:
            raise SpecError(
                f"stream part needs exactly one of {tuple(_FROM.values())}: "
                f"{p}")
        reads = (src,)
    elif t == "merge":
        kinds = [kind for kind, key in _FROM_LIST.items() if key in p]
        reads = tuple((kind, n) for kind in kinds
                      for n in p[_FROM_LIST[kind]])
        if len(kinds) != 1 or not reads:
            raise SpecError(
                f"merge part needs exactly one non-empty source list: {p}")
    else:
        reads = ()
        for side in ("left", "right"):
            s = p.get(side)
            src = _single_source(s) if isinstance(s, dict) else None
            if src is None or "on" not in s:
                raise SpecError(
                    f"join side {side!r} needs exactly one source and 'on'")
            reads += (src,)
    sinks = tuple((kind, p[key]) for kind, key in _TO.items() if key in p)
    return Wiring(p, p["name"], reads, (p["name"],), sinks)


def validate_application(app: dict) -> list[Wiring]:
    """Check ``app`` and decide its wiring: one :class:`Wiring` per part,
    each part after the producers of the streams it reads and in spec
    order otherwise.  A malformed part, an unresolved stream reference
    or a cycle of ``fromStream`` references raises ``SpecError``."""
    if "application" not in app:
        raise SpecError("missing 'application' field")
    parts = app.get("parts")
    if not isinstance(parts, list) or not parts:
        raise SpecError("missing or empty 'parts'")
    wirings = [_wire(p, app["application"]) for p in parts]
    names: set[str] = set()
    producer: dict[str, Wiring] = {}
    for w in wirings:
        if w.name in names:
            raise SpecError(f"duplicate part name {w.name!r}")
        names.add(w.name)
        for s in w.streams:
            if s in producer:
                raise SpecError(f"stream {s!r} produced by parts "
                                f"{producer[s].name!r} and {w.name!r}")
            producer[s] = w
    # stream references must resolve (Validate.java:102-121)
    for w in wirings:
        for kind, name in w.reads:
            if kind == "stream" and name not in producer:
                raise SpecError(f"unresolved stream reference {name!r}")

    order: list[Wiring] = []
    done: set[str] = set()

    def visit(w: Wiring, path: list[str]) -> None:
        if w.name in done:
            return
        if w.name in path:
            cycle = path[path.index(w.name):] + [w.name]
            raise SpecError("fromStream cycle: " + " -> ".join(cycle))
        for kind, name in w.reads:
            if kind == "stream":
                visit(producer[name], path + [w.name])
        done.add(w.name)
        order.append(w)

    for w in wirings:
        visit(w, [])
    return order
