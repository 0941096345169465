"""Package-wide checks: every public name a module exports resolves, the
pandas UDFs use one idiom (typed ``pandas_udf``), per-row Python maps
use one helper (``map_rows``), one module reads the part wiring, the
sketch search family builds its band postings, XOR/popcount and rank
tail in one place each, micro-batch writers start only in the sink
layer, grouped Python calls go through one helper (``map_groups``),
and the extension-stage table agrees with its functions and its
doc."""

import importlib
import inspect
import pathlib
import pkgutil
import re

import pincette_json_streams_spark as pkg

ROOT = pathlib.Path(pkg.__file__).parent


def test_every_all_entry_resolves():
    missing = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(info.name)
        missing += [f"{info.name}.{name}"
                    for name in getattr(mod, "__all__", ())
                    if not hasattr(mod, name)]
    assert missing == []


def test_no_deprecated_pandas_udf_type():
    # PandasUDFType is deprecated: each use warns, and under
    # `from __future__ import annotations` the typed form needs pandas
    # imported at module level so its hints resolve
    offenders = [str(p.relative_to(ROOT)) for p in sorted(ROOT.rglob("*.py"))
                 if "PandasUDFType" in p.read_text(encoding="utf-8")]
    assert offenders == []


def test_per_row_maps_go_through_map_rows():
    # one Python-kernel idiom for per-row maps (functions/rows.map_rows);
    # similarity's per-partition partial sums are not a per-row map
    offenders = [str(p.relative_to(ROOT)) for p in sorted(ROOT.rglob("*.py"))
                 if ".mapInPandas(" in p.read_text(encoding="utf-8")]
    assert offenders == ["functions/similarity.py"]


def test_part_wiring_keys_only_in_spec():
    # what each part reads and writes is decided once, in plans/spec.py
    # (validate_application); other modules use its Wiring
    keys = ("fromTopic", "fromStream", "fromCollection", "fromTopics",
            "fromStreams", "fromCollections", "toTopic", "toCollection")
    offenders = sorted(
        {str(p.relative_to(ROOT)) for p in ROOT.rglob("*.py")
         for key in keys for q in "\"'"
         if f"{q}{key}{q}" in p.read_text(encoding="utf-8")})
    assert offenders == ["plans/spec.py"]


def test_sketch_search_pieces_only_in_shared_helpers():
    # the vector/sketch search family has one band-posting explode
    # (similarity._band_pairs), one XOR/popcount (_xor_popcount) and
    # one per-query rank tail (_top_k); no operator builds its own
    from pincette_json_streams_spark.functions import similarity as sim

    helpers = {'alias("band")': sim._band_pairs,
               'alias("bv")': sim._band_pairs,
               "bit_count(": sim._xor_popcount,
               'Window.partitionBy("query_id")': sim._top_k}
    for pattern, helper in helpers.items():
        hits = {str(p.relative_to(ROOT)): n for p in sorted(ROOT.rglob("*.py"))
                if (n := p.read_text(encoding="utf-8").count(pattern))}
        assert hits == {"functions/similarity.py":
                        inspect.getsource(helper).count(pattern)}, pattern


def test_foreach_batch_only_in_sink_layer():
    # every micro-batch writer goes through streaming.sinks.start_sink,
    # the one place that skips an epoch already written
    from pincette_json_streams_spark.streaming import sinks

    hits = {str(p.relative_to(ROOT)): n for p in sorted(ROOT.rglob("*.py"))
            if (n := p.read_text(encoding="utf-8").count("foreachBatch("))}
    starter = inspect.getsource(sinks.start_sink)
    assert hits == {"streaming/sinks.py": starter.count("foreachBatch(")}


def test_grouped_calls_only_in_map_groups():
    # every grouped Python operator goes through functions.groups.
    # map_groups, which packs the columns it passes through, so no typed
    # payload column is read back from pandas record by record
    from pincette_json_streams_spark.functions import groups

    texts = {str(p.relative_to(ROOT)): p.read_text(encoding="utf-8")
             for p in sorted(ROOT.rglob("*.py"))}
    hits = {path: n for path, text in texts.items()
            if (n := text.count(".applyInPandas"))}
    caller = inspect.getsource(groups.map_groups)
    assert hits == {"functions/groups.py": caller.count(".applyInPandas")}
    assert [p for p, text in texts.items()
            if 'to_dict("records")' in text] == []


def _doc_rows() -> dict[str, tuple[str, set[str]]]:
    """docs/extension_stages.md rows naming one stage -> (its
    "Streaming?" cell, the quoted keys of its spec object, nested ones
    dotted)."""
    rows = {}
    doc = ROOT.parent / "docs" / "extension_stages.md"
    for line in doc.read_text(encoding="utf-8").splitlines():
        cells = [c.strip() for c in re.split(r"(?<!\\)\|", line)[1:-1]]
        stage = re.fullmatch(r"`(\$\w+)`", cells[0]) if cells else None
        if stage is None or len(cells) != 3:
            continue
        obj = re.search(r"`(\{[^`]*)`", cells[2])
        keys, path, last = set(), [], None
        for m in re.finditer(r'"(\w+)"\s*:|([{}])',
                             obj.group(1) if obj else ""):
            if m.group(1):
                last = ".".join(path + [m.group(1)])
                keys.add(last)
            elif m.group(2) == "{":
                path = last.split(".") if last else path
            else:
                path = path[:-1]
        assert stage.group(1) not in rows, f"two rows for {stage.group(1)}"
        rows[stage.group(1)] = (cells[1], keys)
    return rows


def test_extension_table_matches_functions_and_doc():
    # each extension stage's spec keys map onto real parameters, and
    # docs/extension_stages.md lists exactly those keys and says
    # "no"/"batch-only" exactly for the stages that refuse streams
    from pincette_json_streams_spark.operators.stages import EXTENSIONS

    rows = _doc_rows()
    for stage, ext in sorted(EXTENSIONS.items()):
        params = set()
        for name in ext.fns:
            mod, attr = name.rsplit(".", 1)
            fn = getattr(importlib.import_module(f"{pkg.__name__}.functions."
                                                 f"{mod}"), attr)
            params |= set(inspect.signature(fn).parameters)
        assert set(ext.keys.values()) | set(ext.defaults) <= params, stage
        assert stage in rows, f"{stage} has no row of its own"
        streaming, keys = rows[stage]
        assert keys == ext.accepted, (stage, keys ^ ext.accepted)
        batch_only = streaming.lower().startswith(("no", "batch-only"))
        assert batch_only == bool(ext.batch_only), (stage, streaming)
