"""Package-wide checks: every public name a module exports resolves, the
pandas UDFs use one idiom (typed ``pandas_udf``), per-row Python maps
use one helper (``map_rows``), and one module reads the part wiring."""

import importlib
import pathlib
import pkgutil

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
