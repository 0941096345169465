"""Golden-test harness: the reference's `test` command semantics
(docs/testing.md; Test.java:429-512 — SURVEY.md §3.3) over the batch
engine.

Folder conventions under ``<app dir>/test``:

  topics/from/<topic>/*.json       input messages (alphabetical order)
  topics/to/<topic>/*.json         expected output messages
  collections/from/<coll>/*.json   collection change-stream inputs
  collections/to/<coll>/*.json     expected collection upserts
  preload/<coll>/*.json            collection contents before the test

The reference runs against real Kafka+Mongo and waits for the expected
message counts; here the same spec executes as a batch plan over
DataFrames built from the fixtures — deterministic and hermetic.
Comparison mirrors the reference: ``_timestamp`` fields stripped
recursively (Test.java:264-276), both sides sorted by
(_id, _seq, _corr, content) (Test.java:212-217), strict list equality or
lenient subset matching (TestAsserters.java:16-98).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from pincette_json_streams_spark.operators.stages import PipelineContext
from pincette_json_streams_spark.plans.planner import Application
from pincette_json_streams_spark.plans.spec import load_applications

__all__ = ["run_app_test", "TestReport"]


@dataclass
class TestReport:
    ok: bool
    diffs: dict[str, str] = field(default_factory=dict)

    def __str__(self):
        if self.ok:
            return "OK"
        return "\n".join(f"{k}: {v}" for k, v in self.diffs.items())


def _read_messages(folder: Path) -> list[dict]:
    out = []
    for f in sorted(folder.glob("*.json")):
        out.append(json.loads(f.read_text()))
    return out


def _df_of(spark: SparkSession, messages: list[dict]) -> DataFrame:
    # schemaless fixtures -> schema inferred over the union of messages
    rdd = spark.sparkContext.parallelize(
        [json.dumps(m) for m in messages], max(len(messages), 1)
    )
    df = spark.read.json(rdd)
    # read.json alphabetizes fields; restore first-seen document order —
    # aggregate event `_ops` derive their op order from it (app36)
    order: list[str] = []
    for m in messages:
        for k in m:
            if k not in order:
                order.append(k)
    cols = [c for c in order if c in df.columns] + \
        [c for c in df.columns if c not in order]
    return df.select(cols)


def _strip(value: Any) -> Any:
    """Drop _timestamp fields and nulls recursively (typed rows surface
    absent JSON fields as nulls; the schemaless contract treats them as
    not present)."""
    if isinstance(value, dict):
        return {
            k: _strip(v)
            for k, v in value.items()
            if k != "_timestamp" and v is not None
        }
    if isinstance(value, list):
        return [_strip(v) for v in value]
    return value


def _sort_key(m: dict):
    return (
        str(m.get("_id", "")),
        str(m.get("_seq", "")),
        str(m.get("_corr", "")),
        json.dumps(m, sort_keys=True),
    )


def _subset(expected: Any, actual: Any) -> bool:
    if isinstance(expected, dict):
        return isinstance(actual, dict) and all(
            k in actual and _subset(v, actual[k])
            for k, v in expected.items()
        )
    if isinstance(expected, list):
        return isinstance(actual, list) and len(expected) == len(actual) \
            and all(_subset(e, a) for e, a in zip(expected, actual))
    return expected == actual


def _compare(expected: list[dict], actual: list[dict],
             lenient: bool) -> Optional[str]:
    exp = sorted((_strip(m) for m in expected), key=_sort_key)
    act = sorted((_strip(m) for m in actual), key=_sort_key)
    if len(exp) != len(act):
        return f"expected {len(exp)} messages, got {len(act)}"
    if lenient:
        for e, a in zip(exp, act):
            if not _subset(e, a):
                return f"no subset match:\n  expected {e}\n  actual {a}"
        return None
    if exp != act:
        for e, a in zip(exp, act):
            if e != a:
                return f"mismatch:\n  expected {e}\n  actual {a}"
        return "ordering mismatch"
    return None


def _fixtures_use_hrefs(test_dir: Path) -> bool:
    from_dir = test_dir / "topics" / "from"
    if not from_dir.is_dir():
        return False
    return any(
        '"href"' in p.read_text()
        for tdir in from_dir.iterdir() if tdir.is_dir()
        for p in tdir.glob("*.json")
    )


def run_app_test(
    spark: SparkSession,
    app_dir: str | Path,
    lenient: bool = False,
    pctx: Optional[PipelineContext] = None,
) -> TestReport:
    """Run one application folder's golden test; -> TestReport."""
    app_dir = Path(app_dir)
    test_dir = app_dir / "test"
    specs = load_applications(app_dir / "application.yaml")

    catalog: dict[str, DataFrame] = {}
    for kind in ("topics", "collections"):
        from_dir = test_dir / kind / "from"
        if from_dir.is_dir():
            for tdir in sorted(from_dir.iterdir()):
                if tdir.is_dir():
                    catalog[tdir.name] = _df_of(
                        spark, _read_messages(tdir))
    preload = test_dir / "preload"
    if preload.is_dir():
        for cdir in sorted(preload.iterdir()):
            if cdir.is_dir():
                catalog[cdir.name] = _df_of(spark, _read_messages(cdir))

    pctx = pctx or PipelineContext()
    pctx.catalog.update(catalog)
    # fixtures that link aggregates by href (app36) need jes resolution;
    # detection is driver-side over the tiny fixture files only — the
    # production opt-in is `resolveHrefs: true` on the aggregate part
    if not pctx.resolve_hrefs:
        pctx.resolve_hrefs = _fixtures_use_hrefs(test_dir)
    outputs: dict[str, DataFrame] = {}
    for spec in specs:
        outputs.update(Application(spec, catalog, pctx).run_batch())

    diffs: dict[str, str] = {}
    for kind in ("topics", "collections"):
        to_dir = test_dir / kind / "to"
        if not to_dir.is_dir():
            continue
        for tdir in sorted(to_dir.iterdir()):
            if not tdir.is_dir():
                continue
            name = tdir.name
            expected = _read_messages(tdir)
            if name not in outputs:
                diffs[name] = "no such output stream"
                continue
            rows = outputs[name].collect()
            actual = []
            for r in rows:
                d = r.asDict(recursive=True)
                # aggregate sinks carry (value JSON, _id): unwrap
                if set(d) <= {"_id", "value"} and isinstance(
                        d.get("value"), str):
                    try:
                        d = json.loads(d["value"])
                    except (TypeError, ValueError):
                        pass
                actual.append(d)
            diff = _compare(expected, actual, lenient)
            if diff:
                diffs[name] = diff
    return TestReport(ok=not diffs, diffs=diffs)
