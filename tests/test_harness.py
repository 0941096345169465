"""Golden-test harness + CLI tests (docs/testing.md conventions,
docs/cli.md subcommands)."""

import json

import pytest

from pincette_json_streams_spark.plans.testing import run_app_test


def write_app(tmp_path, app_yaml, fixtures):
    """fixtures: {relative path under test/: json-serializable}"""
    (tmp_path / "application.yaml").write_text(app_yaml)
    for rel, content in fixtures.items():
        p = tmp_path / "test" / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(content))
    return tmp_path


APP2_STYLE = """\
application: routing
parts:
  - type: stream
    name: zeroes
    fromTopic: in
    toTopic: out1
    pipeline:
      - $match:
          value: 0
          _id:
            $exists: true
  - type: stream
    name: absent
    fromTopic: in
    toTopic: out2
    pipeline:
      - $match:
          value:
            $exists: false
"""


class TestGoldenHarness:
    def test_routing_app_passes(self, spark, tmp_path):
        d = write_app(tmp_path, APP2_STYLE, {
            "topics/from/in/message1.json": {"_id": "A", "value": 0},
            "topics/from/in/message2.json": {"_id": "B"},
            "topics/to/out1/message1.json": {"_id": "A", "value": 0},
            "topics/to/out2/message1.json": {"_id": "B"},
        })
        report = run_app_test(spark, d)
        assert report.ok, str(report)

    def test_mismatch_reported(self, spark, tmp_path):
        d = write_app(tmp_path, APP2_STYLE, {
            "topics/from/in/message1.json": {"_id": "A", "value": 0},
            "topics/to/out1/message1.json": {"_id": "WRONG", "value": 0},
        })
        report = run_app_test(spark, d)
        assert not report.ok
        assert "out1" in report.diffs

    def test_count_mismatch_reported(self, spark, tmp_path):
        d = write_app(tmp_path, APP2_STYLE, {
            "topics/from/in/message1.json": {"_id": "A", "value": 0},
            "topics/to/out1/message1.json": {"_id": "A", "value": 0},
            "topics/to/out1/message2.json": {"_id": "Z", "value": 0},
        })
        report = run_app_test(spark, d)
        assert "expected 2 messages, got 1" in report.diffs["out1"]

    def test_preload_and_lookup(self, spark, tmp_path):
        app = """\
application: enrich
parts:
  - type: stream
    name: s
    fromTopic: in
    toTopic: out
    pipeline:
      - $lookup:
          from: values
          localField: ref
          foreignField: _id
          as: v
          unwind: true
      - $project:
          _id: 1
          label: "$v.label"
"""
        d = write_app(tmp_path, app, {
            "topics/from/in/message1.json": {"_id": "A", "ref": "v1"},
            "preload/values/value1.json": {"_id": "v1", "label": "hello"},
            "topics/to/out/message1.json": {"_id": "A", "label": "hello"},
        })
        report = run_app_test(spark, d)
        assert report.ok, str(report)

    def test_lenient_subset_matching(self, spark, tmp_path):
        app = """\
application: extra
parts:
  - type: stream
    name: s
    fromTopic: in
    toTopic: out
    pipeline:
      - $set:
          extra_field: computed
"""
        d = write_app(tmp_path, app, {
            "topics/from/in/message1.json": {"_id": "A", "v": 1},
            # expected omits extra_field -> only lenient passes
            "topics/to/out/message1.json": {"_id": "A", "v": 1},
        })
        assert not run_app_test(spark, d).ok
        assert run_app_test(spark, d, lenient=True).ok

    def test_timestamps_stripped(self, spark, tmp_path):
        app = """\
application: ts
parts:
  - type: stream
    name: s
    fromTopic: in
    toTopic: out
    pipeline:
      - $set:
          _timestamp: 1234567890
"""
        d = write_app(tmp_path, app, {
            "topics/from/in/message1.json": {"_id": "A"},
            "topics/to/out/message1.json": {"_id": "A"},
        })
        assert run_app_test(spark, d).ok


class TestCli:
    def test_build_doc_dot(self, tmp_path, capsys):
        from pincette_json_streams_spark.__main__ import main

        (tmp_path / "app.yaml").write_text(APP2_STYLE)
        assert main(["build", str(tmp_path / "app.yaml")]) == 0
        built = json.loads(capsys.readouterr().out)
        assert built["application"] == "routing"
        assert main(["doc", str(tmp_path / "app.yaml")]) == 0
        md = capsys.readouterr().out
        assert "# routing" in md and "`$match`" in md
        assert main(["dot", str(tmp_path / "app.yaml")]) == 0
        dot = capsys.readouterr().out
        assert 'digraph "routing"' in dot and '"part_zeroes"' in dot

    def test_run_writes_aggregate_purposes(self, spark, tmp_path, capsys):
        from pincette_json_streams_spark.__main__ import main

        (tmp_path / "app.yaml").write_text(
            "application: shop\n"
            "parts:\n"
            "  - type: aggregate\n"
            "    aggregateType: order\n")
        spark.createDataFrame(
            [("o1", "put", 3, {"sub": "system"})],
            "_id string, _command string, n int, _jwt map<string,string>",
        ).write.parquet(str(tmp_path / "data" / "shop-order-command.parquet"))
        assert main(["run", str(tmp_path / "app.yaml"),
                     "--data", str(tmp_path / "data"),
                     "--out", str(tmp_path / "out")]) == 0
        printed = capsys.readouterr().out
        for purpose in ("aggregate", "event", "event-full", "reply"):
            assert f"shop/shop-order-{purpose}: " in printed
        # the command stream is not written back into the command topic
        assert "shop/shop-order-command: " not in printed
        (state,) = spark.read.parquet(
            str(tmp_path / "out" / "shop" / "shop-order-aggregate")
        ).collect()
        assert json.loads(state["value"])["n"] == 3


class TestRegistry:
    """list/delete/restart registry verbs (Delete.java, ListApps.java,
    Restart.java) against the file-backed local registry."""

    def test_register_list_restart_delete(self, tmp_path, capsys):
        from pincette_json_streams_spark.__main__ import main
        from pincette_json_streams_spark.plans.registry import register

        reg = str(tmp_path / "reg")
        register({"application": "app-b", "version": "2.0",
                  "parts": []}, reg)
        p = register({"application": "app-a", "version": "1.1",
                      "parts": []}, reg)
        ts0 = json.loads(p.read_text())["_timestamp"]

        assert main(["list", "--registry", reg]) == 0
        assert capsys.readouterr().out.splitlines() == \
            ["app-a 1.1", "app-b 2.0"]

        import time
        time.sleep(0.01)
        assert main(["restart", "-a", "app-a", "--registry", reg]) == 0
        assert json.loads(p.read_text())["_timestamp"] > ts0
        # restart must not clobber the spec body
        assert json.loads(p.read_text())["application"] == "app-a"

        assert main(["delete", "-a", "app-a", "--registry", reg]) == 0
        assert main(["list", "--registry", reg]) == 0
        assert capsys.readouterr().out.splitlines() == ["app-b 2.0"]
        # absent app: nonzero rc + reference's message shape
        assert main(["delete", "-a", "nope", "--registry", reg]) == 1
        assert "doesn't exist" in capsys.readouterr().err
        assert main(["restart", "-a", "nope", "--registry", reg]) == 1


class TestFieldEscaping:
    """Mongo-hostile field-name escaping at the storage boundary
    (Common.java:148-150,979-981)."""

    def test_key_roundtrip(self):
        from pincette_json_streams_spark.sources.escape import (
            escape_key,
            unescape_key,
        )
        for raw, esc in [("$set", "_dollar_set"), ("a.b", "a_dot_b"),
                         ("x/y", "x_slash_y"),
                         ("$a.b/c", "_dollar_a_dot_b_slash_c")]:
            assert escape_key(raw) == esc
            assert unescape_key(esc) == raw

    def test_doc_roundtrip(self):
        from pincette_json_streams_spark.sources.escape import (
            escape_doc,
            unescape_doc,
        )
        doc = {"$op": {"a.b": [{"c/d": 1}, 2]}, "plain": True}
        esc = escape_doc(doc)
        assert esc == {"_dollar_op": {"a_dot_b": [{"c_slash_d": 1}, 2]},
                       "plain": True}
        assert unescape_doc(esc) == doc

    def test_columns_roundtrip(self, spark, tmp_path):
        from pincette_json_streams_spark.sources.escape import (
            escape_columns,
            unescape_columns,
        )
        df = spark.createDataFrame([(1, 2)], ["a.b", "$c"])
        esc = escape_columns(df)
        assert esc.columns == ["a_dot_b", "_dollar_c"]
        # escaped frame is parquet-storable; raw one is not
        p = str(tmp_path / "esc.parquet")
        esc.write.parquet(p)
        back = unescape_columns(spark.read.parquet(p))
        assert back.columns == ["a.b", "$c"]
        assert back.collect()[0][0] == 1


class TestBenchContract:
    def test_bench_queries_all_registered(self):
        """Every BENCH_QUERIES name must resolve to a queries() entry —
        a rename can't silently shrink the bench suite."""
        import bench
        import __spark_entry__ as entry
        qs = entry.queries()
        missing = [n for n in bench.BENCH_QUERIES if n not in qs]
        assert not missing, missing

    def test_oracles_cover_queries(self):
        """ZERO rows-only queries: round 4 gave the last four
        (aggregate_fold, per_batching, bpe_encode, emb_pca)
        deterministic SQL-replayable reformulations — every entry has
        a DuckDB oracle twin."""
        import __spark_entry__ as entry
        qs, os_ = entry.queries(), entry.oracle_sql()
        assert sorted(set(qs) - set(os_)) == []
        assert not set(os_) - set(qs)       # no orphan oracles

    def test_bench_record_witnessed(self):
        """Round-9 record-integrity rule: every bench_record.json value
        must be witnessed by the committed bench_witness.json
        pass_detail — records may not undercut the witness min, budgets
        may not exceed the witness median (the round-8 theil_sen_trend
        record carried an unreproducible 0.77 s while its own committed
        pass_detail showed 3.4-4.0 s, and the widened budget hid a real
        plan regression).  The witness is a copy written only by
        scripts/derive_bench_record.py: the driver overwrites
        bench_out.json every round, so auditing that file directly
        reddened CI on an artifact the builder never committed."""
        import os as _os
        import sys as _sys
        _sys.path.insert(0, _os.path.join(_os.path.dirname(
            _os.path.dirname(_os.path.abspath(__file__))), "scripts"))
        from audit_bench_record import audit
        assert audit() == []
