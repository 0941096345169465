"""Application spec + planner tests (SURVEY.md §1.1, §3.1;
reference spec /root/reference/docs/application.md, docs/merge.md,
docs/join.md, docs/parameters.md)."""

import pytest

from pincette_json_streams_spark.plans.spec import (
    SpecError,
    load_application,
    substitute_parameters,
    validate_application,
)
from pincette_json_streams_spark.plans.planner import Application


class TestParameters:
    def test_whole_value_substitution(self):
        assert substitute_parameters("${X}", {"X": {"a": 1}}) == {"a": 1}
        assert substitute_parameters("${X}", {"X": 5}) == 5

    def test_embedded_substitution(self):
        assert substitute_parameters("pre-${X}-post", {"X": "mid"}) == \
            "pre-mid-post"

    def test_prefix_suffix_form(self):
        # ${prefix:NAME:suffix} (docs/parameters.md)
        assert substitute_parameters("${v=:X:;}", {"X": "1"}) == "v=1;"

    def test_field_path(self):
        assert substitute_parameters("${X.a.b}", {"X": {"a": {"b": 7}}}) == 7

    def test_absent_is_empty(self):
        assert substitute_parameters("${NOPE}", {}) == ""

    def test_load_with_parameters(self, tmp_path):
        f = tmp_path / "app.yaml"
        f.write_text(
            "application: test\n"
            "parameters:\n  COLL: mycoll\n"
            "parts:\n"
            "  - type: stream\n    name: s1\n"
            "    fromTopic: \"${COLL}\"\n"
            "    pipeline: []\n"
        )
        app = load_application(f)
        assert app["parts"][0]["fromTopic"] == "mycoll"

    def test_include_expansion(self, tmp_path):
        (tmp_path / "pipe.yaml").write_text(
            "- $match:\n    x: ${N}\n"
        )
        (tmp_path / "app.yaml").write_text(
            "application: test\n"
            "parameters:\n  N: 1\n"
            "parts:\n"
            "  - type: stream\n    name: s1\n    fromTopic: t\n"
            "    pipeline: pipe.yaml\n"
        )
        app = load_application(tmp_path / "app.yaml")
        assert app["parts"][0]["pipeline"] == [{"$match": {"x": 1}}]


class TestValidation:
    def test_missing_application(self):
        with pytest.raises(SpecError):
            validate_application({"parts": [{}]})

    def test_bad_part_type(self):
        with pytest.raises(SpecError):
            validate_application(
                {"application": "x",
                 "parts": [{"type": "nope", "name": "a"}]})

    def test_two_sources(self):
        with pytest.raises(SpecError):
            validate_application(
                {"application": "x",
                 "parts": [{"type": "stream", "name": "a",
                            "fromTopic": "t", "fromStream": "s"}]})

    def test_unresolved_stream_ref(self):
        with pytest.raises(SpecError):
            validate_application(
                {"application": "x",
                 "parts": [{"type": "stream", "name": "a",
                            "fromStream": "ghost"}]})

    def test_aggregate_purpose_stream_reference(self):
        # an aggregate part produces its five <app>-<type>-<purpose>
        # streams; a later part may read one of them by name
        order = validate_application(
            {"application": "shop",
             "parts": [{"type": "stream", "name": "s",
                        "fromStream": "shop-order-event"},
                       {"type": "aggregate", "aggregateType": "order"}]})
        assert [w.name for w in order] == ["order", "s"]
        assert order[0].reads == (("topic", "shop-order-command"),)
        assert order[0].streams == tuple(
            f"shop-order-{p}" for p in
            ("aggregate", "command", "event", "event-full", "reply"))

    def test_stream_cycle(self):
        with pytest.raises(SpecError, match="cycle: a -> b -> a"):
            validate_application(
                {"application": "x",
                 "parts": [{"type": "stream", "name": "a",
                            "fromStream": "b"},
                           {"type": "stream", "name": "b",
                            "fromStream": "a"}]})

    def test_duplicate_names(self):
        with pytest.raises(SpecError):
            validate_application(
                {"application": "x",
                 "parts": [{"type": "stream", "name": "a", "fromTopic": "t"},
                           {"type": "stream", "name": "a",
                            "fromTopic": "u"}]})


class TestApplication:
    def test_stream_chain_and_fanout(self, spark, people):
        app = Application(
            {"application": "t", "parts": [
                {"type": "stream", "name": "adults", "fromTopic": "people",
                 "pipeline": [{"$match": {"age": {"$gte": 30}}}]},
                {"type": "stream", "name": "names", "fromStream": "adults",
                 "toTopic": "out",
                 "pipeline": [{"$project": {"_id": 0, "name": 1}}]},
            ]},
            {"people": people},
        )
        out = app.run_batch()["out"]
        assert sorted(r["name"] for r in out.collect()) == \
            ["Alice", "Carol"]

    def test_forward_reference(self, spark, people):
        # a part may reference a later part's stream by name
        app = Application(
            {"application": "t", "parts": [
                {"type": "stream", "name": "second", "fromStream": "first",
                 "toTopic": "out", "pipeline": [{"$count": "n"}]},
                {"type": "stream", "name": "first", "fromTopic": "people",
                 "pipeline": []},
            ]},
            {"people": people},
        )
        assert app.run_batch()["out"].collect()[0]["n"] == 4

    def test_reads_aggregate_purpose_stream(self, spark):
        commands = spark.createDataFrame(
            [("o1", "put", 3, {"sub": "system"}),
             ("o2", "put", 4, {"sub": "system"})],
            "_id string, _command string, n int, _jwt map<string,string>")
        app = Application(
            {"application": "shop", "parts": [
                {"type": "stream", "name": "events", "toTopic": "out",
                 "fromStream": "shop-order-event",
                 "pipeline": [{"$count": "n"}]},
                {"type": "aggregate", "aggregateType": "order"},
            ]},
            {"shop-order-command": commands},
        )
        assert app.run_batch()["out"].collect()[0]["n"] == 2

    def test_command_purpose_is_read_not_sunk(self, spark):
        """The aggregate reads ``<app>-<type>-command``; sinking its
        command purpose under that name would feed every admitted
        command back into the fold.  It stays a stream a part can
        read."""
        commands = spark.createDataFrame(
            [("o1", "put", 3, {"sub": "system"})],
            "_id string, _command string, n int, _jwt map<string,string>")
        spec = {"application": "shop", "parts": [
            {"type": "stream", "name": "echo", "toTopic": "out",
             "fromStream": "shop-order-command",
             "pipeline": [{"$count": "n"}]},
            {"type": "aggregate", "aggregateType": "order"}]}
        (wiring,) = [w for w in validate_application(spec)
                     if w.name == "order"]
        assert ("topic", "shop-order-command") in wiring.reads
        assert "shop-order-command" in wiring.streams
        assert ("topic", "shop-order-command") not in wiring.sinks
        app = Application(spec, {"shop-order-command": commands})
        sinks = app.run_batch()
        assert "shop-order-command" not in sinks
        assert {"shop-order-aggregate", "shop-order-reply"} <= set(sinks)
        assert sinks["out"].collect()[0]["n"] == 1

    def test_merge_part(self, spark, people):
        app = Application(
            {"application": "t", "parts": [
                {"type": "stream", "name": "a", "fromTopic": "people",
                 "pipeline": [{"$match": {"age": {"$lt": 30}}}]},
                {"type": "stream", "name": "b", "fromTopic": "people",
                 "pipeline": [{"$match": {"age": {"$gt": 40}}}]},
                {"type": "merge", "name": "m", "fromStreams": ["a", "b"],
                 "toTopic": "out"},
            ]},
            {"people": people},
        )
        assert app.run_batch()["out"].count() == 3

    def test_join_part(self, spark, people):
        orders = spark.createDataFrame(
            [("o1", "p1"), ("o2", "p2"), ("o3", "p1")],
            "oid string, pid string",
        )
        app = Application(
            {"application": "t", "parts": [
                {"type": "join", "name": "j", "toTopic": "out",
                 "left": {"fromTopic": "people", "on": "$_id"},
                 "right": {"fromTopic": "orders", "on": "$pid"}},
            ]},
            {"people": people, "orders": orders},
        )
        out = app.run_batch()["out"].collect()
        # {_id, left, right} shape (App.java:433-447)
        assert sorted(r["_id"] for r in out) == ["p1", "p1", "p2"]
        assert all(r["left"]["_id"] == r["right"]["pid"] for r in out)
