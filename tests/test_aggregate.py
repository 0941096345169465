"""Event-sourcing aggregate tests (SURVEY.md §2.8;
reference spec /root/reference/docs/state.md)."""

import json
import math

import pytest

from pincette_json_streams_spark.streaming.aggregate import reduce_commands
from pincette_json_streams_spark.plans.planner import Application

# commands need a principal: no _jwt -> 403 Forbidden (app8 3_error fixture)
JWT = {"_jwt": {"sub": "system"}}


class TestReduceCommands:
    def test_put_command(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "name": "x", "v": 1}],
            None, "app-type",
        )
        purposes = [r["purpose"] for r in out]
        assert purposes == ["command", "aggregate", "event", "event-full",
                            "reply"]
        agg = out[1]["doc"]
        assert agg["_seq"] == 0 and agg["name"] == "x"
        assert agg["_type"] == "app-type"

    def test_seq_increments_and_ops_diff(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "v": 1},
             {**JWT, "_id": "a1", "_command": "put", "v": 2, "w": 9}],
            None, "t",
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert [a["_seq"] for a in aggs] == [0, 1]
        events = [r["doc"] for r in out if r["purpose"] == "event"]
        ops2 = events[1]["_ops"]
        assert {"op": "replace", "path": "/v", "value": 2} in ops2
        assert {"op": "add", "path": "/w", "value": 9} in ops2

    def test_unchanged_put_only_replies(self):
        c = {**JWT, "_id": "a1", "_command": "put", "v": 1}
        out = reduce_commands(None, [c, dict(c)], None, "t")
        purposes = [r["purpose"] for r in out]
        # second identical put -> no new event, just command+reply
        assert purposes == ["command", "aggregate", "event", "event-full",
                            "reply", "command", "reply"]

    def test_delete_command(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "v": 1},
             {**JWT, "_id": "a1", "_command": "delete"}],
            None, "t",
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert aggs[-1]["_deleted"] is True

    def test_patch_command(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "v": 1},
             {**JWT, "_id": "a1", "_command": "patch",
              "_ops": [{"op": "replace", "path": "/v", "value": 5}]}],
            None, "t",
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert aggs[-1]["v"] == 5 and aggs[-1]["_seq"] == 1

    def test_event_full_before_after(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "v": 1},
             {**JWT, "_id": "a1", "_command": "put", "v": 2}],
            None, "t",
        )
        fulls = [r["doc"] for r in out if r["purpose"] == "event-full"]
        assert fulls[1]["_before"]["v"] == 1
        assert fulls[1]["_after"]["v"] == 2


class TestAdmission:
    """Command admission: ACL, _seq lock, validators, preprocessors
    (docs/state.md:53-232)."""

    def test_acl_denies_without_role(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "_jwt": {"sub": "sys0"},
              "v": 1, "_acl": {"put": ["writer"]}},
             {**JWT, "_id": "a1", "_command": "put", "v": 2,
              "_jwt": {"sub": "u1", "roles": ["reader"]}}],
            None, "t",
        )
        replies = [r["doc"] for r in out if r["purpose"] == "reply"]
        assert replies[-1].get("_error") is True
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert len(aggs) == 1 and aggs[0]["v"] == 1

    def test_acl_role_match_and_write_fallback(self):
        state_cmds = [
            {**JWT, "_id": "a1", "_command": "put", "v": 1,
             "_acl": {"write": ["editor"]}},
            # no `patch` entry -> write fallback, role matches
            {**JWT, "_id": "a1", "_command": "patch",
             "_jwt": {"sub": "u1", "roles": ["editor"]},
             "_ops": [{"op": "replace", "path": "/v", "value": 9}]},
        ]
        out = reduce_commands(None, state_cmds, None, "t")
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert aggs[-1]["v"] == 9

    def test_acl_system_bypass(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "v": 1,
              "_acl": {"put": ["writer"]}},
             {**JWT, "_id": "a1", "_command": "put", "v": 2,
              "_acl": {"put": ["writer"]},
              "_jwt": {"sub": "system"}}],
            None, "t",
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert [a["v"] for a in aggs] == [1, 2]

    def test_seq_lock_ignores_stale_command(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "v": 1},
             # instance _seq is 0; a stale _seq -> ignored outright
             {**JWT, "_id": "a1", "_command": "put", "v": 2, "_seq": 5},
             {**JWT, "_id": "a1", "_command": "put", "v": 3, "_seq": 0}],
            None, "t",
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert [a["v"] for a in aggs] == [1, 3]
        purposes = [r["purpose"] for r in out]
        assert purposes.count("reply") == 2  # stale command: no reply at all

    def test_validator_rejects_to_reply(self):
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "qty": 50},
             {**JWT, "_id": "a1", "_command": "put", "qty": 5}],
            None, "t",
            validators={"put": {"conditions": [
                {"qty": {"$lte": 10, "$code": "TOOBIG"}},
            ]}},
        )
        replies = [r["doc"] for r in out if r["purpose"] == "reply"]
        assert replies[0]["_error"] is True
        assert replies[0]["errors"] == [
            {"location": "/qty", "code": "TOOBIG"}]
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert len(aggs) == 1 and aggs[0]["qty"] == 5

    def test_validator_sees_state(self):
        # value may only grow: validator references the current state
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "v": 10},
             {**JWT, "_id": "a1", "_command": "put", "v": 3},
             {**JWT, "_id": "a1", "_command": "put", "v": 20}],
            None, "t",
            validators={"put": {"conditions": [
                {"$expr": {"$or": [
                    {"$eq": [{"$ifNull": ["$_state.v", None]}, None]},
                    {"$gt": ["$v", "$_state.v"]},
                ]}, "v": {"$exists": True}},
            ]}},
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert [a["v"] for a in aggs] == [10, 20]

    def test_mistyped_command_gets_error_reply(self):
        # a string where the validator compares with a number is outside
        # the number bracket: a failed condition, not a TypeError
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "put", "amount": "x"},
             {**JWT, "_id": "a1", "_command": "put", "amount": 5}],
            None, "t",
            validators={"put": {"conditions": [{"amount": {"$gte": 0}}]}},
        )
        replies = [r["doc"] for r in out if r["purpose"] == "reply"]
        assert replies[0]["_error"] is True
        assert replies[0]["errors"] == [{"location": "/amount",
                                         "code": None}]
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert [a["amount"] for a in aggs] == [5]

    def test_reducer_exception_gets_error_reply(self):
        def reducer(state, cmd):
            if cmd.get("bad"):
                raise ValueError("cannot fold")
            return {**state, "n": state.get("n", 0) + 1}

        cmds = [{**JWT, "_id": "a1", "_command": "bump", "bad": True},
                {**JWT, "_id": "a1", "_command": "bump"}]
        out = reduce_commands(None, cmds, reducer, "t")
        replies = [r["doc"] for r in out if r["purpose"] == "reply"]
        assert replies[0]["_error"] is True
        assert replies[0]["message"] == "ValueError: cannot fold"
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert [a["n"] for a in aggs] == [1]
        # lenient: the failing reducer is a no-op, not an error
        out = reduce_commands(None, cmds, reducer, "t", lenient=True)
        assert not any(r["doc"].get("_error") for r in out)
        assert [r["doc"]["n"] for r in out
                if r["purpose"] == "aggregate"] == [1]

    def test_jslt_script_reducer(self):
        from pincette_json_streams_spark.streaming.reducers import (
            pipeline_reducer,
        )
        reducer = pipeline_reducer({"scale": {"jslt":
            '{"_id": .command._id, "v": .command.v * 3}'}})
        out = reduce_commands(
            None, [{**JWT, "_id": "a1", "_command": "scale", "v": 7}],
            reducer, "t",
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert aggs[0]["v"] == 21

    def test_jq_script_reducer(self):
        from pincette_json_streams_spark.streaming.reducers import (
            pipeline_reducer,
        )
        reducer = pipeline_reducer(
            {"add": '.state + {v: ((.state.v // 0) + .command.inc)}'})
        out = reduce_commands(
            None,
            [{**JWT, "_id": "a1", "_command": "add", "inc": 4},
             {**JWT, "_id": "a1", "_command": "add", "inc": 5}],
            reducer, "t",
        )
        aggs = [r["doc"] for r in out if r["purpose"] == "aggregate"]
        assert [a["v"] for a in aggs] == [4, 9]


class TestApp8Golden:
    """Replicas of the reference's plusminus-counter golden apps
    (src/test/resources/app8/35-39): the SAME command flow through every
    reducer form the reference ships — JSLT scripts with a namespaced
    import (app8), JQ scripts with a module import (app38), Mongo
    pipeline reducers (app37), and $jq/$jslt stage-form pipelines
    (app39) — plus include-chained validators and the $deduplicate
    preprocessor, end to end through the public Application surface."""

    OP_JSLT = "def decr(value) $value - 1\n\ndef incr(value) $value + 1\n"
    OP_JQ = "def decr: . - 1;\ndef incr: . + 1;\n"
    JSLT_PLUS = ('import "common/op.jslt" as op\n'
                 '.state | {"value": op:incr(.value), *: .}')
    JSLT_MINUS = ('import "common/op.jslt" as op\n'
                  '.state | {"value": op:decr(.value), *: .}')
    JSLT_PUT = '.command | {"_command": null, *: .}'
    JQ_PLUS = ('import "common/op.jq" as op;\n'
               '.state + {"value": .state.value | op::incr}')
    JQ_MINUS = ('import "common/op.jq" as op;\n'
                '.state + {"value": .state.value | op::decr}')
    JQ_PUT = '.command | del(._command)'
    PIPE_PLUS = [{"$replaceRoot": {"newRoot": "$state"}},
                 {"$addFields": {"value": {"$add": ["$value", 1]}}}]
    PIPE_MINUS = [{"$replaceRoot": {"newRoot": "$state"}},
                  {"$addFields": {"value": {"$subtract": ["$value", 1]}}}]
    PIPE_PUT = [{"$replaceRoot": {"newRoot": "$command"}},
                {"$unset": "_command"}]
    TYPE_V = {"conditions": [{"_type": "plusminus-counter"}]}
    OPERATOR_V = {"include": [TYPE_V],
                  "conditions": [{"value": {"$exists": False,
                                            "$code": "OPERATOR"}}]}

    REDUCER_FORMS = {
        "app8-jslt": (
            {"plus": {"jslt": JSLT_PLUS}, "minus": {"jslt": JSLT_MINUS},
             "put": {"jslt": JSLT_PUT}},
            {"common/op.jslt": OP_JSLT},
        ),
        "app38-jq": (
            {"plus": JQ_PLUS, "minus": JQ_MINUS, "put": JQ_PUT},
            {"common/op.jq": OP_JQ},
        ),
        "app37-pipeline": (
            {"plus": PIPE_PLUS, "minus": PIPE_MINUS, "put": PIPE_PUT},
            None,
        ),
        "app39-mixed": (
            {"plus": [{"$jq": JQ_PLUS.replace(
                'import "common/op.jq" as op;\n', ''
            ).replace("op::incr", ". + 1")}],
             "minus": [{"$jslt":
                        '.state | {"value": .value - 1, *: .}'}],
             "put": [{"$jslt": JSLT_PUT}]},
            None,
        ),
    }

    def _spec(self, form: str):
        reducers, imports = self.REDUCER_FORMS[form]
        commands = {}
        for name, red in reducers.items():
            commands[name] = {"reducer": red} \
                if not isinstance(red, dict) else dict(red)
            validator = {
                "put": {"include": [self.TYPE_V],
                        "conditions": [{"_command": "put"},
                                       {"value": 0, "$code": "INIT"}]},
            }.get(name) or {
                "include": [self.OPERATOR_V],
                "conditions": [{"_command": name}],
            }
            commands[name]["validator"] = validator
        part = {
            "type": "aggregate",
            "aggregateType": "plusminus-counter",
            "name": "plusminus",
            "preprocessor": [
                {"$deduplicate": {
                    "expression": {"$concat":
                                   ["$_id", "$_corr", "$_command"]},
                    "collection": "plusminus-duplicate-commands",
                    "cacheWindow": 5000}},
            ],
            "commands": commands,
        }
        if imports:
            part["scriptImports"] = imports
        return {"application": "app8", "parts": [part]}

    @pytest.fixture(params=list(REDUCER_FORMS))
    def form(self, request):
        return request.param

    FLOW = [
        # (_id, _corr, _command, value or None)
        ("c1", "k0", "put", 0),
        ("c1", "k1", "plus", None),
        ("c1", "k1", "plus", None),   # duplicate -> preprocessor drop
        ("c1", "k2", "plus", None),
        ("c1", "k3", "minus", None),
        ("c1", "k4", "put", 5),       # INIT violation -> reply error
        ("c1", "k5", "plus", 7),      # OPERATOR violation
        ("c2", "k6", "put", 0),
    ]
    FLOW_SCHEMA = ("_id string, _corr string, _command string, value int, "
                   "_type string, _jwt map<string,string>")

    @classmethod
    def flow_rows(cls):
        return [(i, c, cmd, v, "plusminus-counter", {"sub": "system"})
                for i, c, cmd, v in cls.FLOW]

    def test_plusminus_counter_flow(self, spark, form):
        t = "plusminus-counter"
        commands = spark.createDataFrame(
            self.flow_rows(), self.FLOW_SCHEMA
        ).coalesce(1)  # keep command order deterministic for the fold
        app = Application(self._spec(form), {f"{t}-command": commands})

        aggs = [json.loads(r["value"])
                for r in app.streams[f"{t}-aggregate"].collect()]
        c1 = [a["value"] for a in aggs if a["_id"] == "c1"]
        assert c1 == [0, 1, 2, 1]  # put, plus, plus, minus (dup dropped)
        assert [a["value"] for a in aggs if a["_id"] == "c2"] == [0]

        replies = [json.loads(r["value"])
                   for r in app.streams[f"{t}-reply"].collect()]
        errors = {r["_corr"]: r["errors"][0]["code"]
                  for r in replies if r.get("_error")}
        assert errors == {"k4": "INIT", "k5": "OPERATOR"}

        events = [json.loads(r["value"])
                  for r in app.streams[f"{t}-event"].collect()]
        c1_events = sorted(e["_seq"] for e in events if e["_id"] == "c1")
        assert c1_events == [0, 1, 2, 3]  # no holes in the event log
        assert all(e["_type"] == t for e in events)

    def test_wrong_type_rejected(self, spark):
        t = "plusminus-counter"
        commands = spark.createDataFrame(
            [("c1", "k0", "put", 0, "other-type", {"sub": "system"})],
            "_id string, _corr string, _command string, value int, "
            "_type string, _jwt map<string,string>",
        )
        app = Application(self._spec("app8-jslt"),
                          {f"{t}-command": commands})
        replies = [json.loads(r["value"])
                   for r in app.streams[f"{t}-reply"].collect()]
        assert replies[0]["_error"] is True
        assert app.streams[f"{t}-aggregate"].count() == 0


class TestAggregatePart:
    def test_batch_aggregate(self, spark):
        commands = spark.createDataFrame(
            [("a1", "put", 10, {"sub": "system"}),
             ("a2", "put", 5, {"sub": "system"}),
             ("a1", "put", 20, {"sub": "system"})],
            "_id string, _command string, v int, _jwt map<string,string>",
        )
        app = Application(
            {"application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "cart"},
            ]},
            {"shop-cart-command": commands},
        )
        aggs = app.streams["shop-cart-aggregate"].collect()
        by_id = {}
        for r in aggs:
            doc = json.loads(r["value"])
            by_id.setdefault(doc["_id"], []).append(doc)
        assert [d["v"] for d in by_id["a1"]] == [10, 20]
        assert [d["_seq"] for d in by_id["a1"]] == [0, 1]
        assert by_id["a2"][0]["v"] == 5

        events = app.streams["shop-cart-event"].collect()
        assert all("_ops" in json.loads(r["value"]) for r in events)

    def test_mistyped_command_in_batch_part(self, spark):
        commands = spark.createDataFrame(
            [("a1", "put", "x", {"sub": "system"}),
             ("a1", "put", None, {"sub": "system"})],
            "_id string, _command string, amount string, "
            "_jwt map<string,string>",
        ).coalesce(1)
        app = Application(
            {"application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "cart",
                 "commands": {"put": {"validator": {"conditions": [
                     {"amount": {"$gte": 0}}]}}}},
            ]},
            {"shop-cart-command": commands},
        )
        errors = [json.loads(r["value"]) for r in
                  app.streams["shop-cart-reply"].collect()
                  if json.loads(r["value"]).get("_error")]
        assert [e["errors"] for e in errors] == [
            [{"location": "/amount", "code": None}]]
        assert app.streams["shop-cart-aggregate"].count() == 1

    def test_unique_expression_converges_instances(self, spark):
        """Distinct _ids sharing a business key fold into ONE instance
        whose _id is the first command's (docs/state.md:176-197)."""
        commands = spark.createDataFrame(
            [("c1", "put", "alice", 1, {"sub": "system"}),
             ("c2", "put", "alice", 2, {"sub": "system"}),
             ("c3", "put", "bob", 7, {"sub": "system"})],
            "_id string, _command string, user string, v int, "
            "_jwt map<string,string>",
        )
        app = Application(
            {"application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "acct",
                 "uniqueExpression": "$user"},
            ]},
            {"shop-acct-command": commands},
        )
        aggs = [json.loads(r["value"])
                for r in app.streams["shop-acct-aggregate"].collect()]
        by_user = {}
        for d in aggs:
            by_user.setdefault(d["user"], []).append(d)
        assert len({d["_id"] for d in by_user["alice"]}) == 1
        assert sorted(d["_seq"] for d in by_user["alice"]) == [0, 1]
        assert by_user["bob"][0]["_seq"] == 0


# MongoDB's answers for array fields and $not; the row matcher
# (streaming/reducers._match_doc) runs inside the aggregate fold
MATCHER_CASES = [
    ({"a": {"$in": [2, 3]}}, {"a": [1, 2]}, True),
    ({"a": 2}, {"a": [1, 2]}, True),
    ({"a": {"$nin": [2]}}, {"a": [1, 2]}, False),
    ({"a": {"$not": {"$gt": 0}}}, {"a": -1}, True),
    ({"a": {"$not": {"$gt": 0}}}, {"a": 1}, False),
    ({"a": {"$ne": 2}}, {"a": [1, 2]}, False),
    ({"a": {"$gt": 4}}, {"a": [1, 5]}, True),
    ({"a": [1, 2]}, {"a": [1, 2]}, True),
]

# Where the Column compiler (operators/match.py, expressions.py)
# answers differently from the row interpreter, and why.  A typed array
# column cannot be compared with a scalar, so those queries fail to bind
# instead of matching element-wise.  A typed column holds a missing
# field as NULL, a column of one type cannot order values of two, and
# Spark orders NaN above every number, where MongoDB orders it below.
KNOWN_DIFFERENCES = [
    ({"a": {"$in": [2, 3]}}, "array<bigint>", "raises: IN of an array "
     "column and scalars does not bind"),
    ({"a": 2}, "array<bigint>", "raises: <=> of an array column and a "
     "scalar does not bind"),
    ({"a": {"$nin": [2]}}, "array<bigint>", "raises: as $in"),
    ({"$expr": {"$gte": ["$a", None]}}, "bigint", "missing is NULL: "
     "MongoDB orders a missing field below null"),
    ({"$expr": {"$eq": ["$a", None]}}, "bigint", "missing is NULL: "
     "as $gte"),
    ({"$expr": {"$gt": ["$a", 1]}}, "string", "fails at run time: the "
     "comparison casts the string to a number; MongoDB orders strings "
     "above numbers"),
    ({"$expr": {"$lt": ["$a", 1]}}, "double", "NaN: Spark orders it "
     "above every double"),
    ({"$expr": {"$eq": [{"$max": ["$a", 1]}, 1]}}, "double", "NaN: "
     "greatest() picks it"),
]

# the value of ``a`` each known difference is checked on, by its type;
# None is a field the row side's document does not hold
KNOWN_VALUES = {"array<bigint>": [1, 2], "bigint": None,
                "double": math.nan, "string": "x"}

# MongoDB's values for expression comparisons and $max/$min where an
# operand is null or missing, checked on both sides
EXPR_CASES = [
    ({"$gt": ["$a", None]}, {"a": 5}, True),
    ({"$gt": ["$a", None]}, {"a": None}, False),
    ({"$gte": ["$a", None]}, {"a": None}, True),
    ({"$lt": ["$a", 1]}, {"a": None}, True),
    ({"$lte": [1, "$a"]}, {"a": None}, False),
    ({"$gt": ["$a", "$n"]}, {"a": 2, "n": 1}, True),
    ({"$cmp": ["$a", 1]}, {"a": None}, -1),
    ({"$cmp": ["$a", 1]}, {}, -1),
    ({"$cmp": [1, "$a"]}, {}, 1),
    ({"$cmp": ["$a", "$n"]}, {"a": None, "n": None}, 0),
    ({"$eq": ["$a", "$n"]}, {"a": None, "n": None}, True),
    ({"$ne": ["$a", None]}, {"a": 0}, True),
    ({"$max": ["$a", "$n"]}, {"a": 3, "n": None}, 3),
    ({"$min": ["$a", "$n"]}, {"a": None, "n": 4}, 4),
    ({"$max": ["$a", "$n"]}, {}, None),
    ({"$min": ["$a", "$n", 2]}, {"a": 5, "n": 1}, 1),
    ({"$max": "$xs"}, {"xs": [1, None, 7]}, 7),
    ({"$min": ["$xs"]}, {"xs": [4, None, 2]}, 2),
]
EXPR_COLUMNS = "a bigint, n bigint, xs array<bigint>"


class TestRowMatcher:
    @pytest.mark.parametrize("query,doc,want", MATCHER_CASES)
    def test_mongo_semantics(self, query, doc, want):
        from pincette_json_streams_spark.streaming.reducers import (
            _match_doc,
        )
        assert _match_doc(query, doc) is want

    @pytest.mark.parametrize("query,doc,want", MATCHER_CASES[:4])
    def test_batch_validator(self, spark, query, doc, want):
        (field, crit), = query.items()
        dtype = "array<bigint>" if isinstance(doc["a"], list) else "bigint"
        commands = spark.createDataFrame(
            [("a1", "put", doc["a"], {"sub": "system"})],
            f"_id string, _command string, a {dtype}, "
            "_jwt map<string,string>")
        app = Application(
            {"application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "cart",
                 "commands": {"put": {"validator": {"conditions": [
                     {field: crit}]}}}}]},
            {"shop-cart-command": commands})
        assert (app.streams["shop-cart-aggregate"].count() == 1) is want

    @pytest.mark.parametrize("query,dtype,why", KNOWN_DIFFERENCES)
    def test_known_column_differences(self, spark, query, dtype, why):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        from pincette_json_streams_spark.streaming.reducers import (
            _match_doc,
        )
        value = KNOWN_VALUES[dtype]
        df = spark.createDataFrame([(value,)], f"a {dtype}")
        if why.startswith("raises:"):
            with pytest.raises(UnsupportedExpression):
                compile_pipeline(df, [{"$match": query}], PipelineContext())
            return
        matched = compile_pipeline(df, [{"$match": query}],
                                   PipelineContext())
        if why.startswith("fails at run time:"):
            with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
                matched.count()
            return
        doc = {} if value is None else {"a": value}
        assert (matched.count() == 1) is not _match_doc(query, doc)


class TestExpressionOrder:
    """Expression comparisons follow MongoDB's order on both sides:
    null (and missing) below every value; ``$max``/``$min`` ignore
    nulls."""

    @pytest.mark.parametrize("expr,doc,want", EXPR_CASES)
    def test_row_side(self, expr, doc, want):
        from pincette_json_streams_spark.streaming.reducers import (
            eval_expr,
        )
        got = eval_expr(expr, doc)
        assert (got, type(got)) == (want, type(want))

    def test_column_side(self, spark):
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.expressions import (
            compile_expr,
        )
        names = [f.split()[0] for f in EXPR_COLUMNS.split(", ")]
        df = spark.createDataFrame(
            [tuple(doc.get(n) for n in names) for _, doc, _ in EXPR_CASES],
            EXPR_COLUMNS).coalesce(1)
        rows = df.select(*(compile_expr(e, ctx_for(df)).alias(f"c{i}")
                           for i, (e, _, _) in enumerate(EXPR_CASES))
                         ).collect()
        got = [rows[i][i] for i in range(len(EXPR_CASES))]
        assert got == [want for _, _, want in EXPR_CASES]


class TestHrefs:
    def test_resolve_and_unresolve_walkers(self):
        from pincette_json_streams_spark.streaming.hrefs import (
            href_type, resolve_doc, unresolve_doc,
        )
        states = {"/app/t/a1": {"_id": "a1", "value": 3}}
        doc = {
            "x": 1,
            "other": {"href": "/app/t/a1"},
            "nested": [[{"href": "/app/t/a1"}], {"href": "/app/t/missing"}],
        }
        r = resolve_doc(doc, states.get)
        assert r["other"] == {"_id": "a1", "value": 3, "href": "/app/t/a1"}
        assert r["nested"][0][0]["value"] == 3
        # unresolvable links stay untouched
        assert r["nested"][1] == {"href": "/app/t/missing"}
        # round-trip: unresolve collapses every href carrier back
        u = unresolve_doc(r)
        assert u == {
            "x": 1, "other": {"href": "/app/t/a1"},
            "nested": [[{"href": "/app/t/a1"}],
                       {"href": "/app/t/missing"}],
        }
        assert href_type("/app36/resolve/abc") == "app36-resolve"
        assert href_type("not-a-href") is None
        assert href_type("/a/b") is None

    def test_aggregate_resolves_hrefs_between_instances(self, spark):
        """An add reducer reads a linked instance's state through its
        href (app36 pattern); stored state keeps the bare link."""
        import json as j
        from pincette_json_streams_spark import Application

        cmds = [
            {"_id": "a1", "_command": "put", "_jwt": {"sub": "system"},
             "value": 4},
            {"_id": "b2", "_command": "put", "_jwt": {"sub": "system"},
             "value": 0, "link": {"href": "/shop-acct/a1"}},
        ]
        # hold: "/<app>/<type>/<id>" -> app=shop type=acct
        cmds[1]["link"] = {"href": "/shop/acct/a1"}
        commands = spark.createDataFrame(
            [(j.dumps(c),) for c in cmds], "js string"
        )
        from pyspark.sql import functions as F
        commands = commands.select(
            F.get_json_object("js", "$._id").alias("_id"),
            F.get_json_object("js", "$._command").alias("_command"),
            F.from_json(F.get_json_object("js", "$._jwt"),
                        "sub string").alias("_jwt"),
            F.get_json_object("js", "$.value").cast("int").alias("value"),
            F.from_json(F.get_json_object("js", "$.link"),
                        "href string").alias("link"),
        )
        app = Application(
            {"application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "acct",
                 "resolveHrefs": True,
                 "commands": {
                     "put": {},
                     "add": {"reducer": [
                         {"$replaceWith": "$state"},
                         {"$set": {"value": {"$add": [
                             "$value", "$link.value"]}}},
                     ]},
                 }},
            ]},
            {"shop-acct-command": commands.unionByName(
                spark.createDataFrame(
                    [("b2", "add", {"sub": "system"}, None, None)],
                    commands.schema,
                ), allowMissingColumns=True)},
        )
        aggs = [j.loads(r["value"])
                for r in app.streams["shop-acct-aggregate"].collect()]
        final_b2 = max((d for d in aggs if d["_id"] == "b2"),
                       key=lambda d: d["_seq"])
        # add saw link.value = 4 through the href; stored link stays bare
        assert final_b2["value"] == 4
        assert final_b2["link"] == {"href": "/shop/acct/a1"}


class TestBatchStreamingParity:
    """Differential: the same spec over the same rows gives the same
    aggregate-part outputs through ``Application`` (batch) and
    ``StreamingApp`` (file stream, ``availableNow``)."""

    PUTS = [("a1", "put", "u1", k, 99 - k, {"sub": "system"})
            for k in range(100)]
    PUT_SCHEMA = ("_id string, _command string, user string, v int, "
                  "seq_in int, _jwt map<string,string>")

    @staticmethod
    def _run_both(spark, tmp_path, spec, rows, schema, files=None,
                  fmt="parquet"):
        """-> (batch, streaming) outputs: {stream name: sorted values}.

        ``rows`` go to one ``fmt`` file; ``files`` (lists of rows) instead
        go to one file each, written in list order."""
        from pincette_json_streams_spark.streaming.runtime import (
            StreamingApp,
        )

        agg_type = spec["parts"][0]["aggregateType"]
        full = agg_type if "-" in agg_type \
            else f"{spec['application']}-{agg_type}"
        topic = f"{full}-command"
        d = str(tmp_path / "commands")
        for part in files or [rows]:
            spark.createDataFrame(part, schema).coalesce(1).write.mode(
                "append").format(fmt).save(d)

        batch = Application(spec, {
            topic: spark.read.schema(schema).format(fmt).load(d)})
        app = StreamingApp(spark, spec, {
            topic: spark.readStream.schema(schema).format(fmt).load(d)})
        assert set(app.sinks) == set(batch.run_batch())
        run = tmp_path.name.replace("-", "_")

        def memory(name, df):
            return (df.writeStream.format("memory")
                    .queryName(f"{run}_{name.replace('-', '_')}")
                    .option("checkpointLocation",
                            str(tmp_path / "ckpt" / name)))

        app.run_until_drained(memory)
        # the command purpose is a stream, not a sink: its name is the
        # topic the part reads
        memory(topic, app.app.stream(topic)).trigger(
            availableNow=True).start().awaitTermination(120)

        def values(df):
            return sorted(r["value"] for r in df.collect())

        return ({n: values(df) for n, df in
                 {**batch.run_batch(), topic: batch.stream(topic)}.items()},
                {n: values(spark.table(f"{run}_{n.replace('-', '_')}"))
                 for n in [*app.sinks, topic]})

    def _assert_same(self, spark, tmp_path, spec, rows, schema,
                     files=None, fmt="parquet"):
        want, got = self._run_both(spark, tmp_path, spec, rows, schema,
                                   files, fmt)
        assert got == want
        return want

    @pytest.mark.parametrize("form", list(TestApp8Golden.REDUCER_FORMS))
    def test_app8_forms_with_deduplicate(self, spark, tmp_path, form):
        out = self._assert_same(
            spark, tmp_path, TestApp8Golden()._spec(form),
            TestApp8Golden.flow_rows(), TestApp8Golden.FLOW_SCHEMA)
        # the duplicate k1 plus never reaches the fold, so it is not
        # echoed on the command stream either
        corrs = [json.loads(v)["_corr"]
                 for v in out["plusminus-counter-command"]]
        assert sorted(corrs) == ["k0", "k1", "k2", "k3", "k4", "k5", "k6"]

    def test_unique_expression(self, spark, tmp_path):
        spec = {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct",
             "uniqueExpression": "$user"}]}
        rows = [("c1", "put", "alice", 1, 0, {"sub": "system"}),
                ("c2", "put", "alice", 2, 1, {"sub": "system"}),
                ("c3", "put", "bob", 7, 2, {"sub": "system"})]
        out = self._assert_same(spark, tmp_path, spec, rows,
                                self.PUT_SCHEMA)
        ids = {json.loads(v)["user"]: json.loads(v)["_id"]
               for v in out["shop-acct-aggregate"]}
        assert ids == {"alice": "c1", "bob": "c3"}

    def test_part_preprocessor(self, spark, tmp_path):
        spec = {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct",
             "preprocessor": [{"$match": {"v": {"$lt": 10}}}]}]}
        out = self._assert_same(spark, tmp_path, spec, self.PUTS,
                                self.PUT_SCHEMA)
        assert len(out["shop-acct-aggregate"]) == 10
        assert len(out["shop-acct-command"]) == 10

    def test_bad_commands_keep_the_stream_folding(self, spark, tmp_path):
        """A mistyped command and a reducer that raises each get an
        ``_error`` reply in both modes; the stream keeps running and the
        command after them folds."""
        spec = {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct", "commands": {
                "put": {"validator": {"conditions": [
                    {"amount": {"$gte": 0}}]}},
                "add": '.state + {"v": (.state.v + (.command.n | '
                       'tonumber))}'}}]}
        rows = [("a1", "put", None, None, 0, {"sub": "system"}),
                ("a1", "put", "x", None, 1, {"sub": "system"}),
                ("a1", "add", None, "y", 2, {"sub": "system"}),
                ("a1", "add", None, "3", 3, {"sub": "system"})]
        out = self._assert_same(
            spark, tmp_path, spec, rows,
            "_id string, _command string, amount string, n string, "
            "seq_in int, _jwt map<string,string>")
        errors = sorted(
            (d["_command"], "errors" in d, "message" in d)
            for d in map(json.loads, out["shop-acct-reply"])
            if d.get("_error"))
        assert errors == [("add", False, True), ("put", True, False)]
        states = sorted((json.loads(v) for v in out["shop-acct-aggregate"]),
                        key=lambda d: d["_seq"])
        assert [d.get("v") for d in states] == [None, 3]

    def test_arrival_order_without_order_by(self, spark, tmp_path):
        """100 puts on one instance, no ``orderBy``: both modes fold in
        arrival order and end at the last command's state."""
        spec = {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct"}]}
        out = self._assert_same(spark, tmp_path, spec, self.PUTS,
                                self.PUT_SCHEMA)
        states = sorted((json.loads(v) for v in out["shop-acct-aggregate"]),
                        key=lambda d: d["_seq"])
        assert [d["v"] for d in states] == list(range(100))

    def test_one_sink_set(self, spark, tmp_path):
        """Batch and streaming sink the same set: the aggregate's
        purpose streams but ``command`` (the topic it reads) and the
        toTopic of a part reading one of them."""
        from pincette_json_streams_spark.streaming.runtime import (
            StreamingApp,
        )

        spec = {"application": "shop", "parts": [
            {"type": "stream", "name": "s", "toTopic": "out",
             "fromStream": "shop-acct-event"},
            {"type": "aggregate", "aggregateType": "acct"}]}
        d = str(tmp_path / "commands")
        spark.createDataFrame(self.PUTS[:1], self.PUT_SCHEMA) \
            .write.parquet(d)
        topic = "shop-acct-command"
        batch = Application(spec, {
            topic: spark.read.schema(self.PUT_SCHEMA).parquet(d)})
        app = StreamingApp(spark, spec, {
            topic: spark.readStream.schema(self.PUT_SCHEMA).parquet(d)})
        assert set(app.sinks) == set(batch.run_batch()) == {
            "out", *(f"shop-acct-{p}" for p in
                     ("aggregate", "event", "event-full", "reply"))}

    def test_order_by_is_ignored(self, spark, tmp_path):
        """``orderBy`` does not reorder: a stream cannot fold a command
        ahead of one from an earlier micro-batch, so both modes fold in
        arrival order, and the part compiles with a warning."""
        spec = {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct",
             "orderBy": "seq_in"}]}
        with pytest.warns(UserWarning, match="orderBy"):
            out = self._assert_same(spark, tmp_path, spec, self.PUTS,
                                    self.PUT_SCHEMA)
        states = sorted((json.loads(v) for v in out["shop-acct-aggregate"]),
                        key=lambda d: d["_seq"])
        assert [d["v"] for d in states] == list(range(100))

    @pytest.mark.parametrize("fmt", ["parquet", "json"])
    def test_arrival_order_across_files(self, spark, tmp_path, fmt):
        """Files fold in the order they were written, whatever order the
        scan reads them in (by size, largest first).  Parquet rows order
        by the scan's row index, other formats by an Arrow stamp."""
        spec = {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct"}]}
        first = [("a1", "put", "u1", 0, 0, {"sub": "system"})]
        second = [(f"b{k}", "put", "u2", k, 0, {"sub": "system"})
                  for k in range(50)] + [
            ("a1", "put", "u1", 1, 0, {"sub": "system"})]
        out = self._assert_same(spark, tmp_path, spec, None,
                                self.PUT_SCHEMA, files=[first, second],
                                fmt=fmt)
        a1 = sorted((json.loads(v) for v in out["shop-acct-aggregate"]
                     if json.loads(v)["_id"] == "a1"),
                    key=lambda d: d["_seq"])
        assert [d["v"] for d in a1] == [0, 1]

    def test_preprocessors_rewrite_and_drop(self, spark, tmp_path):
        """A part-level ``$set`` and a per-command ``$set`` reach the
        reducer's state; a per-command ``$match`` drops its command,
        which is then neither folded nor echoed."""
        spec = {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct",
             "preprocessor": [{"$set": {"tag": "pp"}}],
             "commands": {
                 "put": {"preprocessor": [
                     {"$set": {"v10": {"$multiply": ["$v", 10]}}}]},
                 "zap": {"preprocessor": [{"$match": {"v": {"$lt": 0}}}],
                         "reducer": [{"$replaceWith": "$state"},
                                     {"$set": {"zapped": True}}]},
             }}]}
        rows = [("a1", "put", "u1", 1, 0, {"sub": "system"}),
                ("a1", "zap", "u1", 2, 0, {"sub": "system"}),
                ("a2", "put", "u2", 3, 0, {"sub": "system"}),
                ("a1", "put", "u1", 4, 0, {"sub": "system"})]
        out = self._assert_same(spark, tmp_path, spec, rows,
                                self.PUT_SCHEMA)
        states = sorted(((d["_id"], d["v"], d["v10"], d["tag"],
                          d.get("zapped"))
                         for d in map(json.loads,
                                      out["shop-acct-aggregate"])))
        assert states == [("a1", 1, 10, "pp", None),
                          ("a1", 4, 40, "pp", None),
                          ("a2", 3, 30, "pp", None)]
        assert sorted(json.loads(v)["_command"]
                      for v in out["shop-acct-command"]) == ["put"] * 3
