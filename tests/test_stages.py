"""Pipeline-stage tests (SURVEY.md §2.1-2.5;
reference spec /root/reference/docs/aggregation_stages.md)."""

import pytest

from pincette_json_streams_spark.operators.stages import (
    EXTENSIONS,
    PipelineContext,
    compile_pipeline,
)


def run(df, stages, **kw):
    return compile_pipeline(df, stages, PipelineContext(**kw))


def rows(df, stages, **kw):
    return [r.asDict(recursive=True) for r in run(df, stages, **kw).collect()]


class TestProjection:
    def test_project_include(self, people):
        out = rows(people, [{"$project": {"name": 1}}])
        # _id kept by default (docs:468-489)
        assert sorted(out[0]) == ["_id", "name"]

    def test_project_exclude_id(self, people):
        out = rows(people, [{"$project": {"_id": 0, "name": 1}}])
        assert sorted(out[0]) == ["name"]

    def test_project_exclusion_mode(self, people):
        out = rows(people, [{"$project": {"tags": 0, "address": 0}}])
        assert sorted(out[0]) == ["_id", "age", "balance", "name"]

    def test_project_computed(self, people):
        out = rows(people.filter("_id='p1'"),
                   [{"$project": {"_id": 0,
                                  "shout": {"$toUpper": "$name"}}}])
        assert out == [{"shout": "ALICE"}]

    def test_add_fields_nested_and_chained(self, people):
        out = rows(people.filter("_id='p2'"), [
            {"$addFields": {"a": {"$add": ["$age", 1]},
                            "b": {"$multiply": ["$age", 2]}}},
            {"$set": {"c": {"$add": ["$a", "$b"]}}},
        ])
        assert out[0]["a"] == 29 and out[0]["b"] == 56 and out[0]["c"] == 85

    def test_set_nested_path(self, people):
        out = rows(people.filter("_id='p1'"),
                   [{"$set": {"address.country": "BE"}}])
        assert out[0]["address"]["country"] == "BE"
        assert out[0]["address"]["city"] == "Ghent"

    def test_unset(self, people):
        out = rows(people, [{"$unset": ["tags", "address.zip"]}])
        assert "tags" not in out[0]
        assert "zip" not in out[0]["address"]

    def test_replace_root(self, people):
        out = rows(people.filter("_id='p1'"),
                   [{"$replaceRoot": {"newRoot": "$address"}}])
        assert out == [{"city": "Ghent", "zip": "9000"}]

    def test_replace_with_literal_doc(self, people):
        out = rows(people.filter("_id='p1'"),
                   [{"$replaceWith": {"n": "$name", "a": "$age"}}])
        assert out == [{"n": "Alice", "a": 34}]


class TestUnwind:
    def test_unwind(self, people):
        out = rows(people, [{"$unwind": "$tags"},
                            {"$project": {"_id": 1, "tags": 1}}])
        got = sorted((r["_id"], r["tags"]) for r in out)
        assert got == [("p1", "blue"), ("p1", "red"), ("p2", "green"),
                       ("p4", "blue"), ("p4", "blue")]

    def test_unwind_new_ids(self, people):
        out = rows(people, [{"$unwind": {"path": "$tags", "newIds": True}}])
        assert len({r["_id"] for r in out}) == 5  # all fresh UUIDs


class TestGrouping:
    def test_group_accumulators(self, people):
        out = rows(people, [{"$group": {
            "_id": "$age",
            "n": {"$count": {}},
            "total": {"$sum": "$balance"},
            "hi": {"$max": "$balance"},
            "lo": {"$min": "$balance"},
            "names": {"$push": "$name"},
        }}])
        by_id = {r["_id"]: r for r in out}
        assert by_id[28]["n"] == 2
        assert by_id[28]["total"] == pytest.approx(949.74)
        assert sorted(by_id[28]["names"]) == ["Bob", "Dave"]

    def test_group_null_id(self, people):
        out = rows(people, [{"$group": {"_id": None,
                                        "n": {"$count": {}}}}])
        assert out[0]["n"] == 4

    def test_group_doc_id(self, people):
        out = rows(people, [
            {"$group": {"_id": {"a": "$age"}, "n": {"$sum": 1}}}])
        assert {r["_id"]["a"]: r["n"] for r in out} == {34: 1, 28: 2, 41: 1}

    def test_bucket(self, people):
        out = rows(people, [{"$bucket": {
            "groupBy": "$age", "boundaries": [20, 30, 40], "default": -1,
            "output": {"n": {"$sum": 1}}}}])
        assert {r["_id"]: r["n"] for r in out} == {20: 2, 30: 1, -1: 1}

    def test_count(self, people):
        out = rows(people, [{"$count": "total"}])
        assert out == [{"total": 4}]

    def test_deduplicate(self, people):
        out = rows(people, [{"$deduplicate":
                             {"expression": "$age"}}])
        assert len(out) == 3

    def test_per(self, people):
        out = rows(people.coalesce(1),
                   [{"$per": {"amount": 3, "as": "msgs"}}])
        sizes = sorted(len(r["msgs"]) for r in out)
        assert sizes == [1, 3]


class TestLookup:
    def test_lookup_array_and_unwind(self, spark, people):
        orders = spark.createDataFrame(
            [("o1", "p1", 10.0), ("o2", "p1", 5.0), ("o3", "p2", 1.0)],
            "oid string, pid string, amt double",
        )
        out = rows(people, [
            {"$lookup": {"from": "orders", "localField": "_id",
                         "foreignField": "pid", "as": "ords"}},
            {"$project": {"_id": 1, "n": {"$size": "$ords"}}},
        ], catalog={"orders": orders})
        assert {r["_id"]: r["n"] for r in out} == \
            {"p1": 2, "p2": 1, "p3": 0, "p4": 0}

        inner = rows(people, [
            {"$lookup": {"from": "orders", "localField": "_id",
                         "foreignField": "pid", "as": "o", "unwind": True}},
            {"$project": {"_id": 1, "amt": "$o.amt"}},
        ], catalog={"orders": orders})
        assert sorted((r["_id"], r["amt"]) for r in inner) == \
            [("p1", 5.0), ("p1", 10.0), ("p2", 1.0)]

    def test_lookup_inner_array(self, spark, people):
        orders = spark.createDataFrame([("o1", "p1", 1.0)],
                                       "oid string, pid string, amt double")
        out = rows(people, [
            {"$lookup": {"from": "orders", "localField": "_id",
                         "foreignField": "pid", "as": "o", "inner": True}},
        ], catalog={"orders": orders})
        assert [r["_id"] for r in out] == ["p1"]

    def test_lookup_let_pipeline(self, spark, people):
        orders = spark.createDataFrame(
            [("o1", "p1", 10.0), ("o2", "p1", 5.0), ("o3", "p2", 1.0)],
            "oid string, pid string, amt double",
        )
        out = rows(people, [
            {"$lookup": {
                "from": "orders",
                "let": {"me": "$_id"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$$me", "$pid"]}}},
                    {"$match": {"amt": {"$gte": 5}}},
                ],
                "as": "big", "unwind": True}},
            {"$project": {"_id": 1, "amt": "$big.amt"}},
        ], catalog={"orders": orders})
        assert sorted((r["_id"], r["amt"]) for r in out) == \
            [("p1", 5.0), ("p1", 10.0)]

    def test_lookup_let_pipeline_array_equi(self, spark, people):
        """Pure-equi array form takes the group-right-then-join scale
        path; misses must be [] (not null)."""
        orders = spark.createDataFrame(
            [("o1", "p1", 10.0), ("o2", "p1", 5.0), ("o3", "p2", 1.0)],
            "oid string, pid string, amt double",
        )
        out = rows(people, [
            {"$lookup": {
                "from": "orders",
                "let": {"me": "$_id"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$$me", "$pid"]}}},
                ],
                "as": "ords"}},
            {"$project": {"_id": 1, "n": {"$size": "$ords"}}},
        ], catalog={"orders": orders})
        assert {r["_id"]: r["n"] for r in out} == \
            {"p1": 2, "p2": 1, "p3": 0, "p4": 0}

    def test_lookup_let_pipeline_non_equi(self, spark, people):
        """$gt over a let var joins on a range condition — the
        decorrelated non-equi path, both array and unwind forms."""
        thresholds = spark.createDataFrame(
            [("t1", 30.0), ("t2", 40.0), ("t3", 27.0)],
            "tid string, cutoff double",
        )
        out = rows(people, [
            {"$lookup": {
                "from": "thresholds",
                "let": {"a": "$age"},
                "pipeline": [
                    {"$match": {"$expr": {"$gt": ["$$a", "$cutoff"]}}},
                ],
                "as": "beaten"}},
            {"$project": {"_id": 1, "n": {"$size": "$beaten"}}},
        ], catalog={"thresholds": thresholds})
        # ages: p1=34 beats 30,27; p2=28 beats 27; p3=41 beats all; p4=28
        assert {r["_id"]: r["n"] for r in out} == \
            {"p1": 2, "p2": 1, "p3": 3, "p4": 1}

    def test_lookup_let_pipeline_fallback_expr(self, spark, people):
        """A $match whose $expr can't be decomposed into comparisons
        (here $in over an array let var) must become the join condition,
        never a silent cross join."""
        cities = spark.createDataFrame(
            [("c1", "red"), ("c2", "green"), ("c3", "mauve")],
            "cid string, color string",
        )
        out = rows(people, [
            {"$lookup": {
                "from": "cities",
                "let": {"t": "$tags"},
                "pipeline": [
                    {"$match": {"$expr": {"$in": ["$color", "$$t"]}}},
                ],
                "as": "matched"}},
            {"$project": {"_id": 1, "n": {"$size": "$matched"}}},
        ], catalog={"cities": cities})
        # tags: p1=[red,blue]->c1; p2=[green]->c2; p3=[]; p4=[blue,blue]
        assert {r["_id"]: r["n"] for r in out} == \
            {"p1": 1, "p2": 1, "p3": 0, "p4": 0}

    def test_uncorrelated_pipeline_unwind_broadcast_guard(
        self, spark, people, monkeypatch
    ):
        """An uncorrelated pipeline+unwind lookup must not hint broadcast
        when the sub-pipeline result exceeds the row limit — the plan
        falls back to Catalyst's choice instead of an unbounded driver
        broadcast; results are identical either way."""
        from pincette_json_streams_spark.operators import stages as st

        orders = spark.createDataFrame(
            [(f"o{i}", float(i)) for i in range(10)],
            "oid string, amt double",
        )
        pipeline = [
            {"$lookup": {"from": "orders",
                         "pipeline": [{"$match": {"amt": {"$lt": 4}}}],
                         "as": "o", "unwind": True}},
            {"$project": {"_id": 1, "amt": "$o.amt"}},
        ]
        big = rows(people, pipeline, catalog={"orders": orders})

        monkeypatch.setattr(st, "_BROADCAST_ROW_LIMIT", 2)
        df = compile_pipeline(
            people, pipeline,
            PipelineContext(catalog={"orders": orders}),
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert sorted((r["_id"], r["amt"]) for r in df.collect()) == \
            sorted((r["_id"], r["amt"]) for r in big)


class TestMergeObjects:
    def test_field_wise_merge_disjoint_fields(self, spark):
        """Grouped docs with disjoint fields must merge field-wise (a
        whole-document last() would drop fields the final doc lacks)."""
        df = spark.createDataFrame(
            [("g1", "a", None, None), ("g1", None, "b", None),
             ("g1", None, None, "c"), ("g2", None, "y", None)],
            "k string, f1 string, f2 string, f3 string",
        )
        out = rows(df, [
            {"$set": {"doc": {"f1": "$f1", "f2": "$f2", "f3": "$f3"}}},
            {"$group": {"_id": "$k", "m": {"$mergeObjects": "$doc"}}},
        ])
        by_k = {r["_id"]: dict(r["m"]) for r in out}
        assert by_k["g1"] == {"f1": "a", "f2": "b", "f3": "c"}
        assert by_k["g2"] == {"f1": None, "f2": "y", "f3": None}


class TestRedactValidate:
    def test_redact(self, spark):
        df = spark.createDataFrame(
            [("d1", "public", "x"), ("d2", "secret", "y")],
            "_id string, level string, data string",
        )
        out = rows(df, [{"$redact": {"$cond": [
            {"$eq": ["$level", "secret"]}, "$$PRUNE", "$$DESCEND"]}}])
        assert [r["_id"] for r in out] == ["d1"]

    def test_validate(self, spark):
        df = spark.createDataFrame(
            [("a", 5), ("b", 50)], "_id string, qty int")
        out = rows(df, [{"$validate": {"conditions": [
            {"qty": {"$lte": 10, "$code": "TOOBIG"}},
        ]}}])
        by_id = {r["_id"]: r for r in out}
        assert by_id["a"]["_error"] is False
        assert by_id["b"]["_error"] is True
        assert by_id["b"]["errors"][0]["code"] == "TOOBIG"


class TestBatchExtensions:
    def test_sort_limit_skip(self, people):
        out = rows(people, [{"$sort_ext": {"age": -1}}, {"$limit": 2}])
        assert [r["_id"] for r in out] == ["p3", "p1"]
        out = rows(people, [{"$sort_ext": {"age": 1}}, {"$skip": 3}])
        assert [r["_id"] for r in out] == ["p3"]

    def test_set_key(self, people):
        out = run(people, [{"$setKey": "$name"}])
        assert "_key" in out.columns
        assert out.count() == 4

    def test_sample(self, people):
        out = run(people, [{"$sample": {"size": 2, "seed": 7}}])
        assert out.count() == 2
        # size form must not trigger a count() action at compile time:
        # plan is a rand-ordered top-n, not sample-over-counted-fraction
        assert "TakeOrderedAndProject" in out._jdf.queryExecution() \
            .executedPlan().toString()
        frac = run(people, [{"$sample": {"fraction": 1.0}}])
        assert frac.count() == 4

    def test_chunk_stage(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )
        out = rows(df, [{"$chunk": {"size": 4, "overlap": 2}}])
        assert [(r["chunk_idx"], r["chunk"]) for r in
                sorted(out, key=lambda r: r["chunk_idx"])] == [
            (0, "a b c d"), (1, "c d e f"),
        ]

    def test_sessionize_stage(self, spark):
        df = spark.createDataFrame(
            [(1, 0), (1, 500), (2, 0)], "u long, t long"
        )
        out = rows(df, [
            {"$sessionize": {"by": "u", "ts": "t", "gap": 100}},
        ])
        got = {(r["u"], r["t"]): r["session_id"] for r in out}
        assert got == {(1, 0): 1, (1, 500): 2, (2, 0): 1}

    def test_asof_lookup_stage(self, spark):
        left = spark.createDataFrame(
            [(1, 10, 15)], "eid long, k long, t long"
        )
        quotes = spark.createDataFrame(
            [(10, 12, "b"), (10, 20, "c")], "k long, t long, v string"
        )
        out = rows(
            left,
            [{"$asofLookup": {"from": "quotes", "on": "t", "by": "k",
                              "as": "q"}}],
            catalog={"quotes": quotes},
        )
        assert out[0]["q"]["v"] == "b"

    def test_lag_stage_with_provider(self, spark):
        import json
        df = spark.createDataFrame([(1,)], "x long")
        out = rows(
            df,
            [{"$lag": {"as": "messageLag"}}],
            lag_provider=lambda: {"my-consumer": {"topic1": {"0": 3}}},
        )
        assert json.loads(out[0]["messageLag"]) == {
            "my-consumer": {"topic1": {"0": 3}}
        }

    def test_lag_stage_noop_without_provider(self, spark):
        df = spark.createDataFrame([(1,)], "x long")
        out = run(df, [{"$lag": {"as": "messageLag"}}])
        assert out.columns == ["x"]

    def test_throttle_noop_in_batch(self, spark):
        df = spark.createDataFrame([(1,), (2,)], "x long")
        out = run(df, [{"$throttle": {"maxPerSecond": 1}}])
        assert sorted(r["x"] for r in out.collect()) == [1, 2]

    def test_scrub_pii_stage(self, spark):
        df = spark.createDataFrame(
            [(1, "mail me at bob@corp.example.org now")],
            "doc_id long, text string",
        )
        out = rows(df, [{"$scrubPii": {"field": "text"}}])
        assert "<EMAIL>" in out[0]["text"]
        assert "bob@" not in out[0]["text"]


class TestMultimodalStages:
    def test_media_stages_in_pipeline(self, spark):
        """$probeMedia / $decodeImage / $decodeAudio compose in a plain
        pipeline over a binary column (YAML-app-usable multimodal)."""
        import io
        import struct
        import wave

        png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
               + struct.pack(">IIBBBBB", 3, 2, 8, 6, 0, 0, 0))
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(b"\x00\x10" * 800)
        df = spark.createDataFrame(
            [("img", bytearray(png)), ("snd", bytearray(buf.getvalue()))],
            "_id string, media binary",
        )
        out = rows(df, [
            {"$probeMedia": {"field": "media", "as": "p"}},
            {"$decodeAudio": {"field": "media", "as": "a", "bins": 8}},
            {"$match": {"p.format": {"$exists": True}}},
            {"$project": {"_id": 1, "fmt": "$p.format",
                          "dur": "$a.duration_ms"}},
        ])
        got = {r["_id"]: r for r in out}
        assert got["img"]["fmt"] == "png" and got["img"]["dur"] is None
        assert got["snd"]["fmt"] == "wav" and got["snd"]["dur"] == 100


class TestGroupCollection:
    def test_group_state_collection_is_queryable(self, spark, people):
        """$group with _collection registers the group state in the
        catalog (the reference keeps it in a Mongo collection, docs:31);
        a later pipeline can $lookup it like the probe aggregator app."""
        pctx = PipelineContext()
        compile_pipeline(people, [
            {"$group": {"_id": "$age", "_collection": "age-state",
                        "n": {"$count": {}}}},
        ], pctx)
        assert "age-state" in pctx.catalog
        enriched = compile_pipeline(people, [
            {"$lookup": {"from": "age-state", "localField": "age",
                         "foreignField": "_id", "as": "st",
                         "unwind": True}},
            {"$project": {"_id": 1, "peers": "$st.n"}},
        ], pctx).collect()
        got = {r["_id"]: r["peers"] for r in enriched}
        assert got == {"p1": 1, "p2": 2, "p3": 1, "p4": 2}


class TestWindowFields:
    """$windowFields batch extension (MongoDB $setWindowFields shape,
    compiled to native Spark window functions)."""

    SPEC = {"$windowFields": {
        "partitionBy": "$address.city",
        "sortBy": {"age": 1, "_id": 1},
        "output": {
            "rnk": {"$rank": {}},
            "rn": {"$rowNumber": {}},
            "prev_bal": {"$shift": {"output": "$balance", "by": -1,
                                    "default": 0}},
            "cum_bal": {"$sum": "$balance",
                        "window": {"documents": ["unbounded", "current"]}},
            "city_total": {"$sum": "$balance"},
        }}}

    def test_outputs(self, people):
        out = {r["_id"]: r for r in rows(people, [self.SPEC])}
        # Ghent partition: Alice (34) then Carol (41)
        assert out["p1"]["rn"] == 1 and out["p3"]["rn"] == 2
        assert out["p1"]["prev_bal"] == 0           # default fills first row
        assert out["p3"]["prev_bal"] == 1200.5
        assert out["p3"]["cum_bal"] == 1200.5       # 1200.5 + 0.0
        assert out["p1"]["city_total"] == out["p3"]["city_total"] == 1200.5
        # Dave's null address forms its own partition
        assert out["p4"]["rn"] == 1

    def test_rank_ties(self, people):
        spec = {"$windowFields": {
            "sortBy": {"age": 1},
            "output": {"rnk": {"$rank": {}},
                       "dr": {"$denseRank": {}}}}}
        out = sorted(rows(people, [spec]), key=lambda r: r["_id"])
        by_id = {r["_id"]: r for r in out}
        # Bob and Dave tie at 28 -> both rank 1; next rank skips to 3
        assert by_id["p2"]["rnk"] == by_id["p4"]["rnk"] == 1
        assert by_id["p1"]["rnk"] == 3
        assert by_id["p1"]["dr"] == 2

    def test_moving_window(self, people):
        spec = {"$windowFields": {
            "sortBy": {"age": 1, "_id": 1},
            "output": {"ma2": {"$avg": "$balance",
                               "window": {"documents": [-1, 0]}}}}}
        by_id = {r["_id"]: r for r in rows(people, [spec])}
        # order: p2(-50.25), p4(999.99), p1(1200.5), p3(0.0)
        assert by_id["p2"]["ma2"] == -50.25
        assert round(by_id["p4"]["ma2"], 2) == round((999.99 - 50.25) / 2, 2)

    def test_rank_requires_sort(self, people):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            rows(people, [{"$windowFields": {
                "output": {"r": {"$rank": {}}}}}])

    def test_single_exchange(self, people):
        df = run(people, [self.SPEC])
        explained = df._jdf.queryExecution().executedPlan().toString()
        # all six outputs share one window family: exactly one exchange
        assert explained.count("Exchange hashpartitioning") <= 1


class TestDensifyFill:
    """$densify / $fill batch extensions (MongoDB 5.x shapes)."""

    @pytest.fixture(scope="class")
    def series(self, spark):
        return spark.createDataFrame(
            [("a", 1, 10.0), ("a", 2, None), ("a", 5, 50.0),
             ("b", 3, 30.0), ("b", 4, None)],
            "k string, t long, v double",
        )

    def test_densify_partition(self, series):
        out = rows(series, [{"$densify": {
            "field": "t", "partitionByFields": ["k"],
            "range": {"step": 1, "bounds": "partition"}}}])
        a = sorted(r["t"] for r in out if r["k"] == "a")
        assert a == [1, 2, 3, 4, 5]          # holes 3,4 inserted
        inserted = [r for r in out if r["k"] == "a" and r["t"] == 3][0]
        assert inserted["v"] is None
        b = sorted(r["t"] for r in out if r["k"] == "b")
        assert b == [3, 4]                   # partition bounds per key

    def test_densify_full_and_explicit(self, series):
        out = rows(series, [{"$densify": {
            "field": "t", "partitionByFields": ["k"],
            "range": {"step": 1, "bounds": "full"}}}])
        for k in ("a", "b"):
            assert sorted(r["t"] for r in out if r["k"] == k) == \
                [1, 2, 3, 4, 5]
        out2 = rows(series, [{"$densify": {
            "field": "t", "partitionByFields": ["k"],
            "range": {"step": 2, "bounds": [0, 6]}}}])
        a = sorted(r["t"] for r in out2 if r["k"] == "a")
        # grid 0,2,4,6 unioned with existing 1,2,5
        assert a == [0, 1, 2, 4, 5, 6]

    def test_fill_locf_and_value(self, series):
        out = rows(series, [{"$fill": {
            "partitionByFields": ["k"], "sortBy": {"t": 1},
            "output": {"v": {"method": "locf"}}}}])
        av = {r["t"]: r["v"] for r in out if r["k"] == "a"}
        assert av[2] == 10.0                 # carried forward
        assert av[5] == 50.0
        out2 = rows(series, [{"$fill": {
            "output": {"v": {"value": -1}}}}])
        assert all(r["v"] is not None for r in out2)
        assert [r["v"] for r in out2 if r["k"] == "b" and r["t"] == 4] \
            == [-1.0]

    def test_densify_then_fill(self, series):
        out = rows(series, [
            {"$densify": {"field": "t", "partitionByFields": ["k"],
                          "range": {"step": 1, "bounds": "partition"}}},
            {"$fill": {"partitionByFields": ["k"], "sortBy": {"t": 1},
                       "output": {"v": {"method": "locf"}}}},
        ])
        av = {r["t"]: r["v"] for r in out if r["k"] == "a"}
        assert av == {1: 10.0, 2: 10.0, 3: 10.0, 4: 10.0, 5: 50.0}

    def test_fill_requires_sort_for_locf(self, series):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            rows(series, [{"$fill": {
                "output": {"v": {"method": "locf"}}}}])


class TestFacet:
    """$facet batch extension."""

    def test_multi_facet_single_row(self, people):
        out = rows(people, [{"$facet": {
            "by_age": [
                {"$group": {"_id": "$age", "n": {"$count": {}}}},
                {"$project": {"_id": 0,
                              "s": {"$concat": [
                                  {"$toString": "$_id"}, ":",
                                  {"$toString": "$n"}]}}},
            ],
            "rich": [
                {"$match": {"balance": {"$gt": 500}}},
                {"$project": {"_id": 1, "balance": 1}},
            ],
            "names": [{"$project": {"_id": 0, "name": 1}}],
        }}])
        assert len(out) == 1
        row = out[0]
        assert sorted(row) == ["by_age", "names", "rich"]
        assert row["by_age"] == ["28:2", "34:1", "41:1"]
        assert row["names"] == ["Alice", "Bob", "Carol", "Dave"]
        # multi-column facet -> array of structs (sorted)
        assert [r["_id"] for r in row["rich"]] == ["p1", "p4"]

    def test_empty_facet_is_empty_array(self, people):
        out = rows(people, [{"$facet": {
            "none": [{"$match": {"age": {"$gt": 1000}}},
                     {"$project": {"_id": 1}}],
        }}])
        assert out == [{"none": []}]

    def test_facet_rejects_bad_spec(self, people):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            rows(people, [{"$facet": {}}])


class TestRound3ExtStages:
    """Round-3 function families exposed as pipeline stages."""

    @pytest.fixture(scope="class")
    def docs(self, spark):
        return spark.createDataFrame(
            [(1, "a b c d e f x y", "https://E.com/p/?b=2&a=1&utm_s=1",
              8.0),
             (2, "z a b c d e f w", "HTTPS://e.COM:443/p?a=1&b=2", 1.0),
             (3, "totally different words here now", "http://o.io/q",
              1.0)],
            "doc_id long, text string, url string, w double",
        )

    def test_dedup_spans_stage(self, docs):
        out = rows(docs, [{"$dedupSpans": {"width": 4}}])
        by_id = {r["doc_id"]: r for r in out}
        assert by_id[1]["dup_windows"] > 0
        assert by_id[3]["dup_windows"] == 0
        stripped = rows(docs, [{"$dedupSpans": {"width": 4,
                                                "action": "strip"}}])
        s = {r["doc_id"]: r for r in stripped}
        assert s[1]["n_kept"] == s[1]["n_tokens"]   # keeper verbatim
        assert s[2]["n_kept"] < s[2]["n_tokens"]    # dup span stripped

    def test_normalize_url_stage(self, docs):
        out = rows(docs, [{"$normalizeUrl": {"field": "url"}}])
        by_id = {r["doc_id"]: r["canonical_url"] for r in out}
        assert by_id[1] == by_id[2] == "https://e.com/p?a=1&b=2"
        deduped = rows(docs, [{"$normalizeUrl": {
            "field": "url", "dedup": True}}])
        assert sorted(r["doc_id"] for r in deduped) == [1, 3]

    def test_zorder_stage(self, docs):
        out = rows(docs, [{"$zorder": {"columns": ["doc_id", "w"],
                                       "bits": 4}}])
        assert all("zkey" in r for r in out)
        clustered = run(docs, [{"$zorder": {
            "columns": ["doc_id", "w"], "bits": 4, "partitions": 2}}])
        assert clustered.rdd.getNumPartitions() == 2

    def test_weighted_sample_stage(self, docs):
        out = rows(docs, [{"$weightedSample": {"weight": "w", "k": 2}}])
        assert len(out) == 2
        assert 1 in {r["doc_id"] for r in out}      # weight 8 dominates

    def test_cms_sketch_stage_registers_collection(self, docs):
        pctx = PipelineContext()
        df = compile_pipeline(docs, [
            {"$project": {"doc_id": 1, "text": 1}},
            {"$cmsSketch": {"field": "text", "depth": 2, "width": 16,
                            "_collection": "tok_sketch"}},
        ], pctx)
        assert df.count() <= 2 * 16
        assert "tok_sketch" in pctx.catalog


class TestWindowFieldsRange:
    """Value-based (range) frames in $windowFields."""

    def test_range_window(self, spark):
        df = spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (4, 40.0), (9, 90.0)],
            "t long, v double")
        out = rows(df, [{"$windowFields": {
            "sortBy": {"t": 1},
            "output": {"near_sum": {
                "$sum": "$v", "window": {"range": [-2, 0]}}}}}])
        by_t = {r["t"]: r["near_sum"] for r in out}
        # t=4 sees t in [2,4] -> 20+40; t=9 sees only itself
        assert by_t[1] == 10.0
        assert by_t[2] == 30.0
        assert by_t[4] == 60.0
        assert by_t[9] == 90.0

    def test_range_requires_single_sort_key(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame([(1, 2, 3.0)], "a long, b long, v double")
        with pytest.raises(UnsupportedExpression):
            rows(df, [{"$windowFields": {
                "sortBy": {"a": 1, "b": 1},
                "output": {"s": {"$sum": "$v",
                                 "window": {"range": [-1, 0]}}}}}])


class TestTraceAndOut:
    """Direct coverage for $trace (hook + passthrough) and $out
    (catalog sink capture) — closing the coverage_audit gaps."""

    def test_trace_stage_calls_hook_and_passes_through(self, people):
        seen = []
        out = rows(people, [
            {"$trace": {"label": "here"}},
            {"$project": {"_id": 1}},
        ], trace=lambda stage, spec: seen.append((stage, spec)))
        assert len(out) == 4
        assert seen == [("$trace", {"label": "here"})]

    def test_trace_stage_without_hook_is_noop(self, people):
        assert len(rows(people, [{"$trace": {}}])) == 4

    def test_out_stage_captures_sink(self, people):
        pctx = PipelineContext()
        df = compile_pipeline(people, [
            {"$match": {"age": {"$gte": 30}}},
            {"$out": "grownups"},
        ], pctx)
        assert "grownups" in pctx.outputs
        assert pctx.outputs["grownups"].count() == 2
        assert df.count() == 2            # $out passes the stream on

    def test_trace_expression_passthrough(self, people):
        out = rows(people.filter("_id='p1'"), [
            {"$project": {"_id": 0,
                          "v": {"$trace": {"$add": ["$age", 1]}}}}])
        assert out == [{"v": 35}]


class TestSampleFramesStage:
    def test_avi_frames_stage(self, spark):
        import numpy as np
        import struct
        from tests.test_functions import _JpegTestEncoder  # noqa
        enc = _JpegTestEncoder()

        def chunk(cid, body):
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        frames = [enc.encode(np.full((8, 8), s, np.uint8))
                  for s in (50, 150, 250)]
        movi = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
        body = b"AVI " + chunk(b"LIST", movi)
        avi = b"RIFF" + struct.pack("<I", len(body)) + body
        df = spark.createDataFrame(
            [(1, bytearray(avi))], "vid long, media binary")
        out = rows(df, [{"$sampleFrames": {"n": 2}}])
        assert len(out[0]["frames"]) == 2
        assert bytes(out[0]["frames"][0]["frame"])[:2] == b"\xff\xd8"


class TestNAccumulators:
    """MongoDB 5.2 N-accumulators in $group ($minN/$maxN/$topN/
    $bottomN/$firstN/$lastN with mandatory sortBy)."""

    def test_min_max_n(self, people):
        out = rows(people, [{"$group": {
            "_id": None,
            "youngest2": {"$minN": {"input": "$age", "n": 2}},
            "oldest2": {"$maxN": {"input": "$age", "n": 2}},
        }}])[0]
        assert out["youngest2"] == [28, 28]
        assert out["oldest2"] == [41, 34]

    def test_top_bottom_n(self, people):
        out = rows(people, [{"$group": {
            "_id": None,
            "richest": {"$topN": {"n": 2, "sortBy": {"balance": -1},
                                  "output": "$name"}},
            "poorest": {"$bottomN": {"n": 2, "sortBy": {"balance": -1},
                                     "output": "$name"}},
        }}])[0]
        assert out["richest"] == ["Alice", "Dave"]
        assert out["poorest"] == ["Carol", "Bob"]

    def test_first_last_n_require_sort(self, people):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            rows(people, [{"$group": {
                "_id": None,
                "f": {"$firstN": {"input": "$name", "n": 2}}}}])
        out = rows(people, [{"$group": {
            "_id": "$age",
            "f2": {"$firstN": {"n": 1, "sortBy": {"_id": 1},
                               "output": "$name"}},
        }}])
        by_age = {r["_id"]: r["f2"] for r in out}
        assert by_age[28] == ["Bob"]

    def test_per_group(self, people):
        out = rows(people, [{"$group": {
            "_id": "$age",
            "names": {"$topN": {"n": 5, "sortBy": {"name": 1},
                                "output": "$name"}},
        }}])
        got = {r["_id"]: r["names"] for r in out}
        assert got[28] == ["Bob", "Dave"]
        assert got[34] == ["Alice"]


class TestPercentileAccumulators:
    """MongoDB 7.0 $percentile / $median accumulators."""

    def test_percentile_and_median(self, people):
        out = rows(people, [{"$group": {
            "_id": None,
            "ps": {"$percentile": {"input": "$age",
                                   "p": [0.0, 0.5, 1.0]}},
            "med": {"$median": {"input": "$balance"}},
        }}])[0]
        # ages 28,28,34,41 -> p0=28, p50=31 (interpolated), p100=41
        assert out["ps"] == [28.0, 31.0, 41.0]
        # balances -50.25, 0.0, 999.99, 1200.5 -> median 499.995
        assert out["med"] == 499.995

    def test_per_group(self, people):
        out = rows(people, [{"$group": {
            "_id": "$age", "m": {"$median": "$balance"}}}])
        got = {r["_id"]: r["m"] for r in out}
        assert got[28] == pytest.approx((999.99 - 50.25) / 2)


class TestUnionBucketAutoDocuments:
    """$unionWith / $bucketAuto / $documents stages."""

    def test_union_with(self, spark, people):
        extra = spark.createDataFrame(
            [("p9", "Zoe", 55)], "_id string, name string, age int")
        out = rows(people, [
            {"$unionWith": {"coll": "extra"}},
            {"$project": {"_id": 1}},
        ], catalog={"extra": extra})
        assert len(out) == 5
        out2 = rows(people, [
            {"$unionWith": {"coll": "extra", "pipeline": [
                {"$match": {"age": {"$gte": 50}}}]}},
        ], catalog={"extra": extra})
        assert len(out2) == 5
        # missing columns arrive as NULL
        zoe = [r for r in out2 if r["_id"] == "p9"][0]
        assert zoe["balance"] is None

    def test_bucket_auto(self, people):
        out = rows(people, [{"$bucketAuto": {
            "groupBy": "$age", "buckets": 2,
            "output": {"n": {"$sum": 1},
                       "names": {"$push": "$name"}}}}])
        assert len(out) == 2
        by_min = sorted(out, key=lambda r: r["_id"]["min"])
        # ages sorted: 28,28,34,41 -> buckets [28,28] and [34,41]
        assert by_min[0]["_id"] == {"min": 28, "max": 28}
        assert by_min[0]["n"] == 2
        assert by_min[1]["_id"] == {"min": 34, "max": 41}

    def test_documents(self, people):
        out = rows(people, [
            {"$documents": [{"k": 1, "s": "a"}, {"k": 2, "s": "b"}]},
            {"$match": {"k": {"$gte": 2}}},
        ])
        assert out == [{"k": 2, "s": "b"}]

    def test_bucket_auto_streaming_rejected(self, spark, people):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        sdf = spark.readStream.format("rate").load()
        with pytest.raises(UnsupportedExpression):
            run(sdf, [{"$bucketAuto": {"groupBy": "$value",
                                       "buckets": 2}}])


class TestDocumentsHeterogeneous:
    def test_union_of_keys(self, people):
        out = rows(people, [{"$documents": [
            {"a": 1}, {"b": "x"}, {"a": 2, "c": 1.5}]}])
        assert len(out) == 3
        assert out[0] == {"a": 1, "b": None, "c": None}
        assert out[1] == {"a": None, "b": "x", "c": None}
        assert out[2] == {"a": 2, "b": None, "c": 1.5}


class TestFillLinear:
    """$fill method: linear (Mongo interpolation semantics)."""

    def test_interpolates_between_known_points(self, spark):
        df = spark.createDataFrame(
            [("a", 0, 10.0), ("a", 1, None), ("a", 3, None),
             ("a", 4, 50.0), ("a", 6, None)],
            "k string, t long, v double")
        out = {r["t"]: r["v"] for r in rows(df, [{"$fill": {
            "partitionByFields": ["k"], "sortBy": {"t": 1},
            "output": {"v": {"method": "linear"}}}}])}
        # linear between (0,10) and (4,50): slope 10/unit
        assert out[1] == 20.0
        assert out[3] == 40.0
        # trailing NULL: no extrapolation
        assert out[6] is None

    def test_leading_null_stays(self, spark):
        df = spark.createDataFrame(
            [("a", 0, None), ("a", 2, 8.0), ("a", 4, 12.0)],
            "k string, t long, v double")
        out = {r["t"]: r["v"] for r in rows(df, [{"$fill": {
            "partitionByFields": ["k"], "sortBy": {"t": 1},
            "output": {"v": {"method": "linear"}}}}])}
        assert out[0] is None
        assert out[2] == 8.0

    def test_requires_single_sort(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame([(1, 2, None)],
                                   "a long, b long, v double")
        with pytest.raises(UnsupportedExpression):
            rows(df, [{"$fill": {"sortBy": {"a": 1, "b": 1},
                                 "output": {"v": {"method": "linear"}}}}])


class TestSetWindowFieldsAlias:
    def test_canonical_mongo_name(self, people):
        out = rows(people, [{"$setWindowFields": {
            "partitionBy": "$address.city",
            "sortBy": {"age": 1},
            "output": {"rn": {"$rowNumber": {}}}}}])
        assert {r["_id"]: r["rn"] for r in out}["p1"] == 1


class TestFillLinearProperty:
    def test_matches_numpy_interp(self, spark):
        """Property: $fill linear equals numpy.interp on the interior
        of random sparse series (no extrapolation at the ends)."""
        import numpy as np
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        @settings(max_examples=5, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.integers(0, 2 ** 31 - 1), st.integers(3, 10))
        def check(seed, nk):
            rng = np.random.RandomState(seed)
            known_t = np.sort(rng.choice(np.arange(0, 40), nk,
                                         replace=False))
            known_v = rng.uniform(-50, 50, nk)
            all_t = np.arange(known_t[0], known_t[-1] + 1)
            rows_in = [("g", int(t),
                        float(known_v[list(known_t).index(t)])
                        if t in known_t else None)
                       for t in all_t]
            df = spark.createDataFrame(
                rows_in, "k string, t long, v double")
            got = {r["t"]: r["v"] for r in rows(df, [{"$fill": {
                "partitionByFields": ["k"], "sortBy": {"t": 1},
                "output": {"v": {"method": "linear"}}}}])}
            want = np.interp(all_t, known_t, known_v)
            for t, w in zip(all_t, want):
                assert got[int(t)] == pytest.approx(w, abs=1e-9)

        check()


class TestWindowFieldsPush:
    def test_push_and_add_to_set_frames(self, people):
        out = rows(people, [{"$windowFields": {
            "sortBy": {"age": 1, "_id": 1},
            "output": {
                "trail": {"$push": "$name",
                          "window": {"documents": ["unbounded",
                                                   "current"]}},
                "ages_seen": {"$addToSet": "$age",
                              "window": {"documents": ["unbounded",
                                                       "current"]}},
            }}}])
        by_id = {r["_id"]: r for r in out}
        # order: p2(28), p4(28), p1(34), p3(41)
        assert by_id["p1"]["trail"] == ["Bob", "Dave", "Alice"]
        assert by_id["p3"]["ages_seen"] == [28, 34, 41]


class TestGraphLookup:
    """$graphLookup (MongoDB shape; completes the reference's lookup
    family, docs/aggregation_stages.md:346-372 covers $lookup only)."""

    @pytest.fixture(scope="class")
    def org(self, spark):
        # reports-to tree with a cycle on the side:
        #   ceo <- vp1 <- dev1, dev2 ; ceo <- vp2
        #   cyc1 <-> cyc2 (cycle)
        return spark.createDataFrame(
            [("ceo", None, "exec"), ("vp1", "ceo", "eng"),
             ("vp2", "ceo", "sales"), ("dev1", "vp1", "eng"),
             ("dev2", "vp1", "eng"), ("cyc1", "cyc2", "loop"),
             ("cyc2", "cyc1", "loop")],
            "name string, boss string, dept string")

    def g(self, df, org, spec):
        base = {"from": "org", "startWith": "$boss",
                "connectFromField": "boss", "connectToField": "name",
                "as": "chain"}
        base.update(spec)
        return rows(df, [{"$graphLookup": base}], catalog={"org": org})

    def test_ancestor_chain(self, org):
        out = {r["name"]: [d["name"] for d in r["chain"]]
               for r in self.g(org, org, {})}
        assert sorted(out["dev1"]) == ["ceo", "vp1"]
        assert out["vp1"] == ["ceo"]
        assert out["ceo"] == []

    def test_cycle_terminates_and_self_reached(self, org):
        out = {r["name"]: sorted(d["name"] for d in r["chain"])
               for r in self.g(org, org, {})}
        # cyc1's chain: cyc2 (depth 0) then cyc1 itself (depth 1); the
        # visited anti-join stops the infinite loop
        assert out["cyc1"] == ["cyc1", "cyc2"]

    def test_max_depth_and_depth_field(self, org):
        out = {r["name"]: {d["name"]: d["lvl"] for d in r["chain"]}
               for r in self.g(org, org,
                               {"maxDepth": 0, "depthField": "lvl"})}
        assert out["dev1"] == {"vp1": 0}
        full = {r["name"]: {d["name"]: d["lvl"] for d in r["chain"]}
                for r in self.g(org, org, {"depthField": "lvl"})}
        assert full["dev1"] == {"vp1": 0, "ceo": 1}

    def test_restrict_search_with_match(self, org):
        out = {r["name"]: [d["name"] for d in r["chain"]]
               for r in self.g(org, org, {"restrictSearchWithMatch":
                                          {"dept": "eng"}})}
        # ceo filtered out of the searchable set: chain stops at vp1
        assert out["dev1"] == ["vp1"]

    def test_array_seed_union_dedup(self, spark, org):
        teams = spark.createDataFrame(
            [("t1", ["dev1", "dev2"]), ("t2", ["vp2"]), ("t3", [])],
            "team string, members array<string>")
        out = {r["team"]: sorted(d["name"] for d in r["chain"])
               for r in rows(teams, [{"$graphLookup": {
                   "from": "org", "startWith": "$members",
                   "connectFromField": "boss", "connectToField": "name",
                   "as": "chain"}}], catalog={"org": org})}
        # dev1+dev2 reach {dev1, dev2, vp1, ceo} — union deduplicated
        assert out["t1"] == ["ceo", "dev1", "dev2", "vp1"]
        assert out["t2"] == ["ceo", "vp2"]
        assert out["t3"] == []

    def test_streaming_rejected(self, spark, org, tmp_path):
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            run(stream, [{"$graphLookup": {
                "from": "org", "startWith": "$value",
                "connectFromField": "boss", "connectToField": "name",
                "as": "chain"}}], catalog={"org": org})


class TestSortByCount:
    def test_sort_by_count(self, people):
        out = rows(people, [{"$sortByCount": "$age"}])
        # ages: 28 x2, 34, 41 — count desc, _id asc tie-break
        assert out[0] == {"_id": 28, "count": 2}
        assert [r["_id"] for r in out[1:]] == [34, 41]

    def test_sort_by_count_expression(self, people):
        out = rows(people, [
            {"$sortByCount": {"$gte": ["$age", 30]}}])
        assert {r["_id"]: r["count"] for r in out} == {True: 2, False: 2}
        assert out[0]["_id"] is False  # tie on count -> _id asc

    def test_streaming_rejected(self, spark):
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            run(stream, [{"$sortByCount": "$value"}])


class TestGeoNear:
    """$geoNear (MongoDB shape): haversine meters, min/max filters,
    query pre-filter, nearest-first order, distanceMultiplier."""

    @pytest.fixture(scope="class")
    def places(self, spark):
        return spark.createDataFrame(
            [("brussels", [4.3517, 50.8466], "BE"),
             ("ghent", [3.7174, 51.0543], "BE"),
             ("paris", [2.3522, 48.8566], "FR"),
             ("tokyo", [139.6917, 35.6895], "JP")],
            "name string, location array<double>, country string")

    def g(self, places, spec):
        base = {"near": [4.3517, 50.8466], "distanceField": "d"}
        base.update(spec)
        return rows(places, [{"$geoNear": base}])

    def test_nearest_first_and_haversine(self, places):
        import math
        out = self.g(places, {})
        assert [r["name"] for r in out] == \
            ["brussels", "ghent", "paris", "tokyo"]
        # reference haversine (Mongo's 6378137 m radius)
        def hav(lon1, lat1, lon2, lat2):
            p = math.pi / 180
            a = (math.sin((lat2 - lat1) * p / 2) ** 2
                 + math.cos(lat1 * p) * math.cos(lat2 * p)
                 * math.sin((lon2 - lon1) * p / 2) ** 2)
            return 2 * 6378137.0 * math.asin(math.sqrt(a))
        want = hav(4.3517, 50.8466, 3.7174, 51.0543)
        assert out[1]["d"] == pytest.approx(want, rel=1e-12)
        assert out[0]["d"] == pytest.approx(0.0, abs=1e-6)

    def test_max_min_distance_and_query(self, places):
        out = self.g(places, {"maxDistance": 300_000})
        assert [r["name"] for r in out] == \
            ["brussels", "ghent", "paris"]
        out = self.g(places, {"minDistance": 1,
                              "maxDistance": 300_000,
                              "query": {"country": "BE"}})
        assert [r["name"] for r in out] == ["ghent"]

    def test_distance_multiplier_and_geojson_near(self, places):
        out = self.g(places, {
            "near": {"type": "Point", "coordinates": [4.3517, 50.8466]},
            "distanceMultiplier": 0.001})   # meters -> km
        km = out[1]["d"]
        assert 50 < km < 60  # Brussels -> Ghent ~55 km


class TestWindowFieldsModernOps:
    """Mongo 5.x window-only operators in $windowFields: covariance,
    exact median/percentile, derivative/integral, expMovingAvg,
    locf/linearFill."""

    @pytest.fixture(scope="class")
    def series(self, spark):
        return spark.createDataFrame(
            [("a", 0, 10.0), ("a", 10, 14.0), ("a", 20, None),
             ("a", 30, 26.0), ("a", 40, None), ("b", 0, 1.0),
             ("b", 10, 3.0)],
            "k string, t long, v double")

    def wf(self, df, output):
        return {r["k"] + str(r["t"]): r for r in rows(df, [
            {"$windowFields": {"partitionBy": "$k",
                               "sortBy": {"t": 1}, "output": output}}])}

    def test_covariance_median_percentile(self, series):
        import numpy as np
        out = self.wf(series.filter("v is not null"), {
            "cov": {"$covariancePop": ["$t", "$v"]},
            "covs": {"$covarianceSamp": ["$t", "$v"]},
            "med": {"$median": {"input": "$v"}},
            "pct": {"$percentile": {"input": "$v", "p": [0.0, 1.0]}},
        })
        t = np.array([0, 10, 30]); v = np.array([10.0, 14.0, 26.0])
        assert out["a0"]["cov"] == pytest.approx(
            np.cov(t, v, bias=True)[0][1])
        assert out["a0"]["covs"] == pytest.approx(np.cov(t, v)[0][1])
        assert out["a0"]["med"] == 14.0
        assert out["a0"]["pct"] == [10.0, 26.0]
        assert out["b0"]["med"] == 2.0  # exact interpolation

    def test_derivative_and_integral(self, series):
        clean = series.filter("v is not null")
        out = self.wf(clean, {
            "slope": {"$derivative": {"input": "$v"},
                      "window": {"documents": [-1, 0]}},
            "area": {"$integral": {"input": "$v"}},
        })
        # a: points (0,10) (10,14) (30,26)
        assert out["a10"]["slope"] == pytest.approx(0.4)
        assert out["a30"]["slope"] == pytest.approx(0.6)
        assert out["a0"]["slope"] is None  # one-point frame
        # trapezoid: (10-0)*(10+14)/2 + (30-10)*(14+26)/2 = 120+400
        assert out["a0"]["area"] == pytest.approx(520.0)
        assert out["b0"]["area"] == pytest.approx(20.0)

    def test_derivative_unit(self, series):
        out = self.wf(series.filter("v is not null"), {
            # t treated as millis; per-second slope = ms slope * 1000
            "sps": {"$derivative": {"input": "$v", "unit": "second"},
                    "window": {"documents": [-1, 0]}},
        })
        assert out["a10"]["sps"] == pytest.approx(400.0)

    def test_exp_moving_avg(self, series):
        clean = series.filter("v is not null")
        out = self.wf(clean, {
            "ema": {"$expMovingAvg": {"input": "$v", "N": 3}}})
        # alpha = 2/(3+1) = 0.5; ema: 10, 12, 19
        assert out["a0"]["ema"] == 10.0
        assert out["a10"]["ema"] == pytest.approx(12.0)
        assert out["a30"]["ema"] == pytest.approx(19.0)

    def test_locf_linear_fill(self, series):
        out = self.wf(series, {
            "f": {"$locf": "$v"},
            "lin": {"$linearFill": "$v"},
        })
        assert out["a20"]["f"] == 14.0
        assert out["a40"]["f"] == 26.0
        # linear: t=20 between (10,14) and (30,26) -> 20
        assert out["a20"]["lin"] == pytest.approx(20.0)
        # trailing null: no next non-null -> stays null (no extrapolation)
        assert out["a40"]["lin"] is None

    def test_ema_rejects_window(self, series):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            self.wf(series, {"e": {
                "$expMovingAvg": {"input": "$v", "N": 2},
                "window": {"documents": [-1, 0]}}})


class TestMergeStage:
    """$merge whenMatched/whenNotMatched semantics (MongoDB shape) —
    the batch equivalent of Delta MERGE INTO."""

    @pytest.fixture()
    def world(self, spark):
        src = spark.createDataFrame(
            [("a", 10, None), ("b", 20, "src-b"), ("d", 40, "src-d")],
            "_id string, v int, note string")
        tgt = spark.createDataFrame(
            [("a", 1, "tgt-a"), ("b", 2, "tgt-b"), ("c", 3, "tgt-c")],
            "_id string, v int, note string")
        return src, tgt

    def merged(self, src, tgt, **opts):
        pctx = PipelineContext(catalog={"t": tgt})
        spec = {"into": "t", **opts}
        compile_pipeline(src, [{"$merge": spec}], pctx)
        return {r["_id"]: r.asDict() for r in pctx.outputs["t"].collect()}

    def test_default_merge_insert(self, world):
        out = self.merged(*world)
        assert set(out) == {"a", "b", "c", "d"}
        # field-wise merge: null source field keeps the target's
        assert out["a"] == {"_id": "a", "v": 10, "note": "tgt-a"}
        assert out["b"] == {"_id": "b", "v": 20, "note": "src-b"}
        assert out["c"] == {"_id": "c", "v": 3, "note": "tgt-c"}
        assert out["d"] == {"_id": "d", "v": 40, "note": "src-d"}

    def test_replace_and_keep_existing(self, world):
        out = self.merged(*world, whenMatched="replace")
        assert out["a"] == {"_id": "a", "v": 10, "note": None}
        out = self.merged(*world, whenMatched="keepExisting")
        assert out["a"] == {"_id": "a", "v": 1, "note": "tgt-a"}
        assert out["d"]["v"] == 40  # still inserted

    def test_discard_unmatched(self, world):
        out = self.merged(*world, whenNotMatched="discard")
        assert set(out) == {"a", "b", "c"}

    def test_fail_modes(self, world):
        src, tgt = world
        with pytest.raises(ValueError, match="whenMatched=fail"):
            self.merged(src, tgt, whenMatched="fail")
        with pytest.raises(ValueError, match="whenNotMatched=fail"):
            self.merged(src, tgt, whenNotMatched="fail")
        # fail modes pass when the condition never fires
        only_new = src.filter("_id = 'd'")
        out = self.merged(only_new, tgt, whenMatched="fail")
        assert set(out) == {"a", "b", "c", "d"}

    def test_no_target_is_plain_capture(self, spark, world):
        src, _ = world
        pctx = PipelineContext()
        compile_pipeline(src, [{"$merge": {"into": "fresh"}}], pctx)
        assert pctx.outputs["fresh"].count() == 3

    def test_null_keys_match_nullsafe(self, spark):
        src = spark.createDataFrame([(None, 9)], "_id string, v int")
        tgt = spark.createDataFrame([(None, 1), ("x", 2)],
                                    "_id string, v int")
        out = self.merged(src, tgt)
        assert out[None]["v"] == 9 and out["x"]["v"] == 2


class TestGraphLookupProperty:
    def test_matches_python_bfs_on_random_graphs(self, spark):
        """$graphLookup == a pure-python BFS (reachable set + minimal
        depth) on random directed graphs with cycles and self-loops."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=12, deadline=None)
        @given(st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1, max_size=25, unique=True))
        def check(edges):
            nodes = sorted({n for e in edges for n in e})
            adj = {}
            for child, parent in edges:
                adj.setdefault(child, set()).add(parent)

            def bfs(seed):
                # seed matches nodes by id; hop follows child->parent
                cur = {n: 0 for n in ({seed} & set(nodes))}
                out = dict(cur)
                while cur:
                    nxt = {}
                    for n in cur:
                        for p in adj.get(n, ()):
                            if p in nodes and p not in out:
                                nxt[p] = out[n] + 1
                    out.update(nxt)
                    cur = nxt
                return out

            coll = spark.createDataFrame(
                [(n, sorted(adj.get(n, ()))) for n in nodes],
                "nid long, parents array<long>")
            seeds = spark.createDataFrame(
                [(s,) for s in range(10)], "start long")
            got = {r["start"]: {(d["nid"], d["lvl"]) for d in r["chain"]}
                   for r in rows(seeds, [{"$graphLookup": {
                       "from": "g", "startWith": "$start",
                       "connectFromField": "parents",
                       "connectToField": "nid",
                       "as": "chain", "depthField": "lvl"}}],
                       catalog={"g": coll})}
            for s in range(10):
                want = bfs(s)
                assert got[s] == set(want.items()), (s, got[s], want)

        check()


class TestBpeStages:
    def test_train_then_encode_pipeline(self, spark):
        docs = spark.createDataFrame(
            [(1, "low low low low low lower lower newest newest newest "
                 "newest newest newest widest widest widest")],
            "id long, text string")
        pctx = PipelineContext()
        out = compile_pipeline(docs, [
            {"$bpeTrain": {"text": "text", "merges": 5,
                           "_collection": "m"}},
            {"$bpeEncode": {"text": "text", "from": "m",
                            "as": "toks"}},
        ], pctx)
        merges = [(r["left"], r["right"])
                  for r in pctx.outputs["m"].orderBy("rank").collect()]
        assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"),
                          ("l", "o"), ("lo", "w")]
        toks = out.collect()[0]["toks"]
        # 5 merges stop before ("low","</w>"): low -> [low, </w>],
        # and "lower" also yields a leading "low" (5 + 2 = 7);
        # est</w> (rank 2) covers newest(6) + widest(3)
        assert toks.count("low") == 7
        assert toks.count("est</w>") == 9

    def test_train_streaming_rejected(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        with pytest.raises(UnsupportedExpression):
            run(stream, [{"$bpeTrain": {"text": "value"}}])


class TestDensifyDates:
    """$densify with date units (MongoDB 5.1 date ranges)."""

    def test_date_column_day_grid(self, spark):
        import datetime as dt
        df = spark.createDataFrame(
            [("a", dt.date(2024, 1, 1), 1.0),
             ("a", dt.date(2024, 1, 4), 4.0),
             ("b", dt.date(2024, 1, 1), 9.0)],
            "k string, d date, v double")
        out = rows(df, [{"$densify": {
            "field": "d", "partitionByFields": ["k"],
            "range": {"step": 1, "unit": "day",
                      "bounds": "partition"}}}])
        a = sorted((r["d"].isoformat(), r["v"])
                   for r in out if r["k"] == "a")
        assert [x[0] for x in a] == ["2024-01-01", "2024-01-02",
                                     "2024-01-03", "2024-01-04"]
        assert [x[1] for x in a] == [1.0, None, None, 4.0]
        assert len([r for r in out if r["k"] == "b"]) == 1

    def test_iso_string_hour_grid_explicit_bounds(self, spark):
        df = spark.createDataFrame(
            [("2024-03-05T01:00:00Z",), ("2024-03-05T04:00:00Z",)],
            "t string")
        out = rows(df, [{"$densify": {
            "field": "t",
            "range": {"step": 2, "unit": "hour",
                      "bounds": ["2024-03-05T00:00:00Z",
                                 "2024-03-05T06:00:00Z"]}}}])
        ts = sorted(r["t"] for r in out)
        assert ts == ["2024-03-05T00:00:00Z", "2024-03-05T01:00:00Z",
                      "2024-03-05T02:00:00Z", "2024-03-05T04:00:00Z",
                      "2024-03-05T06:00:00Z"]

    def test_month_unit_rejected(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame([("2024-01-01",)], "t string")
        with pytest.raises(UnsupportedExpression):
            run(df, [{"$densify": {"field": "t",
                                   "range": {"step": 1, "unit": "month",
                                             "bounds": "full"}}}])


class TestCdcChunksStage:
    def test_stage(self, spark):
        import hashlib
        data = hashlib.sha256(b"s").digest() * 200
        df = spark.createDataFrame([(1, bytearray(data))],
                                   "media_id long, media binary")
        out = rows(df, [{"$cdcChunks": {"avg": 512}}])
        assert sum(r["length"] for r in out) == len(data)
        assert out[0]["chunk_hash"]


class TestReviewRegressions:
    """Locks for the round-3 continuation review findings."""

    def test_merge_missing_on_field_raises(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        src = spark.createDataFrame([(1,)], "v int")  # no _id
        tgt = spark.createDataFrame([("a", 1)], "_id string, v int")
        with pytest.raises(UnsupportedExpression, match="on-field"):
            run(src, [{"$merge": {"into": "t"}}], catalog={"t": tgt})
        # and the reverse: key absent from the TARGET
        src2 = spark.createDataFrame([("a", 1)], "_id string, v int")
        tgt2 = spark.createDataFrame([(1,)], "v int")
        with pytest.raises(UnsupportedExpression, match="on-field"):
            run(src2, [{"$merge": {"into": "t"}}], catalog={"t": tgt2})

    def test_merge_streaming_is_capture(self, spark):
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        tgt = spark.createDataFrame([(1,)], "value long")
        pctx = PipelineContext(catalog={"t": tgt})
        out = compile_pipeline(stream, [{"$merge": {"into": "t"}}], pctx)
        assert out.isStreaming and pctx.outputs["t"] is stream

    def test_graph_lookup_overwrites_existing_as(self, spark):
        org = spark.createDataFrame(
            [("ceo", None), ("vp", "ceo")], "name string, boss string")
        df = spark.createDataFrame(
            [("vp", "ceo", "stale")], "name string, boss string, "
            "chain string")
        out = rows(df, [{"$graphLookup": {
            "from": "org", "startWith": "$boss",
            "connectFromField": "boss", "connectToField": "name",
            "as": "chain"}}], catalog={"org": org})
        assert [d["name"] for d in out[0]["chain"]] == ["ceo"]

    def test_geo_near_dotted_distance_field(self, spark):
        places = spark.createDataFrame(
            [("a", [4.35, 50.85]), ("b", [3.72, 51.05])],
            "name string, location array<double>")
        out = rows(places, [{"$geoNear": {
            "near": [4.35, 50.85],
            "distanceField": "dist.calculated"}}])
        assert out[0]["name"] == "a"
        assert out[0]["dist"]["calculated"] < 1
        assert out[1]["dist"]["calculated"] > 10_000

    def test_derivative_iso_string_sort_key_with_unit(self, spark):
        df = spark.createDataFrame(
            [("k", "2024-01-01T00:00:00Z", 10.0),
             ("k", "2024-01-01T00:00:10Z", 40.0)],
            "k string, t string, v double")
        out = rows(df, [{"$windowFields": {
            "partitionBy": "$k", "sortBy": {"t": 1},
            "output": {"slope": {
                "$derivative": {"input": "$v", "unit": "second"},
                "window": {"documents": [-1, 0]}}}}}])
        got = {r["t"]: r["slope"] for r in out}
        assert got["2024-01-01T00:00:10Z"] == pytest.approx(3.0)

    def test_millisecond_pre_epoch(self, spark):
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.expressions import (
            compile_expr,
        )
        df = spark.createDataFrame([("1969-12-31T23:59:59.900Z",)],
                                   "t string")
        col = compile_expr({"$millisecond": "$t"}, ctx_for(df))
        assert df.select(col.alias("v")).first()["v"] == 900


class TestWindowFieldsDottedOutput:
    def test_nested_output_name(self, people):
        out = rows(people, [{"$windowFields": {
            "sortBy": {"age": 1, "_id": 1},
            "output": {"stats.rank": {"$rank": {}},
                       "plain": {"$sum": "$age"}}}}])
        by_id = {r["_id"]: r for r in out}
        assert by_id["p2"]["stats"]["rank"] == 1
        assert by_id["p3"]["stats"]["rank"] == 4
        assert by_id["p1"]["plain"] == 131


class TestLookupConcise:
    """Mongo 5.0 concise $lookup: localField/foreignField + pipeline."""

    @pytest.fixture(scope="class")
    def orders(self, spark):
        return spark.createDataFrame(
            [("o1", "p1", 10.0), ("o2", "p1", 5.0), ("o3", "p1", 7.0),
             ("o4", "p2", 1.0), ("o5", "p2", 99.0)],
            "oid string, pid string, amt double")

    def test_match_then_topn(self, people, orders):
        out = rows(people, [
            {"$lookup": {
                "from": "orders", "localField": "_id",
                "foreignField": "pid", "as": "top",
                "pipeline": [
                    {"$match": {"amt": {"$gte": 2}}},
                    {"$sort": {"amt": -1}},
                    {"$limit": 2}]}},
        ], catalog={"orders": orders})
        by_id = {r["_id"]: [d["oid"] for d in r["top"]] for r in out}
        # p1: amts 10, 7 (5 cut by limit); order = sort order
        assert by_id["p1"] == ["o1", "o3"]
        assert by_id["p2"] == ["o5"]   # o4 survives $match but rank 2
        assert by_id["p3"] == []

    def test_unwind_form(self, people, orders):
        out = rows(people, [
            {"$lookup": {
                "from": "orders", "localField": "_id",
                "foreignField": "pid", "as": "best", "unwind": True,
                "pipeline": [{"$sort": {"amt": -1}}, {"$limit": 1}]}},
            {"$project": {"_id": 1, "amt": "$best.amt"}},
        ], catalog={"orders": orders})
        assert sorted((r["_id"], r["amt"]) for r in out) == \
            [("p1", 10.0), ("p2", 99.0)]

    def test_transform_stage_raises(self, people, orders):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression, match="let"):
            run(people, [{"$lookup": {
                "from": "orders", "localField": "_id",
                "foreignField": "pid", "as": "x",
                "pipeline": [{"$project": {"amt": 1}}]}}],
                catalog={"orders": orders})


class TestReviewRegressions2:
    """Second review batch locks."""

    def test_concise_lookup_overwrites_as(self, spark, people):
        orders = spark.createDataFrame(
            [("o1", "p1", 10.0)], "oid string, pid string, amt double")
        df = people.withColumn("top", people["_id"])  # pre-existing col
        out = rows(df, [{"$lookup": {
            "from": "orders", "localField": "_id",
            "foreignField": "pid", "as": "top",
            "pipeline": [{"$sort": {"amt": -1}}]}}],
            catalog={"orders": orders})
        by_id = {r["_id"]: r["top"] for r in out}
        assert [d["oid"] for d in by_id["p1"]] == ["o1"]
        assert by_id["p2"] == []

    def test_plain_lookup_overwrites_as(self, spark, people):
        orders = spark.createDataFrame(
            [("o1", "p1", 10.0)], "oid string, pid string, amt double")
        df = people.withColumn("ords", people["_id"])
        out = rows(df, [{"$lookup": {
            "from": "orders", "localField": "_id",
            "foreignField": "pid", "as": "ords"}}],
            catalog={"orders": orders})
        by_id = {r["_id"]: r["ords"] for r in out}
        assert [d["oid"] for d in by_id["p1"]] == ["o1"]

    def test_concise_dotted_sort_key(self, spark, people):
        orders = spark.createDataFrame(
            [("o1", "p1", (1,)), ("o2", "p1", (9,))],
            "oid string, pid string, meta struct<score:int>")
        out = rows(people.filter("_id = 'p1'"), [{"$lookup": {
            "from": "orders", "localField": "_id",
            "foreignField": "pid", "as": "best",
            "pipeline": [{"$sort": {"meta.score": -1}},
                         {"$limit": 1}]}}], catalog={"orders": orders})
        assert [d["oid"] for d in out[0]["best"]] == ["o2"]

    def test_json_schema_enum_rejects_null_elements(self, spark):
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.match import (
            compile_query,
        )
        df = spark.createDataFrame(
            [("r1", ["a", None]), ("r2", ["a", "b"])],
            "_id string, arr array<string>")
        pred = compile_query({"$jsonSchema": {"properties": {
            "arr": {"items": {"enum": ["a", "b"]}}}}}, ctx_for(df))
        assert [r["_id"] for r in df.filter(pred).collect()] == ["r2"]
        # null IS valid when the enum lists it
        pred2 = compile_query({"$jsonSchema": {"properties": {
            "arr": {"items": {"enum": ["a", "b", None]}}}}}, ctx_for(df))
        assert sorted(r["_id"] for r in df.filter(pred2).collect()) == \
            ["r1", "r2"]

    def test_densify_date_explicit_bounds_exact_grid(self, spark):
        import datetime as dt
        df = spark.createDataFrame([("a", dt.date(2024, 1, 2))],
                                   "k string, d date")
        out = rows(df, [{"$densify": {
            "field": "d",
            "range": {"step": 1, "unit": "day",
                      "bounds": ["2024-01-01", "2024-01-04"]}}}])
        assert sorted(r["d"].isoformat() for r in out) == \
            ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]


class TestRollupCube:
    def test_rollup_levels(self, people):
        out = rows(people, [{"$rollup": {
            "_id": {"age": "$age", "city": "$address.city"},
            "n": {"$count": {}},
            "bal": {"$sum": "$balance"}}}])
        by = {(r["_id"]["age"], r["_id"]["city"], r["_grouping"]): r
              for r in out}
        # finest level (grouping 0)
        assert by[(28, "Aalst", 0)]["n"] == 1
        # per-age subtotal (city rolled up -> grouping 1)
        assert by[(28, None, 1)]["n"] == 2
        # grand total
        assert by[(None, None, 3)]["n"] == 4
        assert by[(None, None, 3)]["bal"] == pytest.approx(2150.24)
        # rollup has NO city-only level
        assert not any(k[0] is None and k[1] is not None and k[2] == 2
                       for k in by)

    def test_cube_has_all_levels(self, people):
        out = rows(people, [{"$cube": {
            "_id": {"age": "$age", "city": "$address.city"},
            "n": {"$count": {}}}}])
        gs = {r["_grouping"] for r in out}
        assert gs == {0, 1, 2, 3}
        by = {(r["_id"]["age"], r["_id"]["city"], r["_grouping"]): r["n"]
              for r in out}
        assert by[(None, "Ghent", 2)] == 2  # city-only level exists

    def test_streaming_rejected(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        with pytest.raises(UnsupportedExpression):
            run(stream, [{"$rollup": {"_id": {"v": "$value"},
                                      "n": {"$count": {}}}}])


class TestOutReplacesCatalog:
    def test_out_replaces_collection(self, spark, people):
        old = spark.createDataFrame([("x", 1)], "_id string, v int")
        pctx = PipelineContext(catalog={"t": old})
        compile_pipeline(people, [{"$out": "t"}], pctx)
        # $out REPLACES: later $lookup against 't' sees the new rows
        assert pctx.catalog["t"].count() == 4
        assert pctx.outputs["t"].count() == 4


class TestStageProperties:
    def test_rollup_levels_consistent_on_random_data(self, spark):
        """Every rollup level's counts sum to the grand total; finest
        level equals a plain groupBy."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        @settings(max_examples=8, deadline=None)
        @given(st.lists(
            st.tuples(st.sampled_from("abc"), st.sampled_from("xy"),
                      st.integers(0, 9)),
            min_size=1, max_size=20))
        def check(rows_in):
            df = spark.createDataFrame(rows_in, "a string, b string, v int")
            out = rows(df, [{"$rollup": {
                "_id": {"a": "$a", "b": "$b"},
                "n": {"$count": {}}, "s": {"$sum": "$v"}}}])
            total = sum(v for _, _, v in rows_in)
            by_g = {}
            for r in out:
                by_g.setdefault(r["_grouping"], []).append(r)
            assert set(by_g) <= {0, 1, 3}
            for g, rs in by_g.items():
                assert sum(r["n"] for r in rs) == len(rows_in), g
                assert sum(r["s"] for r in rs) == total, g
            finest = {(r["_id"]["a"], r["_id"]["b"]): r["n"]
                      for r in by_g[0]}
            import collections
            want = collections.Counter((a, b) for a, b, _ in rows_in)
            assert finest == dict(want)

        check()

    def test_merge_matches_dict_reference(self, spark):
        """$merge whenMatched modes == a python dict-merge reference on
        random source/target frames."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        row = st.tuples(st.sampled_from("abcde"),
                        st.one_of(st.none(), st.integers(0, 9)))

        @settings(max_examples=8, deadline=None)
        @given(st.lists(row, max_size=5, unique_by=lambda r: r[0]),
               st.lists(row, max_size=5, unique_by=lambda r: r[0]),
               st.sampled_from(["replace", "keepExisting", "merge"]),
               st.sampled_from(["insert", "discard"]))
        def check(src_rows, tgt_rows, wm, wnm):
            src = spark.createDataFrame(src_rows or [("zz", None)],
                                        "_id string, v int")
            if not src_rows:
                src = src.limit(0)
            tgt = spark.createDataFrame(tgt_rows or [("zz", None)],
                                        "_id string, v int")
            if not tgt_rows:
                tgt = tgt.limit(0)
            pctx = PipelineContext(catalog={"t": tgt})
            compile_pipeline(src, [{"$merge": {
                "into": "t", "whenMatched": wm,
                "whenNotMatched": wnm}}], pctx)
            got = {r["_id"]: r["v"]
                   for r in pctx.outputs["t"].collect()}
            ref = {k: v for k, v in tgt_rows}
            for k, v in src_rows:
                if k in ref:
                    if wm == "replace":
                        ref[k] = v
                    elif wm == "merge":
                        ref[k] = v if v is not None else ref[k]
                elif wnm == "insert":
                    ref[k] = v
            assert got == ref, (src_rows, tgt_rows, wm, wnm, got, ref)

        check()


class TestReviewRegressions3:
    """Round-4 advisory locks."""

    def test_json_schema_type_list_with_null_accepts_null(self, spark):
        # draft-4: {type: ["string", "null"]} accepts null VALUES; the
        # static-dtype shortcut must not collapse to isNotNull()
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.match import (
            compile_query,
        )
        df = spark.createDataFrame(
            [("r1", None), ("r2", "x"), ("r3", "y")],
            "_id string, v string")
        pred = compile_query({"$jsonSchema": {"properties": {
            "v": {"type": ["string", "null"]}}}}, ctx_for(df))
        assert sorted(r["_id"] for r in df.filter(pred).collect()) == \
            ["r1", "r2", "r3"]
        # null array ELEMENTS under items must pass too
        dfa = spark.createDataFrame(
            [("a1", ["x", None]), ("a2", ["x"])],
            "_id string, arr array<string>")
        preda = compile_query({"$jsonSchema": {"properties": {
            "arr": {"items": {"type": ["string", "null"]}}}}},
            ctx_for(dfa))
        assert sorted(r["_id"] for r in dfa.filter(preda).collect()) == \
            ["a1", "a2"]
        # without "null" in the list the null value still fails
        pred2 = compile_query({"$jsonSchema": {"properties": {
            "v": {"type": "string"}}, "required": ["v"]}}, ctx_for(df))
        assert sorted(r["_id"] for r in df.filter(pred2).collect()) == \
            ["r2", "r3"]

    def test_interval_join_left_outer_null_safe(self, spark):
        # a matched event with a NULL payload column must appear exactly
        # once (the old anti-join on all columns emitted it twice)
        from pincette_json_streams_spark.functions.timeseries import (
            interval_join,
        )
        ev = spark.createDataFrame(
            [(1, 5, None), (2, 50, "p"), (2, 500, None)],
            "k int, t long, payload string")
        iv = spark.createDataFrame(
            [(1, 0, 10, "i1"), (2, 40, 60, "i2")],
            "k int, s long, e long, iv string")
        out = interval_join(ev, iv, "t", "s", "e", by="k", bucket=10,
                            how="left_outer").collect()
        rows_ = sorted((r["k"], r["t"], r["iv"]) for r in out)
        assert rows_ == [(1, 5, "i1"), (2, 50, "i2"), (2, 500, None)]

    def test_out_streaming_does_not_clobber_static_catalog(self, spark):
        static = spark.createDataFrame([(1,)], "a int")
        stream = (spark.readStream.format("rate")
                  .option("rowsPerSecond", 1).load())
        pctx = PipelineContext(catalog={"c": static})
        compile_pipeline(stream, [{"$out": "c"}], pctx)
        assert pctx.catalog["c"] is static          # lookup source kept
        assert pctx.outputs["c"] is not static      # sink captured
        # a fresh name is captured as an output but NEVER enters the
        # catalog: a later $lookup of it would be a stream-as-batch join
        pctx2 = PipelineContext(catalog={})
        compile_pipeline(stream, [{"$out": "d"}], pctx2)
        assert "d" not in pctx2.catalog
        assert pctx2.outputs["d"].isStreaming
        # and collection() refuses a streaming entry outright
        import pytest as _pytest
        pctx3 = PipelineContext(catalog={"s": stream})
        with _pytest.raises(KeyError, match="streaming"):
            pctx3.collection("s")

    def test_union_with_stream_stream_still_legal(self, spark):
        # R5 review lock: the streaming-catalog guard must NOT break
        # $unionWith of two streams (its own error message recommends
        # exactly that shape)
        s1 = (spark.readStream.format("rate")
              .option("rowsPerSecond", 1).load())
        s2 = (spark.readStream.format("rate")
              .option("rowsPerSecond", 1).load())
        pctx = PipelineContext(catalog={"other": s2})
        out = compile_pipeline(s1, [{"$unionWith": "other"}], pctx)
        assert out.isStreaming

    def test_date_from_parts_carries_overflow(self, spark):
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.expressions import (
            compile_expr,
        )
        df = spark.createDataFrame([(1,)], "x int")
        cases = [
            ({"year": 2023, "month": 13, "day": 1},
             "2024-01-01T00:00:00Z"),      # month carries into next year
            ({"year": 2024, "month": 3, "day": 0},
             "2024-02-29T00:00:00Z"),      # day 0 = last of prev month
            ({"year": 2024, "month": 1, "day": 32},
             "2024-02-01T00:00:00Z"),      # day carries into next month
            ({"year": 2024, "month": 0, "day": 1},
             "2023-12-01T00:00:00Z"),      # month 0 = December prev year
            ({"year": 2024, "month": 1, "day": 1, "hour": 25},
             "2024-01-02T01:00:00Z"),      # hour carries into next day
        ]
        for spec, want in cases:
            got = df.select(
                compile_expr({"$dateFromParts": spec},
                             ctx_for(df)).alias("d")).first()["d"]
            assert got == want, (spec, got, want)


class TestTimeRangeWindows:
    """$setWindowFields time-range windows: {"range": [a, b],
    "unit": "hour"} frames by the sort key's wall-clock distance."""

    def test_hourly_rolling_sum(self, spark):
        rows = [("u1", "2024-01-01T00:00:00Z", 1.0),
                ("u1", "2024-01-01T00:30:00Z", 2.0),
                ("u1", "2024-01-01T01:15:00Z", 4.0),
                ("u1", "2024-01-01T05:00:00Z", 8.0),
                ("u2", "2024-01-01T00:10:00Z", 16.0)]
        df = spark.createDataFrame(rows, "u string, ts string, v double")
        out = rows_by_key(spark, df)
        # trailing 1 hour inclusive: [-1, 0] hours
        assert out == {
            ("u1", "2024-01-01T00:00:00Z"): 1.0,
            ("u1", "2024-01-01T00:30:00Z"): 3.0,
            ("u1", "2024-01-01T01:15:00Z"): 6.0,   # 00:30 + 01:15
            ("u1", "2024-01-01T05:00:00Z"): 8.0,   # nothing within 1 h
            ("u2", "2024-01-01T00:10:00Z"): 16.0,
        }

    def test_unit_requires_fixed_width(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame(
            [("u1", "2024-01-01T00:00:00Z", 1.0)],
            "u string, ts string, v double")
        with pytest.raises(UnsupportedExpression):
            rows(df, [{"$windowFields": {
                "partitionBy": "$u", "sortBy": {"ts": 1},
                "output": {"s": {"$sum": "$v", "window": {
                    "range": [-1, 0], "unit": "month"}}}}}])


def rows_by_key(spark, df):
    out = rows(df, [{"$windowFields": {
        "partitionBy": "$u", "sortBy": {"ts": 1},
        "output": {"s": {"$sum": "$v",
                         "window": {"range": [-1, 0],
                                    "unit": "hour"}}}}}])
    return {(r["u"], r["ts"]): r["s"] for r in out}


class TestHostileStageSpecMatrix:
    """Round-8 sweep: a malformed stage spec must raise a NAMED
    build-time error (UnsupportedExpression, or a deliberately-raised
    ValueError with a crafted message), never an opaque KeyError/
    TypeError/AttributeError/AnalysisException from inside a handler
    (63 of 79 stages leaked before the dispatch-boundary guard)."""

    HOSTILE = [None, True, 0, 2.5, "", "x", [], [1], {}, {"$x": 1},
               {"input": None}, {"by": 7}]

    def test_no_raw_exceptions_at_compile(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        from pincette_json_streams_spark.operators.stages import (
            STAGES, PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [(1, "s", 2.5, [1, 2])],
            "a long, b string, c double, d array<long>")
        crashes = []
        for stage in sorted(STAGES):
            for h in self.HOSTILE:
                try:
                    compile_pipeline(df, [{stage: h}],
                                     PipelineContext())
                except (UnsupportedExpression, ValueError,
                        RecursionError):
                    pass
                except Exception as e:  # noqa: BLE001
                    crashes.append((stage, repr(h)[:20],
                                    type(e).__name__))
        assert not crashes, crashes[:10]


class TestMultimodalStages:
    """Stage-level drives of the multimodal fingerprint family — the
    function-level coverage lives in test_functions; these lock the
    YAML spec surface ($resizeImage thumbnail+dHash columns,
    $videoFingerprint per-frame lane rows)."""

    def test_resize_image_stage(self, spark):
        import struct

        def bmp_1x1(r, g, b):
            px = bytes([b, g, r, 0])
            header = b"BM" + struct.pack("<IHHI", 54 + len(px),
                                         0, 0, 54)
            dib = struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 24, 0,
                              len(px), 2835, 2835, 0, 0)
            return header + dib + px

        df = spark.createDataFrame(
            [("a", bytearray(bmp_1x1(255, 0, 0))),
             ("b", bytearray(b"junk"))],
            "asset_id string, media binary")
        out = run(df, [{"$resizeImage": {"field": "media",
                                          "width": 2, "height": 2}}])
        got = {r["asset_id"]: r["thumb"].asDict() for r in out.collect()}
        # red, BT.709 integer luma: 2126*255 // 10000 = 54
        assert got["a"]["pixels"] == [54, 54, 54, 54]
        assert got["a"]["dhash"] == 0      # flat image: no increases
        assert got["b"]["dhash"] is None

    def test_video_fingerprint_stage(self, spark):
        import numpy as np

        from tests.test_functions import TestAviFrames, _JpegTestEncoder

        enc = _JpegTestEncoder()
        frames = [enc.encode(np.roll(np.tile(
            np.arange(0, 256, 16, dtype=np.uint8), (16, 1))[:, :16],
            k * 3, axis=1)) for k in range(3)]
        df = spark.createDataFrame(
            [(7, bytearray(TestAviFrames._avi(frames)))],
            "vid long, media binary")
        out = run(df, [{"$videoFingerprint": {"field": "media",
                                               "id": "vid",
                                               "frames": 3}}])
        rows = out.collect()
        assert sorted((r["vid"], r["frame_idx"]) for r in rows) \
            == [(7, 0), (7, 1), (7, 2)]
        assert all(r["dhash"] is not None for r in rows)

    def test_audio_fingerprint_windows_stage(self, spark):
        """$audioFingerprintWindows: per-window HK lanes from YAML,
        matching the whole-clip lane on each full window slice."""
        import numpy as np

        from tests.test_functions import TestMultimodal as TM

        rng = np.random.default_rng(23)
        a = rng.integers(-32768, 32768, 1536).tolist()
        df = spark.createDataFrame(
            [(9, bytearray(TM._wav_bytes(a)))],
            "clip_id long, media binary")
        out = run(df, [{"$audioFingerprintWindows": {
            "field": "media", "id": "clip_id", "hop": 512}}])
        got = {(r["clip_id"], r["window_idx"]): r["afp"]
               for r in out.collect()}
        assert set(got) == {(9, 0), (9, 1)}
        assert got[(9, 0)] == TM._afp_mirror(a[:1024])
        assert got[(9, 1)] == TM._afp_mirror(a[512:1536])


class TestNgramPairsStage:
    """$ngramPairs: the YAML surface for exact n-gram Jaccard —
    including df_cap, which until round 11 was Python-API-only, so a
    YAML-first user could not reach the 100 TB skew-guarded path."""

    def test_ngram_pairs_and_df_cap_binding(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f"),
             (3, "a b c d e zz"), (4, "m n o p q r")],
            "doc_id long, text string")
        out = run(df, [{"$ngramPairs": {
            "text": "text", "id": "doc_id", "n": 3,
            "threshold": 0.4}}])
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in out.collect()}
        assert got == {(1, 2): 1.0, (1, 3): 0.6, (2, 3): 0.6}
        # dfCap reaches the capped path: every gram of docs 1-3 is
        # shared by >= 2 distinct sets, so dfCap=1 drops them all —
        # only the verbatim-identical pair (same set digest) survives
        capped = run(df, [{"$ngramPairs": {
            "text": "text", "id": "doc_id", "n": 3,
            "threshold": 0.4, "dfCap": 1}}])
        got_c = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in capped.collect()}
        assert got_c == {(1, 2): 1.0}


class TestCrawlStages:
    """$warcRecords + $htmlExtract: the YAML surface of the round-12
    crawl ingestion tier (functions/crawl.py), composing into the
    archive -> responses -> main-text pipeline a crawl corpus runs
    first."""

    def test_warc_then_html_extract_pipeline(self, spark):
        import base64

        from tests.test_functions import TestCrawl as TC

        page = ("<html><head><title>Page one</title></head><body>"
                "<nav><a>Home</a> <a>About</a> <a>More links</a></nav>"
                "<p>Body paragraph with plenty of real text.</p>"
                "</body></html>")
        blob = TC._WARCINFO + TC._warc_response(
            "https://x.example/1", page.encode())
        df = spark.createDataFrame(
            [(5, base64.b64encode(blob).decode())],
            "fid long, warc string")
        out = run(df, [
            {"$warcRecords": {"field": "warc", "base64": True}},
            {"$match": {"warc_type": "response"}},
            {"$htmlExtract": {"field": "payload", "title": "t",
                              "text": "body"}},
        ])
        rows = out.collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["fid"], r["target_uri"], r["http_status"]) \
            == (5, "https://x.example/1", 200)
        assert r["t"] == "Page one"
        assert r["body"] == "Body paragraph with plenty of real text."
        assert r["n_blocks"] == 1

    def test_html_extract_knobs(self, spark):
        page = ("<body><p>tiny</p>"
                "<p>the keeper block with enough characters</p></body>")
        df = spark.createDataFrame([(1, page)], "pid long, html string")
        out = run(df, [{"$htmlExtract": {
            "field": "html", "minBlockChars": 3,
            "blocks": "kept"}}])
        r = out.collect()[0]
        assert r["kept"] == 2 and r["text"].startswith("tiny\n")


class TestTextFeatureStages:
    """$textFeatures / $qualityGate: the YAML surface of the text
    quality tier (functions/text.py), Python-API-only until round 12
    — the same reachability gap $ngramPairs closed for df_cap in
    round 11."""

    GOOD = ("The quick brown fox jumps over the lazy dog and then "
            "the fox runs far away into the quiet green woods again")
    BAD = "!!! ??? !!! ??? !!! ??? !!! ??? !!! ???"

    def test_text_features_stage_columns(self, spark):
        from pincette_json_streams_spark.functions.text import (
            quality_score, lang_id,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, self.GOOD), (2, self.BAD)], "pid long, text string")
        out = run(df, [{"$textFeatures": {
            "field": "text", "as": "tf", "score": "q",
            "lang": "lg"}}])
        rows = {r["pid"]: r for r in out.collect()}
        ref = {r["pid"]: r for r in df.select(
            "pid", quality_score(F.col("text")).alias("q"),
            lang_id(F.col("text")).alias("lg")).collect()}
        for pid in (1, 2):
            assert rows[pid]["q"] == ref[pid]["q"]
            assert rows[pid]["lg"] == ref[pid]["lg"]
            assert rows[pid]["tf"]["n_words"] is not None
        assert rows[1]["q"] > rows[2]["q"]
        assert rows[1]["lg"] == "en"

    def test_quality_gate_stage_filters(self, spark):
        df = spark.createDataFrame(
            [(1, self.GOOD), (2, self.BAD)], "pid long, text string")
        out = run(df, [{"$qualityGate": {"field": "text",
                                         "num": 1, "den": 2}}])
        assert [r["pid"] for r in out.collect()] == [1]
        assert out.columns == ["pid", "text"]  # temp struct dropped

    def test_quality_gate_reuses_tf_struct(self, spark):
        df = spark.createDataFrame(
            [(1, self.GOOD), (2, self.BAD)], "pid long, text string")
        out = run(df, [
            {"$textFeatures": {"field": "text", "as": "tf"}},
            {"$qualityGate": {"field": "text", "tf": "tf",
                              "num": 1, "den": 2}},
        ])
        rows = out.collect()
        assert [r["pid"] for r in rows] == [1]
        assert "tf" in out.columns


class TestRobotsFilterStage:
    """$robotsFilter: the YAML politeness gate (functions/robots.py)
    — stream-static rules join, drop-or-annotate."""

    def test_drop_and_annotate_modes(self, spark):
        robots = spark.createDataFrame(
            [("h.example",
              "User-agent: *\nDisallow: /no/\nAllow: /no/ok\n")],
            "host string, robots string")
        df = spark.createDataFrame(
            [(1, "https://h.example/no/x"),
             (2, "https://h.example/no/ok/y"),
             (3, "https://h.example/fine")],
            "uid long, url string")
        dropped = run(df, [{"$robotsFilter": {"robots": "robots"}}],
                      catalog={"robots": robots})
        assert sorted(r["uid"] for r in dropped.collect()) == [2, 3]
        assert "allowed" not in dropped.columns
        kept = run(df, [{"$robotsFilter": {
            "robots": "robots", "keep": True, "as": "ok"}}],
            catalog={"robots": robots})
        assert {r["uid"]: r["ok"] for r in kept.collect()} \
            == {1: False, 2: True, 3: True}


class TestExtensionTable:
    """The function-backed extension stages are one table
    (``stages.EXTENSIONS``): each spec key maps onto a parameter of the
    stage's function, and a key the stage does not take fails the
    build instead of being ignored."""

    @pytest.mark.parametrize("stage", sorted(EXTENSIONS))
    def test_unknown_key_is_named(self, spark, stage):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(UnsupportedExpression,
                           match=rf"\{stage}: unknown key 'threshhold'"):
            run(df, [{stage: {"threshhold": 0.5}}])

    @pytest.mark.parametrize("stage, spec, key", [
        ("$asofLookup", {"on": "t", "by": "u"}, "from"),
        ("$sessionize", {"by": "u", "ts": "t"}, "gap"),
        ("$zorder", {"bits": 8}, "columns"),
        ("$robotsFilter", {}, "robots"),
        ("$nearDups", {"verify": {"minSim": 0.9, "cutoff": 3}},
         "verify.cutoff"),
    ])
    def test_missing_or_nested_key_is_named(self, spark, stage, spec, key):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(UnsupportedExpression, match=f"'{key}'"):
            run(df, [{stage: spec}])

    def test_values_are_coerced_or_refused(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame([(1, "a b c d e")],
                                   "doc_id long, text string")
        got = run(df, [{"$chunk": {"size": "2", "overlap": 0}}])
        assert [r["chunk"] for r in got.orderBy("chunk_idx").collect()] \
            == ["a b", "c d", "e"]
        with pytest.raises(UnsupportedExpression, match="'size' must be int"):
            run(df, [{"$chunk": {"size": [2]}}])
        with pytest.raises(UnsupportedExpression, match="non-empty list"):
            run(df, [{"$ewma": {"orderBy": "doc_id"}}])
        with pytest.raises(UnsupportedExpression, match="object spec"):
            run(df, [{"$chunk": "text"}])
        # a scalar spec stands for the stage's field key
        got = run(df, [{"$scrubPii": "text"}])
        assert got.columns == ["doc_id", "text"]

    @pytest.mark.parametrize("stage, field, binary", [
        ("$warcRecords", "warc", "warc"),
        ("$sitemapUrls", "sitemap", "sitemap"),
        ("$audioFingerprint", "media", "wav"),
    ])
    def test_base64_decodes_the_field_in_place(self, spark, stage, field,
                                               binary):
        """``base64: true`` decodes the field in place: the output equals
        the binary input's, so a flat-map does not copy the archive's
        base64 text onto each record row."""
        import base64

        from tests.test_functions import TestCrawl as TC
        from tests.test_functions import TestMultimodal as TM

        payload = {
            "warc": TC._WARCINFO + TC._warc_response(
                "https://x.example/1", b"<p>hi</p>"),
            "sitemap": (b"<urlset><url><loc>https://x.example/a</loc>"
                        b"</url></urlset>"),
            "wav": TM._wav_bytes(list(range(0, 3000, 3))),
        }[binary]
        text = base64.b64encode(payload).decode()
        b64 = spark.createDataFrame([(7, text)], f"fid long, {field} string")
        raw = spark.createDataFrame([(7, bytearray(payload))],
                                    f"fid long, {field} binary")
        got = run(b64, [{stage: {"field": field, "base64": True}}])
        want = run(raw, [{stage: {"field": field}}])
        assert got.columns == want.columns
        assert (field in got.columns) == (stage == "$audioFingerprint")
        rows = got.collect()
        assert rows and rows == want.collect()

    def test_video_base64_matches_binary(self, spark):
        """$videoFingerprint's output carries only (id, frame_idx,
        dhash); base64 transport gives the binary input's lanes."""
        import base64

        import numpy as np

        from tests.test_functions import TestAviFrames, _JpegTestEncoder

        enc = _JpegTestEncoder()
        avi = TestAviFrames._avi([enc.encode(np.roll(np.tile(
            np.arange(0, 256, 16, dtype=np.uint8), (16, 1))[:, :16],
            k * 3, axis=1)) for k in range(2)])
        b64 = spark.createDataFrame(
            [(7, base64.b64encode(avi).decode())], "vid long, media string")
        raw = spark.createDataFrame([(7, bytearray(avi))],
                                    "vid long, media binary")
        spec = {"field": "media", "id": "vid", "frames": 2}
        got = run(b64, [{"$videoFingerprint": {**spec, "base64": True}}])
        want = run(raw, [{"$videoFingerprint": spec}])
        assert sorted(got.collect()) == sorted(want.collect())
        assert len(want.collect()) == 2

    def test_dedup_spans_action_is_checked(self, spark):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(UnsupportedExpression, match="mark or strip"):
            run(df, [{"$dedupSpans": {"action": "strp"}}])
