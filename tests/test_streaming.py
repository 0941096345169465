"""Structured-Streaming runtime tests: stream parts, update-mode grouping,
streaming dedup, and the stateful event-sourcing aggregate
(SURVEY.md §2.8, §3.2; availableNow drain mirrors the reference's `test`
command, Test.java:429-512)."""

import json

import pytest
from pyspark.sql import functions as F

from pincette_json_streams_spark.streaming.runtime import (
    StreamingApp,
    file_stream_catalog,
    streaming_aggregate,
)

PEOPLE_SCHEMA = "_id string, name string, age int, balance double"


@pytest.fixture()
def people_dir(spark, tmp_path):
    d = str(tmp_path / "people")
    spark.createDataFrame(
        [("p1", "Alice", 34, 1200.5), ("p2", "Bob", 28, -50.25),
         ("p3", "Carol", 41, 0.0), ("p4", "Dave", 28, 999.99)],
        PEOPLE_SCHEMA,
    ).write.parquet(d)
    return d


def memory_sink(tmp_path):
    import uuid

    run_id = uuid.uuid4().hex[:8]

    def factory(name, df):
        qname = f"mem_{run_id}_{name.replace('-', '_')}"
        mode = "complete" if df.isStreaming and _is_aggregated(df) \
            else "append"
        return (df.writeStream.format("memory").queryName(qname)
                .outputMode(mode)
                .option("checkpointLocation",
                        str(tmp_path / "ckpt" / qname)))
    factory.run_id = run_id
    return factory


def _is_aggregated(df):
    # crude plan sniff: update/complete needed for aggregations
    plan = df._jdf.queryExecution().analyzed().toString()
    return "Aggregate" in plan


class TestStreamParts:
    def test_match_project_pipeline(self, spark, tmp_path, people_dir):
        catalog = file_stream_catalog(
            spark, {"people": people_dir}, {"people": PEOPLE_SCHEMA})
        app = StreamingApp(spark, {
            "application": "s1", "parts": [
                {"type": "stream", "name": "adults", "fromTopic": "people",
                 "toTopic": "out", "pipeline": [
                     {"$match": {"age": {"$gte": 30}}},
                     {"$project": {"_id": 1, "name": 1}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = spark.sql(f"SELECT * FROM mem_{sink.run_id}_out").collect()
        assert sorted(r["name"] for r in got) == ["Alice", "Carol"]

    def test_streaming_group_update(self, spark, tmp_path, people_dir):
        catalog = file_stream_catalog(
            spark, {"people": people_dir}, {"people": PEOPLE_SCHEMA})
        app = StreamingApp(spark, {
            "application": "s2", "parts": [
                {"type": "stream", "name": "byage", "fromTopic": "people",
                 "toTopic": "counts", "pipeline": [
                     {"$group": {"_id": "$age", "n": {"$count": {}}}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = {r["_id"]: r["n"] for r in
               spark.sql(f"SELECT * FROM mem_{sink.run_id}_counts")
               .collect()}
        assert got == {34: 1, 28: 2, 41: 1}

    def test_streaming_dedup(self, spark, tmp_path, people_dir):
        catalog = file_stream_catalog(
            spark, {"people": people_dir}, {"people": PEOPLE_SCHEMA})
        app = StreamingApp(spark, {
            "application": "s3", "parts": [
                {"type": "stream", "name": "d", "fromTopic": "people",
                 "toTopic": "uniq", "pipeline": [
                     {"$deduplicate": {"expression": "$age"}},
                     {"$project": {"age": 1}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = spark.sql(f"SELECT * FROM mem_{sink.run_id}_uniq").collect()
        assert len(got) == 3


class TestStreamingSessionize:
    def test_native_session_window(self, spark, tmp_path):
        """sessionize_stream rides Spark's native session_window: events
        within the gap merge into one session, a larger gap splits."""
        import pyspark.sql.functions as F

        from pincette_json_streams_spark.functions.timeseries import (
            sessionize_stream,
        )
        d = str(tmp_path / "ev")
        spark.createDataFrame(
            [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:03:00"),
             (1, "2024-01-01 02:00:00"), (2, "2024-01-01 00:00:00")],
            "u long, t string",
        ).select("u", F.col("t").cast("timestamp").alias("t")) \
         .write.parquet(d)
        src = (spark.readStream.schema("u long, t timestamp")
               .format("parquet").load(d))
        sess = sessionize_stream(
            src, by="u", ts="t", gap_duration="10 minutes",
            watermark="0 seconds",
        )
        q = (sess.writeStream.format("memory").queryName("mem_sess")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["u"], str(r["session_start"])): r["n_events"]
               for r in spark.sql("SELECT * FROM mem_sess").collect()}
        # user 1: two events 3 min apart merge; the 02:00 event is its
        # own session.  append mode only emits watermark-closed sessions;
        # with the 0s watermark held at max event time, the last session
        # per user stays open — so we see the merged early session only.
        assert got[(1, "2024-01-01 00:00:00")] == 2


class TestStreamingThrottle:
    def test_throttle_paces_stream(self, spark, tmp_path, people_dir):
        """$throttle maxPerSecond genuinely slows the stream: 4 rows at
        an aggregate ~6 rows/s budget must take >= ~0.5 s of executor
        pacing, and every row still arrives exactly once."""
        import time

        catalog = file_stream_catalog(
            spark, {"people": people_dir}, {"people": PEOPLE_SCHEMA})
        app = StreamingApp(spark, {
            "application": "thr", "parts": [
                {"type": "stream", "name": "t", "fromTopic": "people",
                 "toTopic": "slow", "pipeline": [
                     {"$throttle": {"maxPerSecond": 6}},
                     {"$project": {"_id": 1}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        t0 = time.time()
        app.run_until_drained(sink)
        elapsed = time.time() - t0
        got = spark.sql(f"SELECT * FROM mem_{sink.run_id}_slow").collect()
        assert len(got) == 4
        # 4 rows / (6/s split over cores): at least one task must have
        # slept; bound loosely to stay robust under load
        assert elapsed >= 0.4


class TestStreamingJoin:
    def test_windowed_stream_join(self, spark, tmp_path):
        """join part with a window (docs/join.md:14): watermarked
        stream-stream equi-join; bounded input arriving together joins
        fully within the window."""
        pd_ = str(tmp_path / "jl")
        od = str(tmp_path / "jr")
        spark.createDataFrame(
            [("p1", "A"), ("p2", "B")], "_id string, name string"
        ).write.parquet(pd_)
        spark.createDataFrame(
            [("o1", "p1"), ("o2", "p1"), ("o3", "p9")],
            "oid string, pid string",
        ).write.parquet(od)
        catalog = file_stream_catalog(
            spark, {"people": pd_, "orders": od},
            {"people": "_id string, name string",
             "orders": "oid string, pid string"})
        app = StreamingApp(spark, {
            "application": "sj", "parts": [
                {"type": "join", "name": "j", "toTopic": "out",
                 "window": 60000,
                 "left": {"fromTopic": "people", "on": "$_id"},
                 "right": {"fromTopic": "orders", "on": "$pid"}},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = spark.sql(f"SELECT * FROM mem_{sink.run_id}_out").collect()
        assert sorted((r["_id"], r["right"]["oid"]) for r in got) == \
            [("p1", "o1"), ("p1", "o2")]
        assert all(r["left"]["name"] == "A" for r in got)


class TestStreamingEdges:
    def test_dedup_cache_window_same_batch(self, spark, tmp_path):
        d = str(tmp_path / "dups")
        spark.createDataFrame(
            [("a", 1), ("a", 1), ("b", 2), ("a", 1)],
            "k string, v int",
        ).write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"msgs": d}, {"msgs": "k string, v int"})
        app = StreamingApp(spark, {
            "application": "sdw", "parts": [
                {"type": "stream", "name": "d", "fromTopic": "msgs",
                 "toTopic": "uniq", "pipeline": [
                     {"$deduplicate": {"expression": "$k",
                                       "cacheWindow": 60000}},
                     {"$project": {"k": 1}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = spark.sql(f"SELECT * FROM mem_{sink.run_id}_uniq").collect()
        assert sorted(r["k"] for r in got) == ["a", "b"]

    def test_join_suppresses_identical_pairs(self, spark, tmp_path):
        """Identical join outputs within the 1 s window collapse to one
        (the reference's duplicateFilter, App.java:707-708)."""
        ld, rd = str(tmp_path / "jl"), str(tmp_path / "jr")
        spark.createDataFrame(
            [("p1", "A"), ("p1", "A")], "_id string, name string"
        ).write.parquet(ld)
        spark.createDataFrame(
            [("o1", "p1")], "oid string, pid string"
        ).write.parquet(rd)
        catalog = file_stream_catalog(
            spark, {"l": ld, "r": rd},
            {"l": "_id string, name string", "r": "oid string, pid string"})
        app = StreamingApp(spark, {
            "application": "sjd", "parts": [
                {"type": "join", "name": "j", "toTopic": "out",
                 "window": 60000,
                 "left": {"fromTopic": "l", "on": "$_id"},
                 "right": {"fromTopic": "r", "on": "$pid"}},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = spark.sql(f"SELECT * FROM mem_{sink.run_id}_out").collect()
        assert len(got) == 1
        assert got[0]["left"]["name"] == "A" and got[0]["right"]["oid"] == "o1"

    def test_delay_redelivery_loop(self, spark, tmp_path):
        """A $delay-ed message re-enters through the target topic after
        deliver_after: spool -> timed hold -> append to the topic dir ->
        normal source re-ingests (docs/aggregation_stages.md:118-158)."""
        import os
        import time

        inbox = str(tmp_path / "inbox")
        retry = str(tmp_path / "retry")
        os.makedirs(retry)
        spark.createDataFrame(
            [("m1", 7)], "_id string, v int"
        ).write.parquet(inbox)
        schemas = {"inbox": "_id string, v int",
                   "retry": "_id string, v int"}
        catalog = file_stream_catalog(
            spark, {"inbox": inbox, "retry": retry}, schemas)
        app = StreamingApp(spark, {
            "application": "sd", "parts": [
                {"type": "stream", "name": "delayer", "fromTopic": "inbox",
                 "pipeline": [
                     {"$delay": {"duration": 2000, "topic": "retry"}},
                 ]},
                {"type": "stream", "name": "consumer", "fromTopic": "retry",
                 "toTopic": "out", "pipeline": []},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        t0 = time.time()
        queries = app.start(sink)
        queries += app.start_delay_redelivery(
            {"retry": retry}, schemas, str(tmp_path / "delay"))
        try:
            got = []
            deadline = time.time() + 60
            while time.time() < deadline:
                got = spark.sql(
                    f"SELECT * FROM mem_{sink.run_id}_out").collect()
                if got:
                    break
                time.sleep(0.5)
            assert [(r["_id"], r["v"]) for r in got] == [("m1", 7)]
            assert time.time() - t0 >= 2.0  # it actually waited
        finally:
            for q in queries:
                q.stop()

    def test_metrics_and_supervised_restart(self, spark, tmp_path):
        """Per-part counters from query progress (the reference's
        per-part message counts) and restart-on-error: a sink that
        fails its first batch succeeds after one supervised restart
        from the checkpoint."""
        d = str(tmp_path / "topic-m")
        spark.createDataFrame(
            [("m1", 1), ("m2", 2), ("m3", 3)], "_id string, v int"
        ).write.parquet(d)

        def build():
            catalog = file_stream_catalog(
                spark, {"t": d}, {"t": "_id string, v int"})
            return StreamingApp(spark, {
                "application": "met", "parts": [
                    {"type": "stream", "name": "s", "fromTopic": "t",
                     "toTopic": "out",
                     "pipeline": [{"$match": {"v": {"$gte": 2}}}]},
                ],
            }, catalog)

        out1 = str(tmp_path / "out1")

        def ok_sink(name, df):
            return (df.writeStream.format("parquet")
                    .option("path", out1)
                    .option("checkpointLocation",
                            str(tmp_path / "ck-m" / name)))

        metrics = build().run_until_drained(ok_sink, collect_metrics=True)
        # 2, not 3: the $match predicate is pushed into the parquet
        # scan, so the source itself only emits the matching rows
        assert metrics["out"]["numInputRows"] == 2
        assert metrics["out"]["numBatches"] >= 1

        # supervised restart: first foreachBatch call dies, retry wins
        flag = tmp_path / "failed-once"
        out2 = str(tmp_path / "out2")

        def flaky_sink(name, df):
            def write(batch_df, _epoch):
                if not flag.exists():
                    flag.write_text("x")
                    raise RuntimeError("transient sink failure")
                batch_df.write.mode("append").parquet(out2)
            return (df.writeStream.foreachBatch(write)
                    .option("checkpointLocation",
                            str(tmp_path / "ck-f" / name)))

        attempts = build().run_supervised(flaky_sink, max_restarts=2)
        assert attempts == 1
        assert sorted(r["_id"] for r in spark.read.parquet(out2)
                      .collect()) == ["m2", "m3"]

    def test_changelog_kinds_and_resume(self, spark, tmp_path):
        """The real fromCollection contract (App.java:650-683): a
        change-log collection emits insert/replace/delete kinds, and the
        checkpoint is the resume token — after a restart, an upsert to an
        EXISTING _id arrives exactly once, as a replace (the per-key
        existence state survives the restart too)."""
        from pincette_json_streams_spark.sources.changelog import (
            ChangeLogCollection,
        )

        coll = ChangeLogCollection(str(tmp_path / "coll"),
                                   "_id string, v int")
        out_dir = str(tmp_path / "events")
        ckpt = str(tmp_path / "ckpt")

        def drain():
            q = (
                coll.change_stream(spark).writeStream
                .format("parquet").option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination(120)
            return sorted(
                ((r["operationType"], r["_id"], r["v"])
                 for r in spark.read.parquet(out_dir).collect()),
            )

        coll.upsert(spark.createDataFrame(
            [("a", 1), ("b", 1)], "_id string, v int"))
        assert drain() == [("insert", "a", 1), ("insert", "b", 1)]

        # restart from the same checkpoint: only the NEW commits replay,
        # and the existing key comes through as replace, not insert
        coll.upsert(spark.createDataFrame([("a", 2)], "_id string, v int"))
        coll.delete(spark.createDataFrame([("b",)], "_id string"))
        assert drain() == [
            ("delete", "b", None), ("insert", "a", 1),
            ("insert", "b", 1), ("replace", "a", 2),
        ]

        # batch view: last writer wins, tombstones drop out
        snap = coll.snapshot(spark).collect()
        assert [(r["_id"], r["v"]) for r in snap] == [("a", 2)]

        # re-inserting a deleted key is an insert again
        coll.upsert(spark.createDataFrame([("b", 9)], "_id string, v int"))
        assert ("insert", "b", 9) in drain()

    def test_changelog_round_trip_as_sink(self, spark, tmp_path):
        """toCollection round-trip: a stream part's output upserts into
        a ChangeLogCollection through the sink layer; a change_stream
        reader over the same collection sees insert then replace."""
        from pincette_json_streams_spark.sources.changelog import (
            ChangeLogCollection,
        )
        from pincette_json_streams_spark.streaming.sinks import start_sink

        src_dir = str(tmp_path / "topic")
        spark.createDataFrame([("a", 1)], "_id string, v int") \
            .write.parquet(src_dir)
        coll = ChangeLogCollection(str(tmp_path / "coll"),
                                   "_id string, vv int")

        def drain_into_coll():
            src = spark.readStream.schema("_id string, v int") \
                .format("parquet").load(src_dir)
            out = src.selectExpr("_id", "v * 10 AS vv")
            q = start_sink(
                coll, out, str(tmp_path / "ck-sink")
            ).trigger(availableNow=True).start()
            q.awaitTermination(120)

        drain_into_coll()
        assert [(r["_id"], r["vv"]) for r in
                coll.snapshot(spark).collect()] == [("a", 10)]

        # append an updated doc to the source; redrain; feed sees replace
        spark.createDataFrame([("a", 2)], "_id string, v int") \
            .write.mode("append").parquet(src_dir)
        drain_into_coll()
        ev_dir, ck = str(tmp_path / "ev"), str(tmp_path / "ck-feed")
        q = (coll.change_stream(spark).writeStream.format("parquet")
             .option("path", ev_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = sorted((r["operationType"], r["vv"])
                     for r in spark.read.parquet(ev_dir).collect())
        assert got == [("insert", 10), ("replace", 20)]
        assert [(r["_id"], r["vv"]) for r in
                coll.snapshot(spark).collect()] == [("a", 20)]

    def test_changelog_compaction(self, spark, tmp_path):
        from pincette_json_streams_spark.sources.changelog import (
            ChangeLogCollection,
        )

        coll = ChangeLogCollection(str(tmp_path / "c2"), "_id string, v int")
        coll.upsert(spark.createDataFrame(
            [("a", 1), ("b", 5)], "_id string, v int"))
        coll.upsert(spark.createDataFrame([("a", 2)], "_id string, v int"))
        coll.delete(spark.createDataFrame([("b",)], "_id string"))
        coll.compact(spark)
        snap = coll.snapshot(spark).collect()
        assert [(r["_id"], r["v"]) for r in snap] == [("a", 2)]
        # a fresh stream over the compacted log sees one insert per key
        out_dir, ckpt = str(tmp_path / "ev2"), str(tmp_path / "ck2")
        q = (coll.change_stream(spark).writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = [(r["operationType"], r["_id"], r["v"])
               for r in spark.read.parquet(out_dir).collect()]
        assert got == [("insert", "a", 2)]

    def test_collection_change_feed_checkpointed(self, spark, tmp_path):
        """fromCollection over a change feed: appends propagate through a
        stream part; the checkpoint is the resume token (a second drain
        processes only the new documents)."""
        from pincette_json_streams_spark.streaming.runtime import (
            collection_change_stream,
        )

        coll = str(tmp_path / "coll")
        spark.createDataFrame(
            [("c1", 1), ("c2", 2)], "_id string, v int"
        ).write.parquet(coll)
        schema = "_id string, v int"

        def build():
            return StreamingApp(spark, {
                "application": "cf", "parts": [
                    {"type": "stream", "name": "feed",
                     "fromCollection": "things", "toTopic": "out",
                     "pipeline": [{"$set": {"vv": {"$multiply":
                                                   ["$v", 10]}}}]},
                ],
            }, {"things": collection_change_stream(spark, coll, schema)})

        out_dir = str(tmp_path / "outdir")

        # file sink: supports restart from its checkpoint (memory doesn't)
        def sink(name, df):
            return (df.writeStream.format("parquet")
                    .option("path", out_dir)
                    .option("checkpointLocation",
                            str(tmp_path / "ckpt" / name)))

        build().run_until_drained(sink)
        first = spark.read.parquet(out_dir).collect()
        assert sorted(r["vv"] for r in first) == [10, 20]

        # append a document to the collection; re-drain from checkpoint
        spark.createDataFrame([("c3", 3)], schema) \
            .write.mode("append").parquet(coll)
        build().run_until_drained(sink)
        second = spark.read.parquet(out_dir).collect()
        assert sorted(r["vv"] for r in second) == [10, 20, 30]


class TestStreamingAggregate:
    def test_fold_with_state(self, spark, tmp_path):
        d = str(tmp_path / "cmds")
        spark.createDataFrame(
            [("a1", "put", 10, 1, {"sub": "system"}),
             ("a2", "put", 5, 2, {"sub": "system"}),
             ("a1", "put", 20, 3, {"sub": "system"})],
            "_id string, _command string, v int, seq_in int, _jwt map<string,string>",
        ).coalesce(1).write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"shop-cart-command": d},
            {"shop-cart-command":
             "_id string, _command string, v int, seq_in int, _jwt map<string,string>"})
        app = StreamingApp(spark, {
            "application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "cart"},
            ],
        }, catalog)
        # the command purpose is read, not sunk: its name is the topic
        assert set(app.sinks) == {
            "shop-cart-aggregate", "shop-cart-event",
            "shop-cart-event-full", "shop-cart-reply"}
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        aggs = [json.loads(r["value"]) for r in spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_shop_cart_aggregate")
            .collect()]
        by_id = {}
        for doc in sorted(aggs, key=lambda x: x["_seq"]):
            by_id.setdefault(doc["_id"], []).append(doc)
        assert [d["v"] for d in by_id["a1"]] == [10, 20]
        assert [d["_seq"] for d in by_id["a1"]] == [0, 1]
        events = spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_shop_cart_event").collect()
        assert all("_ops" in json.loads(r["value"]) for r in events)

    def test_streaming_aggregate_href_lookup(self, spark, tmp_path):
        """Streaming jes href resolution: an injectable point-read
        lookup (the reference's async-Mongo shape) expands linked state
        for the reducer; stored aggregates keep the bare href."""
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext,
        )

        d = str(tmp_path / "cmds-href")
        spark.createDataFrame(
            [("b2", "put", 1, None, 1, {"sub": "system"}),
             ("b2", "add", None, None, 2, {"sub": "system"})],
            "_id string, _command string, v int, link struct<href:string>,"
            " seq_in int, _jwt map<string,string>",
        ).withColumn(
            "link",
            F.when(F.col("_command") == "put",
                   F.named_struct(F.lit("href"),
                                  F.lit("/shop/acct/a1"))),
        ).coalesce(1).write.parquet(d)

        schema = ("_id string, _command string, v int, "
                  "link struct<href:string>, seq_in int, "
                  "_jwt map<string,string>")
        catalog = file_stream_catalog(
            spark, {"shop-acct-command": d}, {"shop-acct-command": schema})

        def lookup(href):
            return {"_id": "a1", "value": 41} \
                if href == "/shop/acct/a1" else None

        app = StreamingApp(spark, {
            "application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "acct",
                 "commands": {
                     "put": {},
                     "add": {"reducer": [
                         {"$replaceWith": "$state"},
                         {"$set": {"v": {"$add": [
                             "$v", "$link.value"]}}},
                     ]},
                 }},
            ],
        }, catalog, pctx=PipelineContext(href_lookup=lookup))
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        aggs = [json.loads(r["value"]) for r in spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_shop_acct_aggregate")
            .collect()]
        final = max(aggs, key=lambda a: a["_seq"])
        assert final["v"] == 42  # 1 + linked value 41
        assert final["link"] == {"href": "/shop/acct/a1"}  # unresolved

    def test_resolve_hrefs_without_lookup_raises(self, spark, tmp_path):
        """A stream cannot run batch's join-based href resolution; without
        a ``href_lookup`` the part fails at compile instead of folding
        unresolved links."""
        from pincette_json_streams_spark.plans.spec import SpecError

        d = str(tmp_path / "cmds-nolookup")
        schema = "_id string, _command string, v int"
        spark.createDataFrame([("a1", "put", 1)], schema).write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"shop-acct-command": d}, {"shop-acct-command": schema})
        with pytest.raises(SpecError, match="href_lookup"):
            StreamingApp(spark, {"application": "shop", "parts": [
                {"type": "aggregate", "aggregateType": "acct",
                 "resolveHrefs": True}]}, catalog)

    def test_unsupported_preprocessor_raises(self, spark, tmp_path):
        """A preprocessor stage Spark cannot run ahead of the stateful
        fold fails the query start; it is never skipped."""
        from pyspark.errors import AnalysisException

        d = str(tmp_path / "cmds-sort")
        schema = "_id string, _command string, v int"
        spark.createDataFrame([("a1", "put", 1)], schema).write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"shop-acct-command": d}, {"shop-acct-command": schema})
        app = StreamingApp(spark, {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct",
             "preprocessor": [{"$sort": {"v": 1}}]}]}, catalog)
        with pytest.raises(AnalysisException):
            app.run_until_drained(memory_sink(tmp_path))

    def test_state_survives_batches(self, spark, tmp_path):
        """Second availableNow run resumes from checkpointed state: _seq
        continues, no replay of already-processed commands."""
        d = tmp_path / "cmds2"
        d.mkdir()
        spark.createDataFrame(
            [("b1", "put", 1, 1, {"sub": "system"})],
            "_id string, _command string, v int, seq_in int, "
            "_jwt map<string,string>",
        ).write.mode("append").parquet(str(d))

        out_dir = str(tmp_path / "agg-out")

        def run_once():
            catalog = file_stream_catalog(
                spark, {"inc-acc-command": str(d)},
                {"inc-acc-command":
                 "_id string, _command string, v int, seq_in int, _jwt map<string,string>"})
            app = StreamingApp(spark, {
                "application": "inc", "parts": [
                    {"type": "aggregate", "aggregateType": "acc"},
                ],
            }, catalog)

            def factory(name, df):
                # file sinks recover from checkpoints (memory can't)
                return (df.writeStream.format("parquet")
                        .option("path", out_dir + "/" + name)
                        .outputMode("append")
                        .option("checkpointLocation",
                                str(tmp_path / "ckpt2" / name)))
            # only the aggregate sink matters here
            writer = factory("agg", app.sinks["inc-acc-aggregate"])
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination(120)
            return [json.loads(r["value"]) for r in
                    spark.read.parquet(out_dir + "/agg").collect()]

        first = run_once()
        assert [a["_seq"] for a in first] == [0]
        # append a second command file, run again from the same checkpoint
        spark.createDataFrame(
            [("b1", "put", 2, 2, {"sub": "system"})],
            "_id string, _command string, v int, seq_in int, "
            "_jwt map<string,string>",
        ).write.mode("append").parquet(str(d))
        second = run_once()
        # resumed, not replayed: exactly one new state, _seq continues
        assert sorted(a["_seq"] for a in second) == [0, 1]
        assert {a["v"] for a in second} == {1, 2}


class TestStreamingRound3:
    """Round-3 stages in streaming mode: stateless canonicalization
    composes with streaming state ($deduplicate), and the count-min
    sketch maintains itself as a streaming aggregation."""

    DOCS_SCHEMA = "doc_id long, url string, tok string"

    @pytest.fixture()
    def docs_dir(self, spark, tmp_path):
        d = str(tmp_path / "docs")
        spark.createDataFrame(
            [(1, "https://E.com/p/?b=2&a=1&utm_s=x", "alpha"),
             (2, "HTTPS://e.COM:443/p?a=1&b=2", "alpha"),
             (3, "http://o.io/q", "beta"),
             (4, "http://o.io/q#frag", "alpha")],
            self.DOCS_SCHEMA,
        ).write.parquet(d)
        return d

    def test_streaming_url_dedup(self, spark, tmp_path, docs_dir):
        catalog = file_stream_catalog(
            spark, {"docs": docs_dir}, {"docs": self.DOCS_SCHEMA})
        app = StreamingApp(spark, {
            "application": "r3s1", "parts": [
                {"type": "stream", "name": "u", "fromTopic": "docs",
                 "toTopic": "uniq", "pipeline": [
                     {"$normalizeUrl": {"field": "url"}},
                     {"$deduplicate": {"expression": "$canonical_url"}},
                     {"$project": {"canonical_url": 1}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = sorted(r["canonical_url"] for r in spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_uniq").collect())
        # 1+2 collapse; 3+4 collapse (fragment dropped)
        assert got == ["http://o.io/q", "https://e.com/p?a=1&b=2"]

    def test_streaming_cms_sketch(self, spark, tmp_path, docs_dir):
        catalog = file_stream_catalog(
            spark, {"docs": docs_dir}, {"docs": self.DOCS_SCHEMA})
        app = StreamingApp(spark, {
            "application": "r3s2", "parts": [
                {"type": "stream", "name": "s", "fromTopic": "docs",
                 "toTopic": "sketch", "pipeline": [
                     {"$cmsSketch": {"field": "tok", "depth": 2,
                                     "width": 16}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        cells = spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_sketch").collect()
        assert 0 < len(cells) <= 2 * 16
        # the sketch holds exactly the token multiset: per depth-row
        # counts sum to the number of input rows
        per_d = {}
        for r in cells:
            per_d[r["d"]] = per_d.get(r["d"], 0) + r["cnt"]
        assert per_d == {0: 4, 1: 4}

    def test_streaming_hll_sketch(self, spark, tmp_path, docs_dir):
        """$hllSketch drains as an update-mode register-max aggregation
        — the streaming distinct-count sibling of $cmsSketch."""
        catalog = file_stream_catalog(
            spark, {"docs": docs_dir}, {"docs": self.DOCS_SCHEMA})
        app = StreamingApp(spark, {
            "application": "r6hll", "parts": [
                {"type": "stream", "name": "s", "fromTopic": "docs",
                 "toTopic": "sketch", "pipeline": [
                     {"$hllSketch": {"value": "tok", "p": 4}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        regs = spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_sketch").collect()
        assert 0 < len(regs) <= 1 << 4
        assert all(r["sketch_p"] == 4 and 1 <= r["m"] <= 40
                   for r in regs)


class TestBatchOnlyStageGuards:
    """Batch-only stages reject streaming input with a clear spec-level
    error instead of a late AnalysisException."""

    def test_guards(self, spark, tmp_path, people_dir):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        catalog = file_stream_catalog(
            spark, {"people": people_dir}, {"people": PEOPLE_SCHEMA})
        sdf = catalog["people"]
        cases = [
            {"$windowFields": {"sortBy": {"age": 1},
                               "output": {"r": {"$rank": {}}}}},
            {"$densify": {"field": "age", "partitionByFields": ["_id"],
                          "range": {"step": 1, "bounds": "partition"}}},
            {"$fill": {"sortBy": {"age": 1},
                       "output": {"balance": {"method": "locf"}}}},
            {"$facet": {"a": [{"$count": "n"}]}},
            {"$dedupSpans": {"text": "name", "id": "_id"}},
            {"$zorder": {"columns": ["age", "balance"]}},
            {"$weightedSample": {"weight": "balance", "k": 1,
                                 "id": "_id"}},
        ]
        for stage in cases:
            with pytest.raises(UnsupportedExpression, match="batch-only"):
                compile_pipeline(sdf, [stage], PipelineContext())


class TestUnionWithStreamGuard:
    def test_mixed_union_rejected(self, spark, tmp_path, people_dir):
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        catalog = file_stream_catalog(
            spark, {"people": people_dir}, {"people": PEOPLE_SCHEMA})
        static = spark.createDataFrame(
            [("x", "Y", 1, 0.0)], PEOPLE_SCHEMA)
        with pytest.raises(UnsupportedExpression, match="cannot mix"):
            compile_pipeline(
                catalog["people"],
                [{"$unionWith": {"coll": "extra"}}],
                PipelineContext(catalog={"extra": static}),
            )


class TestTwsProbe:
    """Version-gated probe for the transformWithStateInPandas backend.

    Spark 4's TWS was evaluated and REJECTED for the stateful operators
    (SCALE.md): its Python worker crashes during state-schema
    validation in this runtime, so `applyInPandasWithState` remains the
    backend.  This probe runs a minimal TWS query in a SUBPROCESS (the
    crash must not take down the suite): while the runtime is broken
    the test skips; the day a Spark upgrade fixes it, the probe passes
    and emits a migration warning — the signal to revisit SCALE.md.
    """

    def test_tws_runtime_probe(self):
        import subprocess
        import sys
        import warnings

        code = r"""
import sys
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import StructType, StructField, StringType, LongType

spark = (SparkSession.builder.master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

OUT = StructType([StructField("id", StringType()),
                  StructField("n", LongType())])
STATE = StructType([StructField("n", LongType())])

class Counter(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle):
        self.state = handle.getValueState("n", STATE)
    def handleInputRows(self, key, rows, timerValues):
        total = sum(len(pdf) for pdf in rows)
        prev = self.state.get()[0] if self.state.exists() else 0
        self.state.update((prev + total,))
        yield pd.DataFrame({"id": [key[0]], "n": [prev + total]})
    def close(self):
        pass

src = (spark.readStream.format("rate").option("rowsPerSecond", "50")
       .load().selectExpr("cast(value % 3 as string) as id", "value"))
q = (src.groupBy("id")
     .transformWithStateInPandas(Counter(), outputStructType=OUT,
                                 outputMode="Update", timeMode="None")
     .writeStream.format("memory").queryName("tws_probe")
     .trigger(processingTime="1 second").start())
import time
deadline = time.time() + 60
while time.time() < deadline:
    if q.exception() is not None:
        print("TWS-FAILED", q.exception(), file=sys.stderr)
        sys.exit(3)
    if spark.sql("SELECT * FROM tws_probe").count() > 0:
        q.stop()
        print("TWS-OK")
        sys.exit(0)
    time.sleep(1)
print("TWS-TIMEOUT", file=sys.stderr)
sys.exit(4)
"""
        try:
            res = subprocess.run(
                [sys.executable, "-c", code], capture_output=True,
                text=True, timeout=240)
        except subprocess.TimeoutExpired:
            pytest.skip("TWS probe timed out — backend still unusable; "
                        "applyInPandasWithState stays (SCALE.md)")
        if res.returncode != 0 or "TWS-OK" not in res.stdout:
            pytest.skip(
                "TWS still broken in this runtime (rc="
                f"{res.returncode}): applyInPandasWithState stays; "
                f"stderr tail: {res.stderr[-300:]}")
        warnings.warn(
            "transformWithStateInPandas NOW WORKS in this runtime — "
            "revisit SCALE.md: migrate $per/$deduplicate/$delay "
            "stateful backends from applyInPandasWithState")


class TestKafkaClientOptions:
    """Structural lock for the Kafka client-config wiring: no broker in
    this sandbox, so the SSL/SASL/consumer wiring (reference
    KafkaProvider.java:168-189) is verified at the option-map level —
    kafka-client properties must reach Spark's connector with the
    ``kafka.`` prefix, Spark's own connector options unprefixed."""

    def test_client_props_get_prefixed(self):
        from pincette_json_streams_spark.streaming.runtime import (
            kafka_client_options,
        )
        opts = kafka_client_options("b1:9092,b2:9092", {
            "security.protocol": "SASL_SSL",
            "ssl.truststore.location": "/etc/ssl/trust.jks",
            "ssl.truststore.password": "pw",
            "sasl.mechanism": "SCRAM-SHA-512",
            "sasl.jaas.config": "org.apache.kafka...;",
            "group.id": "my-app",
            "fetch.max.bytes": 1048576,
        })
        assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
        assert opts["kafka.security.protocol"] == "SASL_SSL"
        assert opts["kafka.ssl.truststore.location"] == \
            "/etc/ssl/trust.jks"
        assert opts["kafka.sasl.mechanism"] == "SCRAM-SHA-512"
        assert opts["kafka.group.id"] == "my-app"
        assert opts["kafka.fetch.max.bytes"] == "1048576"  # stringified

    def test_spark_connector_options_stay_unprefixed(self):
        from pincette_json_streams_spark.streaming.runtime import (
            kafka_client_options,
        )
        opts = kafka_client_options("b:9092", {
            "maxOffsetsPerTrigger": 50000,
            "failOnDataLoss": "false",
            "groupIdPrefix": "jes",
            "minPartitions": 64,
            "kafka.linger.ms": 5,      # already prefixed: untouched
        })
        assert opts["maxOffsetsPerTrigger"] == "50000"
        assert opts["failOnDataLoss"] == "false"
        assert opts["groupIdPrefix"] == "jes"
        assert opts["minPartitions"] == "64"
        assert opts["kafka.linger.ms"] == "5"
        assert "kafka.maxOffsetsPerTrigger" not in opts

    def test_timestamp_offset_options_stay_unprefixed(self):
        # R5 ADVICE lock: the timestamp-based connector options must
        # not be kafka.-prefixed (the connector would drop them)
        from pincette_json_streams_spark.streaming.runtime import (
            kafka_client_options,
        )
        opts = kafka_client_options("b:9092", {
            "startingOffsetsByTimestamp": '{"t": {"0": 1718000000000}}',
            "endingOffsetsByTimestamp": '{"t": {"0": 1718100000000}}',
            "startingTimestamp": "1718000000000",
            "endingTimestamp": "1718100000000",
            "startingOffsetsByTimestampStrategy": "latest",
        })
        for k in ("startingOffsetsByTimestamp", "endingOffsetsByTimestamp",
                  "startingTimestamp", "endingTimestamp",
                  "startingOffsetsByTimestampStrategy"):
            assert k in opts and f"kafka.{k}" not in opts

    def test_empty_config(self):
        from pincette_json_streams_spark.streaming.runtime import (
            kafka_client_options,
        )
        assert kafka_client_options("b:9092") == {
            "kafka.bootstrap.servers": "b:9092"}


class TestKafkaOptionPrecedence:
    def test_config_overrides_source_defaults(self):
        # pure-dict check of the merge order used by kafka_source
        from pincette_json_streams_spark.streaming.runtime import (
            kafka_client_options,
        )
        opts = {"subscribe": "t", "startingOffsets": "earliest"}
        opts.update(kafka_client_options(
            "b:9092", {"startingOffsets": "latest"}))
        assert opts["startingOffsets"] == "latest"
        assert opts["subscribe"] == "t"

    def test_assign_mode_drops_default_subscribe(self, spark):
        from pincette_json_streams_spark.streaming.runtime import (
            kafka_source,
        )
        # building the reader must not raise on conflicting modes; the
        # load() itself needs the connector jar, so stop before it
        try:
            kafka_source(spark, "t", "b:9092",
                         config={"assign": '{"t":[0]}'})
        except Exception as ex:
            # acceptable only if it's the missing-connector load error
            assert "kafka" in str(ex).lower(), ex


class TestCollectionBackends:
    """The collection surface is a protocol, kept for another backend
    (SURVEY §1.3 maps collections to Delta + CDF); the backend here is
    the parquet commit log."""

    def test_changelog_satisfies_protocol(self, tmp_path):
        from pincette_json_streams_spark.sources.changelog import (
            ChangeLogCollection,
        )
        from pincette_json_streams_spark.sources.collections import (
            CollectionStore,
        )
        coll = ChangeLogCollection(str(tmp_path / "c"), "_id string, v int")
        assert isinstance(coll, CollectionStore)


class TestMetricsListener:
    def test_streaming_progress_forwards_counters(
            self, spark, tmp_path, people_dir):
        """attach_metrics_listener: a drained streaming app emits
        json_streams.messages counters with <query>.in/.out parts —
        the reference's automatic per-part observable counters
        (docs/telemetry.md:35-47)."""
        import time

        from pincette_json_streams_spark.streaming.runtime import (
            attach_metrics_listener,
        )
        got = []  # listener callbacks run driver-side: a list works

        def counter(name, value, attributes):
            got.append((name, value, dict(attributes)))

        listener = attach_metrics_listener(spark, counter, "my-app")
        try:
            catalog = file_stream_catalog(
                spark, {"people": people_dir}, {"people": PEOPLE_SCHEMA})
            app = StreamingApp(spark, {
                "application": "my-app", "parts": [
                    {"type": "stream", "name": "adults",
                     "fromTopic": "people", "toTopic": "out",
                     "pipeline": [{"$match": {"age": {"$gte": 30}}}]},
                ],
            }, catalog)
            sink = memory_sink(tmp_path)
            app.run_until_drained(sink)
            # listener events are async: give the bus a moment
            deadline = time.time() + 30
            while time.time() < deadline and not any(
                    a["part"].endswith(".in") and v > 0
                    for _, v, a in got):
                time.sleep(0.5)
        finally:
            spark.streams.removeListener(listener)
        msgs = [(v, a) for n, v, a in got
                if n == "json_streams.messages"]
        ins = [(v, a) for v, a in msgs if a["part"].endswith(".in")]
        outs = [(v, a) for v, a in msgs if a["part"].endswith(".out")]
        # the $match pushes into the file source, so .in counts the
        # post-pushdown scan (2 adults) — same as the sink's .out
        assert any(v == 2 for v, _ in ins)
        assert any(v == 2 for v, _ in outs)
        assert all(a["application"] == "my-app" for _, a in msgs)
        assert all(a["profile.frame.type"] == "json-streams"
                   for _, a in msgs)


class TestHammingProbeStreaming:
    def test_stream_static_near_dup_lookup(self, spark, tmp_path):
        """$hammingProbe is the STREAMING face of the banded Hamming
        index: a stream of sketch rows probes a static index
        collection via a stream-static equi-join, with multi-band
        duplicates removed by the first-colliding-band expression
        (no aggregation, no state — plain append mode).  Matches and
        distances must equal the batch hamming_near_pairs contract."""
        import numpy as np

        from pincette_json_streams_spark.functions.similarity import (
            binary_signatures,
        )

        rng = np.random.default_rng(11)
        corpus = [(i, rng.standard_normal(64).astype("float32").tolist())
                  for i in range(40)]
        cdf = spark.createDataFrame(
            corpus, "vec_id long, embedding array<float>")
        index = binary_signatures(cdf, dims=64)

        # probes: an exact copy of corpus row 3 (distance 0), a 1-flip
        # neighbour of row 7, and an unrelated vector
        near7 = np.array(corpus[7][1])
        near7[5] = -near7[5]
        probes = [(103, corpus[3][1]),
                  (107, near7.tolist()),
                  (999, rng.standard_normal(64)
                        .astype("float32").tolist())]
        d = str(tmp_path / "probe_topic")
        spark.createDataFrame(
            probes, "vec_id long, embedding array<float>"
        ).write.parquet(d)

        catalog = file_stream_catalog(
            spark, {"probes": d},
            {"probes": "vec_id long, embedding array<float>"})
        catalog["sketch_index"] = index  # STATIC side
        # the full YAML story: raw embedding stream -> sign sketch
        # ($binarySignatures, dims required when streaming) -> probe
        app = StreamingApp(spark, {
            "application": "probe-app", "parts": [
                {"type": "stream", "name": "lookups",
                 "fromTopic": "probes", "toTopic": "hits",
                 "pipeline": [
                     {"$binarySignatures": {"dims": 64}},
                     {"$hammingProbe": {"index": "sketch_index",
                                        "maxHamming": 7}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = {(r["vec_id"], r["match_id"]): r["hamming"]
               for r in spark.sql(
                   f"SELECT * FROM mem_{sink.run_id}_hits").collect()}
        assert got[(103, 3)] == 0
        assert got[(107, 7)] == 1
        assert all(k[0] != 999 for k in got), got
        # exactly one row per matching pair (the first-colliding-band
        # filter, not state, did the dedup)
        assert len(got) == len(set(got))
        vals = spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_hits").collect()
        assert len(vals) == len(got)

    def test_streaming_audio_near_dup_lookup(self, spark, tmp_path):
        """The round-10 modalities compose on streams: WAV messages
        fingerprint in-flight ($audioFingerprint is a pure Arrow map,
        streaming-legal) and probe a STATIC audio index via
        $hammingProbe — near-dup audio lookup with zero state."""
        import numpy as np

        from pincette_json_streams_spark.functions.multimodal import (
            audio_fingerprint,
        )
        from tests.test_functions import TestMultimodal as TM

        rng = np.random.default_rng(23)
        clips = {i: rng.integers(-32768, 32768, 1024).tolist()
                 for i in range(6)}
        index = audio_fingerprint(spark.createDataFrame(
            [(i, bytearray(TM._wav_bytes(s)))
             for i, s in clips.items()],
            "clip_id long, media binary")).select("clip_id", "afp")

        # probe: a re-encoded copy of clip 2 (32-bit PCM of the same
        # samples -> identical fingerprint) and an unrelated clip
        probes = [(102, bytearray(TM._wav_bytes(clips[2], width=4))),
                  (999, bytearray(TM._wav_bytes(
                      rng.integers(-32768, 32768, 1024).tolist())))]
        d = str(tmp_path / "audio_probes")
        spark.createDataFrame(
            probes, "clip_id long, media binary").write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"clips": d},
            {"clips": "clip_id long, media binary"})
        catalog["audio_index"] = index
        app = StreamingApp(spark, {
            "application": "audio-probe", "parts": [
                {"type": "stream", "name": "lookups",
                 "fromTopic": "clips", "toTopic": "hits",
                 "pipeline": [
                     {"$audioFingerprint": {"field": "media"}},
                     {"$unset": "media"},
                     {"$hammingProbe": {"index": "audio_index",
                                        "id": "clip_id",
                                        "indexId": "clip_id",
                                        "lanes": ["afp"],
                                        "laneBits": 64,
                                        "maxHamming": 7}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = {(r["clip_id"], r["match_id"]): r["hamming"]
               for r in spark.sql(
                   f"SELECT * FROM mem_{sink.run_id}_hits").collect()}
        assert got == {(102, 2): 0}

    def test_index_persisted_as_changelog_collection(self, spark,
                                                     tmp_path):
        """Production index maintenance: the sketch index lives in a
        ChangeLogCollection (§2.1 collection semantics — upsert new
        sketches, tombstone retired ones) and $hammingProbe probes its
        SNAPSHOT.  An updated sketch replaces its old version; a
        deleted id stops matching."""
        import numpy as np

        from pincette_json_streams_spark.functions.similarity import (
            binary_signatures,
        )
        from pincette_json_streams_spark.sources.changelog import (
            ChangeLogCollection,
        )

        rng = np.random.default_rng(31)
        vecs = [(i, rng.standard_normal(64).astype("float32").tolist())
                for i in range(8)]
        sigs = binary_signatures(spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>"), dims=64)
        coll = ChangeLogCollection(
            str(tmp_path / "sketch_index"),
            "_id long, sig_0 long, sig_1 long")
        coll.upsert(sigs.select(F.col("vec_id").alias("_id"),
                                "sig_0", "sig_1"))
        # retire id 3, replace id 4 with a fresh sketch
        coll.delete(spark.createDataFrame([(3,)], "_id long"))
        new4 = binary_signatures(spark.createDataFrame(
            [(4, rng.standard_normal(64).astype("float32").tolist())],
            "vec_id long, embedding array<float>"), dims=64)
        coll.upsert(new4.select(F.col("vec_id").alias("_id"),
                                "sig_0", "sig_1"))

        d = str(tmp_path / "probes2")
        # probe with the ORIGINAL sketches of ids 3 and 4 + id 5
        sigs.filter("vec_id in (3, 4, 5)").write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"probes": d},
            {"probes": "vec_id long, sig_0 long, sig_1 long"})
        catalog["sketch_index"] = coll.snapshot(spark)
        app = StreamingApp(spark, {
            "application": "clc-probe", "parts": [
                {"type": "stream", "name": "lookups",
                 "fromTopic": "probes", "toTopic": "hits",
                 "pipeline": [
                     {"$hammingProbe": {"index": "sketch_index",
                                        "indexId": "_id",
                                        "maxHamming": 7}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = {(r["vec_id"], r["match_id"]): r["hamming"]
               for r in spark.sql(
                   f"SELECT * FROM mem_{sink.run_id}_hits").collect()}
        assert (5, 5) in got and got[(5, 5)] == 0   # untouched id
        assert all(k[1] != 3 for k in got)          # tombstoned
        assert (4, 4) not in got or got[(4, 4)] > 0  # replaced sketch


class TestIvfProbeStreaming:
    def test_stream_static_cosine_lookup(self, spark, tmp_path):
        """$ivfProbe is the dense-vector sibling of $hammingProbe:
        embedding messages assign to their nprobe nearest centroids
        in-flight (broadcast Arrow map) and join the static index on
        list id — cosine radius lookup with zero state.  An exact
        copy of an index vector matches itself at cosine 1.0."""
        import numpy as np

        rng = np.random.default_rng(41)
        corpus = [(i, rng.standard_normal(16).astype("float32").tolist())
                  for i in range(30)]
        cdf = spark.createDataFrame(
            corpus, "vec_id long, embedding array<float>")
        cents = cdf.filter("vec_id % 8 = 0")  # 4 centroids

        probes = [(103, corpus[3][1]),
                  (999, (np.array(corpus[5][1]) * -1.0).tolist())]
        d = str(tmp_path / "ivf_probes")
        spark.createDataFrame(
            probes, "vec_id long, embedding array<float>"
        ).write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"probes": d},
            {"probes": "vec_id long, embedding array<float>"})
        catalog["corpus_index"] = cdf
        catalog["cents"] = cents
        app = StreamingApp(spark, {
            "application": "ivf-probe", "parts": [
                {"type": "stream", "name": "lookups",
                 "fromTopic": "probes", "toTopic": "hits",
                 "pipeline": [
                     {"$ivfProbe": {"index": "corpus_index",
                                    "centroids": "cents",
                                    "minCosine": 0.95,
                                    "nprobe": 2}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        got = {(r["vec_id"], r["match_id"]): r["cosine"]
               for r in spark.sql(
                   f"SELECT * FROM mem_{sink.run_id}_hits").collect()}
        assert got[(103, 3)] == 1.0
        assert all(k[0] != 999 for k in got), got


class TestCrawlStreaming:
    """The crawl tier's streaming-legality claim, driven for real:
    $warcRecords (stateless Arrow flat-map) and $htmlExtract +
    $textFeatures + $qualityGate (per-row maps / stateless filter)
    compile and drain on an actual streaming frame — append mode,
    no state, no watermark needed."""

    def test_crawl_funnel_on_a_stream(self, spark, tmp_path):
        import base64

        from pincette_json_streams_spark.streaming.runtime import (
            StreamingApp, file_stream_catalog,
        )
        from tests.test_functions import TestCrawl as TC

        good = ("<html><head><title>Good</title></head><body>"
                "<p>The quick brown fox jumps over the lazy dog and "
                "keeps running through the green field.</p>"
                "</body></html>")
        noise = ("<html><head><title>Noise</title></head><body>"
                 "<p>!!! ??? !!! ??? !!! ??? spam spam !!!</p>"
                 "</body></html>")
        blob = (TC._WARCINFO
                + TC._warc_response("https://s.example/good",
                                    good.encode())
                + TC._warc_response("https://s.example/noise",
                                    noise.encode()))
        d = str(tmp_path / "archives")
        spark.createDataFrame(
            [(1, base64.b64encode(blob).decode())],
            "fid long, warc string").write.parquet(d)
        catalog = file_stream_catalog(
            spark, {"archives": d}, {"archives": "fid long, warc string"})
        app = StreamingApp(spark, {
            "application": "crawl-stream", "parts": [
                {"type": "stream", "name": "ingest",
                 "fromTopic": "archives", "toTopic": "docs",
                 "pipeline": [
                     {"$warcRecords": {"field": "warc",
                                       "base64": True}},
                     {"$match": {"warc_type": "response"}},
                     {"$htmlExtract": {"field": "payload"}},
                     {"$textFeatures": {"field": "text", "as": "tf",
                                        "lang": "lang"}},
                     {"$qualityGate": {"field": "text", "tf": "tf",
                                       "num": 1, "den": 2}},
                     {"$project": {"url": "$target_uri", "title": 1,
                                   "lang": 1}},
                 ]},
            ],
        }, catalog)
        sink = memory_sink(tmp_path)
        app.run_until_drained(sink)
        rows = spark.sql(
            f"SELECT * FROM mem_{sink.run_id}_docs").collect()
        assert [(r["url"], r["title"], r["lang"]) for r in rows] \
            == [("https://s.example/good", "Good", "en")]
