"""The epoch-keyed sink layer (``streaming/sinks.py``): an epoch that
Spark replays after a restart writes nothing twice, a query with a
fresh checkpoint into the same target is not skipped, a failed epoch
changes no target, and the CLI ``run`` replaces its outputs."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pincette_json_streams_spark.sources.changelog import ChangeLogCollection
from pincette_json_streams_spark.streaming import sinks
from pincette_json_streams_spark.streaming.runtime import (
    StreamingApp,
    file_stream_catalog,
    redelivery_sink,
)

ROWS = [("m1", 1), ("m2", 2), ("m3", 3)]
DOC = "_id string, v int"


@pytest.fixture
def crash_once(monkeypatch, tmp_path):
    """The first epoch written through the layer fails after its marker
    is written and before Spark commits it, as a driver crash would."""
    real = sinks.write_epoch
    flag = tmp_path / "crashed"

    def write_then_crash(sink, df, epoch_id, checkpoint):
        real(sink, df, epoch_id, checkpoint)
        if not flag.exists():
            flag.write_text(str(epoch_id))
            raise RuntimeError("crash before Spark commits the epoch")

    monkeypatch.setattr(sinks, "write_epoch", write_then_crash)
    return flag


def _collection(spark, tmp_path):
    coll = ChangeLogCollection(str(tmp_path / "coll"), DOC)

    def rows():
        log = spark.read.schema(coll.log_schema).parquet(coll.data_dir)
        return sorted((r["_id"], r["v"]) for r in log.collect())

    return ROWS, DOC, lambda df, ck: sinks.start_sink(coll, df, ck), rows


def _redelivery(spark, tmp_path):
    # released messages for two topics: one epoch publishes into both
    dirs = {t: str(tmp_path / t) for t in ("a", "b")}
    released = [(t, json.dumps({"_id": i, "v": v}))
                for t, (i, v) in zip("aba", ROWS)]

    def rows():
        return sorted((r["_id"], r["v"]) for d in dirs.values()
                      for r in spark.read.schema(DOC).parquet(d).collect())

    def factory(df, ck):
        return redelivery_sink(df, dirs, {"a": DOC, "b": DOC}, ck)

    return released, "topic string, value string", factory, rows


@pytest.mark.parametrize("target", [_collection, _redelivery])
def test_replayed_epoch_writes_once(spark, tmp_path, crash_once, target):
    source_rows, schema, factory, rows = target(spark, tmp_path)
    src = str(tmp_path / "topic")
    spark.createDataFrame(source_rows, schema).coalesce(1).write.parquet(src)

    def app():
        return StreamingApp(spark, {"application": "ep", "parts": [
            {"type": "stream", "name": "s", "fromTopic": "t",
             "toTopic": "out", "pipeline": []}]},
            file_stream_catalog(spark, {"t": src}, {"t": schema}))

    def to(ckpt):
        return lambda name, df: factory(df, str(tmp_path / ckpt / name))

    assert app().run_supervised(to("ck1"), max_restarts=2) == 1
    assert crash_once.read_text() == "0"
    assert rows() == ROWS
    # a fresh checkpoint is a new query: its epoch 0 is written again
    app().run_until_drained(to("ck2"))
    assert rows() == sorted(ROWS * 2)


def test_failed_epoch_changes_no_target(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df = spark.createDataFrame(ROWS, DOC)
    sinks.publish({a: df})
    bad = df.select("_id", F.assert_true(F.col("v") < 3).alias("v"))
    with pytest.raises(Exception):
        sinks.publish({a: df, b: bad})
    # the good frame was staged, never moved in, and its stage is gone;
    # the failed job's tasks still running may leave a hidden stage
    assert spark.read.parquet(a).count() == len(ROWS)
    assert [f for f in os.listdir(a) if f.startswith("_staging")] == []
    assert [f for f in os.listdir(b) if not f.startswith("_")] == []


def test_empty_epoch_adds_no_file(spark, tmp_path):
    d = str(tmp_path / "d")
    sinks.publish({d: spark.createDataFrame(ROWS, DOC).limit(0)})
    assert os.listdir(d) == []


def test_cli_run_twice_replaces_outputs(spark, tmp_path, capsys):
    from pincette_json_streams_spark.__main__ import main

    (tmp_path / "app.yaml").write_text(
        "application: cli\n"
        "parts:\n"
        "  - type: stream\n"
        "    name: s\n"
        "    fromTopic: in\n"
        "    toTopic: out\n"
        "    pipeline: []\n")
    spark.createDataFrame(ROWS, DOC).write.parquet(
        str(tmp_path / "data" / "in.parquet"))
    argv = ["run", str(tmp_path / "app.yaml"), "--data",
            str(tmp_path / "data"), "--out", str(tmp_path / "out")]
    for _ in range(2):
        assert main(argv) == 0
        assert "cli/out: 3 rows" in capsys.readouterr().out
    got = spark.read.parquet(str(tmp_path / "out" / "cli" / "out"))
    assert sorted((r["_id"], r["v"]) for r in got.collect()) == ROWS
