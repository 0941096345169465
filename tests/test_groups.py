"""The grouped Python call (``functions/groups.py``): payload columns
pass through ``map_groups`` and the ``$delay`` spool format exactly,
in batch and on a stream."""

import datetime as dt
import decimal
import math

import pytest

from pincette_json_streams_spark.functions.groups import (
    PACKED, map_groups, pack, unpack,
)

BIG = 2 ** 60 + 1

# every type the packing carries, with the values pandas or Spark's
# default JSON format would change
SCHEMA = (
    "k string, n long, m long, x double, y double, ts timestamp, "
    "ntz timestamp_ntz, d date, b binary, dec decimal(38,18), "
    "s struct<big:long, xs:array<double>>, kv map<string,long>")
ROWS = [
    ("a", BIG, -2 ** 63, math.nan, -math.inf,
     dt.datetime(2024, 3, 1, 12, 30, 45, 123456),
     dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
     dt.date(2024, 2, 29), b"\x00\xffraw",
     decimal.Decimal("12345678901234567890.123456789012345678"),
     (2 ** 53 + 1, [1.5, math.nan, math.inf]), {"one": BIG}),
    ("a",) + (None,) * 11,
    ("b", 7, None, math.inf, 0.0, None, None, None, b"", None,
     (None, []), {}),
]


def _same(got, want):
    # == on rows, except that NaN equals NaN
    if isinstance(want, float) and math.isnan(want):
        return isinstance(got, float) and math.isnan(got)
    if isinstance(want, (tuple, list)):
        return (len(got) == len(want)
                and all(_same(g, w) for g, w in zip(got, want)))
    if isinstance(want, dict):
        return got.keys() == want.keys() and all(
            _same(got[k], want[k]) for k in want)
    return got == want


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda r: (r[0], r[1] is None))


@pytest.fixture(scope="module")
def typed(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def test_pack_round_trips_every_type(spark, typed):
    cols = typed.columns
    back = typed.select(unpack(pack(*cols), typed.schema).alias("v")) \
        .select("v.*")
    assert back.schema == typed.schema
    assert _same(_rows(back), _rows(typed))


def test_payload_passes_through_a_grouped_call_exactly(spark, typed):
    # one group holds a bigint beside NULL: typed, pandas would make
    # the column float64 and round the bigint
    def passthrough(pdf):
        return pdf[["k", PACKED]].rename(columns={"k": "key"})

    out = map_groups(typed, ["k"], passthrough, "key string",
                     payload=typed.columns)
    assert out.columns == ["key", *typed.columns]
    assert _same(_rows(out.drop("key")), _rows(typed))


DOC_SCHEMA = SCHEMA.replace("k string", "_id string", 1)


def test_change_feed_agrees_with_snapshot(spark, tmp_path):
    """The change feed carries each version exactly as ``snapshot``
    returns it: one micro-batch holds an all-NULL version of ``a`` and
    then one with a bigint, NaN, ±inf and a µs timestamp, which typed
    pandas columns would round to 2^60 and NULL."""
    from pincette_json_streams_spark.sources.changelog import (
        ChangeLogCollection,
    )

    coll = ChangeLogCollection(str(tmp_path / "coll"), DOC_SCHEMA)
    coll.upsert(spark.createDataFrame([ROWS[1]], DOC_SCHEMA))
    coll.upsert(spark.createDataFrame([ROWS[0], ROWS[2]], DOC_SCHEMA))
    q = (coll.change_stream(spark).writeStream.format("memory")
         .queryName("exact_feed")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(120)
        events = spark.table("exact_feed")
        assert events.columns == ["operationType", *coll.snapshot(
            spark).columns]
        got = [tuple(r) for r in events.collect()]
    finally:
        q.stop()
        spark.catalog.dropTempView("exact_feed")
    snap = {r[0]: tuple(r) for r in coll.snapshot(spark).collect()}
    assert sorted(e[0] for e in got) == ["insert", "insert", "replace"]
    by_kind = {(e[0], e[1]): e[1:] for e in got}
    assert _same(by_kind[("insert", "a")], ROWS[1])
    assert _same(by_kind[("replace", "a")], snap["a"])
    assert _same(by_kind[("insert", "b")], snap["b"])
    assert _same(snap["a"], ROWS[0])


def test_delay_redelivery_carries_rows_exactly(spark, tmp_path):
    """spool -> hold -> redelivery, each drained with ``availableNow``:
    the redelivered rows equal the routed payload, µs timestamps,
    bigints beside NULL and NaN included."""
    from pincette_json_streams_spark.streaming.runtime import (
        delay_release_stream, delay_spool_sink, redelivery_sink,
    )

    routed_dir, retry = str(tmp_path / "routed"), str(tmp_path / "retry")
    spark.createDataFrame(ROWS, DOC_SCHEMA).selectExpr(
        "'retry' AS topic", "0L AS deliver_after", "*"
    ).write.parquet(routed_dir)
    routed = spark.readStream.schema(
        spark.read.parquet(routed_dir).schema).parquet(routed_dir)
    spool = str(tmp_path / "spool")
    assert delay_spool_sink(routed, spool, str(tmp_path / "ck-spool")) \
        .trigger(availableNow=True).start().awaitTermination(120)
    released = delay_release_stream(spark, spool, buckets=1)
    # the hold's processing-time timeout asks for a batch after every
    # batch, so an availableNow run ends only without no-data batches
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(conf, "false")
    try:
        assert redelivery_sink(
            released, {"retry": retry}, {"retry": DOC_SCHEMA},
            str(tmp_path / "ck-release"),
        ).trigger(availableNow=True).start().awaitTermination(120)
    finally:
        spark.conf.unset(conf)
    back = spark.read.schema(DOC_SCHEMA).parquet(retry)
    assert _same(_rows(back), _rows(spark.createDataFrame(ROWS,
                                                         DOC_SCHEMA)))
