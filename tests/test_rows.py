"""Per-row Python maps (``functions/rows.map_rows``): pass-through
columns come back exactly as they went in, and column names that need
quoting work in every migrated function and stage."""

import gzip
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions import crawl, multimodal, text
from pincette_json_streams_spark.functions.rows import map_rows
from pincette_json_streams_spark.operators.stages import (
    PipelineContext,
    compile_pipeline,
)
from pincette_json_streams_spark.streaming.effects import (
    HttpResponse,
    LocalObjectStore,
    emit_event_traces,
)

BIG = 2 ** 53 + 1  # float64 rounds it to 2**53

_WARC_PAYLOAD = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                 b"<p>hello</p>")
_WARC = gzip.compress(
    b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: "
    + str(len(_WARC_PAYLOAD)).encode() + b"\r\n\r\n" + _WARC_PAYLOAD
    + b"\r\n\r\n")
_PAGE = "<html><title>t</title><p>" + "word " * 20 + "</p></html>"


def _fake_http():
    def transport(method, url, headers, body):
        return HttpResponse(200, '"ok"')
    return transport


def _pem():
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import rsa

    key = rsa.generate_private_key(public_exponent=65537, key_size=2048)
    return key.private_bytes(
        serialization.Encoding.PEM, serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption()).decode()


def _stage(stage, **kw):
    return lambda df, tmp: compile_pipeline(df, [stage],
                                            PipelineContext(**kw))


def _store_stage(stage):
    return lambda df, tmp: compile_pipeline(df, [stage], PipelineContext(
        http_transport=_fake_http(),
        object_store=LocalObjectStore(str(tmp))))


def _media(fn):
    return lambda df, tmp: fn(df.withColumn("media", F.lit(b"RIFF junk")))


_CASES = {
    "html_extract": lambda df, tmp: crawl.html_extract(
        df.withColumn("html", F.lit(_PAGE))),
    "warc_records": lambda df, tmp: crawl.warc_records(
        df.withColumn("warc", F.lit(_WARC))),
    "sitemap_urls": lambda df, tmp: crawl.sitemap_urls(df.withColumn(
        "sitemap", F.lit("<urlset><url><loc>http://a/</loc></url>"
                         "</urlset>"))),
    "with_text_features": lambda df, tmp: text.with_text_features(
        df.withColumn("text", F.lit("the cat sat"))),
    "with_repetition_features": lambda df, tmp:
        text.with_repetition_features(
            df.withColumn("text", F.lit("the cat sat"))),
    "probe_media": _media(multimodal.probe_media),
    "decode_audio": _media(multimodal.decode_audio),
    "audio_fingerprint": _media(multimodal.audio_fingerprint),
    "decode_image": _media(multimodal.decode_image),
    "resize_image": _media(multimodal.resize_image),
    "decode_features": _media(multimodal.decode_features),
    "sample_frames": _media(multimodal.sample_frames),
    "$log": _stage({"$log": {"message": "m"}},
                   log_emitter=lambda rec: None),
    "$lag": _stage({"$lag": {"as": "lag"}}, lag_provider=lambda: {"g": 1}),
    "$http": _stage({"$http": {"url": "http://svc/x", "method": "GET",
                               "as": "r"}}, http_transport=_fake_http()),
    "$signJwt": lambda df, tmp: _stage(
        {"$signJwt": {"privateKey": _pem(), "as": "tok"}})(df, tmp),
    "$s3Out": _store_stage({"$s3Out": {"bucket": "b", "key": "k"}}),
    "$s3Transfer": _store_stage({"$s3Transfer": {
        "url": "http://svc/x", "bucket": "b", "key": "k", "as": "u"}}),
    "event_traces": lambda df, tmp: emit_event_traces(
        df.withColumn("_corr", F.lit("0f0f0f0f-1111-2222-3333-44445555")),
        "p.out", PipelineContext(trace_producer=lambda rec: None)),
    "$per": _stage({"$per": {"amount": 5, "as": "batch"}}),
}


@pytest.fixture(scope="module")
def messages(spark):
    # every partition and Arrow batch holds the big id next to a NULL one;
    # the pattern of three also survives a round-robin repartition
    ids = [None if i % 3 == 1 else BIG + i for i in range(24)]
    return spark.createDataFrame(
        [(i, "text/html") for i in ids],
        "`my id` bigint, `content-type` string")


@pytest.mark.parametrize("case", list(_CASES))
def test_pass_through_columns_are_exact(messages, tmp_path, case):
    out = _CASES[case](messages, tmp_path)
    if case == "$per":
        out = out.select(F.explode("batch").alias("m")).select("m.*")
    got = Counter(tuple(r) for r in out.select("`my id`", "`content-type`")
                  .collect())
    want = Counter(tuple(r) for r in messages.collect())
    assert got == want


def _kernels():
    """The chain's kernels, built inside a function so the workers
    unpickle them by value (a test module is not importable there)."""
    def twice_unless_odd(ids, types):
        # flat-map: each odd or NULL id twice (copy 0 and 1), even ids
        # dropped
        rows = [(i, c) for i, m in enumerate(ids)
                if m is None or m % 2 == 1 for c in (0, 1)]
        return [r[0] for r in rows], [r[1] for r in rows]

    def score(ids, copies):
        # copy 1 scores NaN, which map_rows writes as NULL
        return [[float("nan") if c else (m or 0) % 7 * 0.5
                 for m, c in zip(ids, copies)]]

    def double(xs):
        return [[None if x is None else x * 2 for x in xs]]

    def drop_all(xs):
        return [], []

    return twice_unless_odd, score, double, drop_all


def _chain(df, gap):
    twice_unless_odd, score, double, _ = _kernels()
    a = map_rows(df, twice_unless_odd, ["my id", "content-type"],
                 [("copy", "bigint")])
    b = map_rows(gap(a), score, ["my id", "copy"], [("score", "double")])
    return map_rows(gap(b), double, ["score"], [("twice", "double")])


def _drop_chain(df, gap):
    _, _, double, drop_all = _kernels()
    a = map_rows(df, double, ["my id"], [("id2", "bigint")])
    b = map_rows(gap(a), drop_all, ["id2"], [("n", "bigint")])
    return map_rows(gap(b), double, ["n"], [("twice", "double")])


def _map_count(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("MapInArrow")


@pytest.fixture(scope="module")
def sparse_messages(spark):
    # 12 slices over 24 rows after a filter: several partitions hold no
    # row, so some tasks see no Arrow batch at all
    ids = [None if i % 3 == 1 else BIG + i for i in range(24)]
    rdd = spark.sparkContext.parallelize([(i, "text/html") for i in ids], 12)
    df = spark.createDataFrame(rdd, "`my id` bigint, `content-type` string")
    return df.filter(F.col("`my id`").isNull()
                     | (F.col("`my id`") % 4 != 3))


@pytest.mark.parametrize("chain", [_chain, _drop_chain])
def test_fused_stages_equal_unfused(sparse_messages, chain):
    fused = chain(sparse_messages, lambda df: df)
    apart = chain(sparse_messages, lambda df: df.select("*"))
    assert (_map_count(fused), _map_count(apart)) == (1, 3)
    assert fused.schema == apart.schema
    got = fused.collect()
    assert Counter(map(tuple, got)) == Counter(map(tuple, apart.collect()))
    if chain is _chain:
        assert got and all(
            (r["score"] is None) == (r["copy"] == 1) for r in got)
        assert BIG in {r["my id"] for r in got}
        assert None in {r["my id"] for r in got}
    else:
        assert got == []


def test_spread_moves_to_the_front_of_a_run(messages):
    # the second stage asks for the spread: it happens once, below the
    # one fused Arrow node
    double = _kernels()[2]
    a = map_rows(messages, double, ["my id"], [("id2", "bigint")])
    b = map_rows(a, double, ["id2"], [("twice", "double")], spread=True)
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
    assert plan.count("RoundRobinPartitioning") == 1
    assert plan.index("MapInArrow") < plan.index("RoundRobinPartitioning")


def test_persisted_stage_output_is_not_fused(messages):
    double = _kernels()[2]
    a = map_rows(messages, double, ["my id"], [("id2", "bigint")])
    a.persist()
    try:
        b = map_rows(a, double, ["id2"], [("twice", "double")])
        assert "InMemoryTableScan" in \
            b._jdf.queryExecution().executedPlan().toString()
    finally:
        a.unpersist()
