"""Per-row Python maps (``functions/rows.map_rows``): pass-through
columns come back exactly as they went in, and column names that need
quoting work in every migrated function and stage."""

import gzip
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions import crawl, multimodal, text
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
