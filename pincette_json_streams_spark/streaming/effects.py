"""Side-effect pipeline stages: $http, $signJwt, $send, $delay, $delete,
$s3Csv, $s3Out, $s3Transfer, $s3Attachments.

Reference semantics: /root/reference/docs/aggregation_stages.md
($http 207-244, $send 550-565, $delay 118-158, $delete 161-178,
$signJwt 591-639, $s3* 641-785); the reference executes these per message
inside its reactive pipeline.  Spark-first design:

- Expressions (url, body, headers, topic, bucket, key, claims) compile to
  native Columns *first* — only the I/O call itself runs in Python, via
  :func:`~pincette_json_streams_spark.functions.rows.map_rows` (Arrow
  batches, zero driver involvement, scales with partitions).
- Transports are injectable: ``HttpTransport`` (default urllib) and
  ``ObjectStore`` (default local-filesystem fake with s3:// URL shape;
  swap in a boto3-backed store in production).  Tests run fully offline.
- Dynamic response/message payloads travel as JSON *strings* (the
  schemaless part of the message); downstream pipelines read them with
  $stringToJson / get_json_object.  Structured error info (``httpError``)
  is a typed struct so $match can filter on ``httpError.statusCode``
  natively.
- At-least-once: a retried Spark task re-executes its partition's calls,
  matching the reference's at-least-once contract (docs/index.md:3).
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import time
from dataclasses import dataclass
from typing import Any, Callable, Iterator, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.rows import map_rows
from pincette_json_streams_spark.operators.context import ctx_for
from pincette_json_streams_spark.operators.expressions import compile_expr

__all__ = [
    "HttpResponse", "urllib_transport", "build_ssl_context",
    "LocalObjectStore",
    "stage_http", "stage_sign_jwt", "stage_send", "stage_delay",
    "stage_delete", "stage_s3_csv", "stage_s3_out", "stage_s3_transfer",
    "stage_s3_attachments", "stage_log", "stage_probe",
    "emit_event_traces",
    "default_log_emitter",
]


# --------------------------------------------------------------------------
# transports
# --------------------------------------------------------------------------

@dataclass
class HttpResponse:
    status: int
    body: str | None


def urllib_transport(method: str, url: str, headers: dict,
                     body: str | bytes | None,
                     ssl_context=None) -> HttpResponse:
    """Default HTTP transport (stdlib only).  Accepts bytes so binary
    multipart payloads ($s3Attachments) round-trip byte-exactly — a UTF-8
    re-encode would expand every byte >= 0x80 and corrupt the body.
    ``ssl_context`` carries the client identity for mTLS endpoints
    ($http/$s3Transfer/$s3Attachments ``sslContext`` option)."""
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        url, method=method,
        data=body if isinstance(body, bytes)
        else body.encode() if body is not None else None,
        headers={k: str(v) for k, v in (headers or {}).items()},
    )
    try:
        with urllib.request.urlopen(
                req, timeout=30, context=ssl_context) as resp:
            return HttpResponse(resp.status, resp.read().decode())
    except urllib.error.HTTPError as e:
        return HttpResponse(e.code, e.read().decode(errors="replace"))


_ssl_ctx_cache: dict = {}


def build_ssl_context(key_store: str, password: str | None = None):
    """``ssl.SSLContext`` carrying the client identity from a PKCS#12
    key store — the ``sslContext: {keyStore, password}`` option of
    $http / $s3Transfer / $s3Attachments (reference
    docs/aggregation_stages.md:217,649,756).  PKCS#12 is not
    stdlib-loadable, so the bundle is parsed with ``cryptography`` and
    re-serialised to a transient PEM for ``load_cert_chain``; contexts
    are cached per (path, mtime, password) per process (an SSLContext
    is not picklable, so stages build it lazily executor-side).  The
    mtime in the key means a ROTATED keystore at the same path is
    picked up by long-lived executors on their next build."""
    import ssl
    import tempfile

    cache_key = (key_store, os.stat(key_store).st_mtime_ns, password)
    hit = _ssl_ctx_cache.get(cache_key)
    if hit is not None:
        return hit

    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.serialization import pkcs12

    with open(key_store, "rb") as f:
        data = f.read()
    priv, cert, chain = pkcs12.load_key_and_certificates(
        data, password.encode() if password else None)
    if priv is None or cert is None:
        raise ValueError(
            f"sslContext: {key_store!r} holds no private key + certificate")
    pem = (
        priv.private_bytes(
            serialization.Encoding.PEM,
            serialization.PrivateFormat.PKCS8,
            serialization.NoEncryption(),
        )
        + cert.public_bytes(serialization.Encoding.PEM)
        + b"".join(c.public_bytes(serialization.Encoding.PEM)
                   for c in (chain or []))
    )
    ctx = ssl.create_default_context()
    fd, path = tempfile.mkstemp(suffix=".pem")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(pem)
        ctx.load_cert_chain(path)
    finally:
        os.unlink(path)
    _ssl_ctx_cache[cache_key] = ctx
    return ctx


def _transport_with_ssl(transport, ssl_spec: dict | None):
    """Bind a stage's ``sslContext`` spec onto the (injectable)
    transport.  Validated driver-side: a custom transport must accept
    an ``ssl_context`` keyword (or **kwargs) to be used with mTLS.
    The context itself is built lazily on the executor (not picklable)
    and cached per process."""
    if not ssl_spec:
        return transport
    import inspect

    params = inspect.signature(transport).parameters
    if "ssl_context" not in params and not any(
            p.kind == inspect.Parameter.VAR_KEYWORD
            for p in params.values()):
        raise ValueError(
            "sslContext given but the injected http transport does not "
            "accept an ssl_context argument")
    key_store, password = ssl_spec["keyStore"], ssl_spec.get("password")

    def call(method, url, headers, body):
        return transport(
            method, url, headers, body,
            ssl_context=build_ssl_context(key_store, password))

    return call


@dataclass
class LocalObjectStore:
    """Filesystem-backed object store with the S3 naming shape — the
    offline stand-in for boto3 (production: same three methods on S3)."""

    root: str

    def _path(self, bucket: str, key: str) -> str:
        return os.path.join(self.root, bucket, key)

    def read(self, bucket: str, key: str) -> bytes:
        with open(self._path(bucket, key), "rb") as f:
            return f.read()

    def write(self, bucket: str, key: str, data: bytes) -> None:
        p = self._path(bucket, key)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def url(self, bucket: str, key: str) -> str:
        return f"s3://{bucket}/{key}"


_HTTP_ERROR_T = "struct<statusCode:int,body:string>"


def _expr_json(spec_val: Any, df: DataFrame) -> Column:
    """Compile an expression and serialize its value to a JSON string
    (payloads cross into Python as JSON text)."""
    col = compile_expr(spec_val, ctx_for(df))
    return F.to_json(F.struct(col.alias("v")))


def _unwrap(js: str | None) -> Any:
    if js is None:
        return None
    return json.loads(js).get("v")


# --------------------------------------------------------------------------
# $http  (docs:207-244)
# --------------------------------------------------------------------------

def stage_http(df: DataFrame, spec: dict, pctx) -> DataFrame:
    transport = getattr(pctx, "http_transport", None) or urllib_transport
    transport = _transport_with_ssl(transport, spec.get("sslContext"))
    as_field = spec.get("as")
    unwind = bool(spec.get("unwind", False))

    prepared = df.withColumns({
        "__url": compile_expr(spec["url"], ctx_for(df)).cast("string"),
        "__method": compile_expr(spec["method"], ctx_for(df)).cast("string"),
        "__headers": _expr_json(spec["headers"], df)
        if "headers" in spec else F.lit(None).cast("string"),
        "__body": _expr_json(spec["body"], df)
        if "body" in spec else F.lit(None).cast("string"),
    })

    def call(method, url, headers_js, body_js):
        """(payload, httpError) of one request."""
        body_v = _unwrap(body_js)
        body = None if body_v is None else (
            body_v if isinstance(body_v, str) else json.dumps(body_v)
        )
        try:
            resp = transport(method, url, _unwrap(headers_js) or {}, body)
        except Exception as e:  # transport failure -> httpError
            return None, {"statusCode": -1, "body": str(e)}
        if resp.status >= 400:
            return None, {"statusCode": resp.status, "body": resp.body}
        return resp.body, None

    def kernel(methods, urls, headers, bodies):
        rows = []
        for i, args in enumerate(zip(methods, urls, headers, bodies)):
            payload, err = call(*args)
            if not as_field:
                rows.append((i, err))
            elif unwind and err is None:
                try:
                    arr = json.loads(payload) if payload else []
                except Exception:
                    arr = []
                for entry in arr if isinstance(arr, list) else [arr]:
                    rows.append((i, json.dumps(entry), err))
            else:
                rows.append((i, payload, err))
        return zip(*rows)

    outputs = ([(as_field, "string")] if as_field else []) \
        + [("httpError", _HTTP_ERROR_T)]
    return map_rows(prepared, kernel,
                    ["__method", "__url", "__headers", "__body"],
                    outputs, keep=df.columns)


# --------------------------------------------------------------------------
# $signJwt  (docs:591-639)
# --------------------------------------------------------------------------

_jwt_cache: dict = {}


def _b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _sign_rs256(private_key_pem: str, claims: dict, ttl: int,
                kid: str | None) -> str:
    """RS256 JWT with a per-executor cache keyed on the claim set; tokens
    are reused until 80% of ttl elapses (reference caches its token too,
    docs:636)."""
    # full-PEM digest: the first chars of a PEM are the BEGIN header plus
    # a fixed DER prefix, identical across distinct same-size keys
    cache_key = (
        hashlib.sha256(private_key_pem.encode()).hexdigest(),
        json.dumps(claims, sort_keys=True),
        kid,
    )
    hit = _jwt_cache.get(cache_key)
    now = int(time.time())
    if hit and hit[1] > now:
        return hit[0]

    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import padding

    header = {"alg": "RS256", "typ": "JWT"}
    if kid:
        header["kid"] = kid
    payload = dict(claims)
    payload["iat"] = now
    payload["exp"] = now + ttl
    signing_input = (
        _b64url(json.dumps(header, separators=(",", ":")).encode())
        + "."
        + _b64url(json.dumps(payload, separators=(",", ":")).encode())
    )
    key = serialization.load_pem_private_key(
        private_key_pem.encode(), password=None
    )
    sig = key.sign(signing_input.encode(), padding.PKCS1v15(),
                   hashes.SHA256())
    token = signing_input + "." + _b64url(sig)
    _jwt_cache[cache_key] = (token, now + int(ttl * 0.8))
    return token


def stage_sign_jwt(df: DataFrame, spec: dict, pctx) -> DataFrame:
    as_field = spec["as"]
    ttl = int(spec.get("ttl", 5))
    ctx = ctx_for(df)

    claim_cols = {}
    for std in ("aud", "iss", "sub"):
        if std in spec:
            claim_cols[std] = compile_expr(spec[std], ctx).cast("string")
    kid_col = compile_expr(spec["kid"], ctx).cast("string") \
        if "kid" in spec else F.lit(None).cast("string")
    custom = _expr_json(spec["claims"], df) if "claims" in spec \
        else F.lit(None).cast("string")
    pk_col = compile_expr(spec["privateKey"], ctx).cast("string")

    prepared = df.withColumns({
        "__claims_std": F.to_json(F.struct(
            *[c.alias(k) for k, c in claim_cols.items()]) if claim_cols
            else F.struct(F.lit(None).alias("__none"))),
        "__claims_custom": custom,
        "__kid": kid_col,
        "__pk": pk_col,
    })

    def sign(std_js, custom_js, kid, pk):
        std = json.loads(std_js or "{}")
        std.pop("__none", None)
        claims = {**(_unwrap(custom_js) or {}), **std}
        return _sign_rs256(pk, claims, ttl, kid)

    def kernel(*cols):
        return [[sign(*args) for args in zip(*cols)]]

    return map_rows(prepared, kernel,
                    ["__claims_std", "__claims_custom", "__kid", "__pk"],
                    [(as_field, "string")], keep=df.columns)


# --------------------------------------------------------------------------
# $log  (docs/aggregation_stages.md:319-344; LogStage.java:72-103)
# --------------------------------------------------------------------------

# Java util.logging level -> Python logging level
_PY_LEVELS = {
    "SEVERE": 40, "WARNING": 30, "INFO": 20, "CONFIG": 20,
    "FINE": 10, "FINER": 10, "FINEST": 10, "ALL": 10, "OFF": 0,
}


def default_log_emitter(record: dict) -> None:
    """Executor-side structured emission via the stdlib logging module.
    The logger carries the application name (reference: 'the logger ...
    has the same name as the application'); OTEL-shaped fields ride in
    ``extra`` so structured handlers (JSON formatters, OTLP exporters)
    can forward them."""
    import logging

    logging.getLogger(record["logger"]).log(
        _PY_LEVELS.get(record["level"], 20),
        record["message"],
        extra={
            "otel_attributes": record.get("attributes") or {},
            "trace_id": record.get("trace_id"),
            "span_id": record.get("span_id"),
        },
    )


def stage_log(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """$log: write a structured entry per message, pass the message
    through unchanged.

    Reference semantics (LogStage.java:72-103): `message` (expression,
    stringified) is required — without it, or with a non-object spec,
    the stage object itself is logged once and the stage is a
    pass-through.  Optional `level` (expression -> Java level name,
    default INFO) and `attributes` (expression -> object, merged into
    the OTEL attributes).  A `_corr` UUID yields trace_id (dashes
    stripped) and span_id (first half of the trace id — JSON Streams'
    root span).

    Spark-first: all expressions compile to native Columns; only the
    emit call runs in Python (Arrow batches, executor-side — no driver
    round-trip, scales with partitions).  The emitter is injectable via
    ``pctx.log_emitter`` (tests spool to a file; production swaps in an
    OTLP/JSON handler)."""
    emitter = getattr(pctx, "log_emitter", None) or default_log_emitter
    app = getattr(pctx, "app_name", None) or "pincette-json-streams-spark"

    if not isinstance(spec, dict) or "message" not in spec:
        # logStageObject: the spec itself is logged, stage is a no-op
        emitter({
            "logger": app, "level": "INFO",
            "message": json.dumps(spec, default=str),
            "attributes": {}, "trace_id": None, "span_id": None,
        })
        return df

    ctx = ctx_for(df)
    msg = _expr_json(spec["message"], df)
    level = compile_expr(spec["level"], ctx).cast("string") \
        if "level" in spec else F.lit(None).cast("string")
    attrs = _expr_json(spec["attributes"], df) if "attributes" in spec \
        else F.lit(None).cast("string")
    trace = (
        F.lower(F.regexp_replace(F.col("_corr").cast("string"), "-", ""))
        if "_corr" in df.columns else F.lit(None).cast("string")
    )

    prepared = df.withColumns({
        "__log_msg": msg, "__log_level": level,
        "__log_attrs": attrs, "__log_trace": trace,
    })

    def kernel(msgs, levels, attrs, traces):
        for msg_js, lvl, attrs_js, tid in zip(msgs, levels, attrs, traces):
            v = _unwrap(msg_js)
            a = _unwrap(attrs_js)
            emitter({
                "logger": app,
                "level": lvl or "INFO",
                "message": v if isinstance(v, str)
                else json.dumps(v, default=str),
                "attributes": a if isinstance(a, dict) else {},
                "trace_id": tid or None,
                "span_id": tid[:16] if tid else None,
            })
        return []

    return map_rows(prepared, kernel,
                    ["__log_msg", "__log_level", "__log_attrs",
                     "__log_trace"], [], keep=df.columns)


# --------------------------------------------------------------------------
# $probe  (docs/aggregation_stages.md:413-466)
# --------------------------------------------------------------------------

def stage_probe(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """$probe: per-minute throughput counters {name, minute, count}
    produced to ``topic``; the message flow passes through unchanged.

    The reference counts per pipeline instance and tells consumers to
    re-aggregate by (name, minute) because each instance only sees its
    partitions — so per-TASK counting is exactly the documented
    contract, not an approximation.  Executor-side mapInArrow counts
    each Arrow batch into a minute bucket and flushes the records at
    task end through the injectable ``pctx.probe_producer(record)``
    (production: a Kafka producer to `topic`; default: the $log
    structured emitter path)."""
    if not isinstance(spec, dict) or "topic" not in spec:
        # observe-only form: a named count metric on the stream
        name = spec.get("name", "probe") if isinstance(spec, dict) \
            else "probe"
        return df.observe(str(name), F.count(F.lit(1)).alias("count"))

    name = str(spec.get("name", "probe"))
    topic = str(spec["topic"])
    producer = getattr(pctx, "probe_producer", None)
    if producer is None:
        app = getattr(pctx, "app_name", None) or \
            "pincette-json-streams-spark"
        emitter = getattr(pctx, "log_emitter", None) or \
            default_log_emitter

        def producer(rec):  # default: ride the structured-log path
            emitter({
                "logger": app, "level": "INFO",
                "message": json.dumps(rec), "attributes": {"topic": topic},
                "trace_id": None, "span_id": None,
            })

    def count_batches(batches: Iterator) -> Iterator:
        import time as _time

        counts: dict[int, int] = {}
        for batch in batches:
            minute = int(_time.time()) // 60 * 60
            counts[minute] = counts.get(minute, 0) + batch.num_rows
            yield batch
        for minute, n in sorted(counts.items()):
            producer({"name": name, "minute": minute, "count": n,
                      "topic": topic})

    return df.mapInArrow(count_batches, df.schema)


# --------------------------------------------------------------------------
# event traces  (docs/telemetry.md:54-66)
# --------------------------------------------------------------------------

def emit_event_traces(df: DataFrame, part_name: str, pctx,
                      name_expr: Optional[Column] = None,
                      part: Optional[str] = None) -> DataFrame:
    """Automatic event-trace emission — the reference's ``tracesTopic``
    behavior (docs/telemetry.md:54): when a trace producer is
    configured, every message carrying a ``_corr`` UUID yields one
    event-trace record at each part output; messages without ``_corr``
    are never traced.  ``traceSamplePercentage`` samples
    DETERMINISTICALLY on the _corr value (md5 % 100), so every
    component of a distributed trace keeps or drops the same traces
    (docs/configuration.md traceSamplePercentage note).

    Spark-first: a pass-through :func:`.rows.map_rows` over the part
    output — the record build + produce runs executor-side in Arrow
    batches, exactly like $log/$probe; zero effect on the plan when no
    producer is configured.  ``name_expr`` optionally computes the subpart name
    PER ROW (aggregate parts trace as ``<part>.command.<command>``,
    docs/telemetry.md metrics-attribute table).  ``part`` is the BARE
    part name for ``attributes.part`` (the reference's field table
    keeps the suffixed subpart only in ``name``); it defaults to
    ``part_name`` up to the first dot."""
    producer = getattr(pctx, "trace_producer", None)
    if producer is None or "_corr" not in df.columns:
        return df
    raw_pct = getattr(pctx, "trace_sample_pct", 100)
    pct = 100 if raw_pct is None else int(raw_pct)
    if pct <= 0:
        return df  # traceSamplePercentage 0 = tracing off
    app = getattr(pctx, "app_name", None) or "pincette-json-streams-spark"
    version = getattr(pctx, "app_version", None)
    bare_part = part if part is not None else part_name.split(".", 1)[0]
    from pyspark.sql.types import StructType

    jwt_t = df.schema["_jwt"].dataType if "_jwt" in df.columns else None
    jwt_sub = F.col("_jwt.sub").cast("string") \
        if isinstance(jwt_t, StructType) and \
        "sub" in [f.name for f in jwt_t.fields] \
        else F.lit(None).cast("string")
    prepared = df.withColumns({
        "__tr_corr": F.col("_corr").cast("string"),
        "__tr_sub": jwt_sub,
        "__tr_name": (name_expr if name_expr is not None
                      else F.lit(part_name)).cast("string"),
    })

    def kernel(corrs, subs, names):
        import time as _time

        from pincette_json_streams_spark.streaming.otlp import (
            event_trace_record,
        )

        for corr, sub, nm in zip(corrs, subs, names):
            if corr is None:
                continue  # uncorrelated message
            if pct < 100 and int(hashlib.md5(
                    corr.encode()).hexdigest()[:8], 16) % 100 >= pct:
                continue
            rec = event_trace_record(
                {"_corr": corr, "_jwt": {"sub": sub} if sub else None},
                application=app, part=bare_part,
                name=part_name if nm is None else nm, version=version,
                timestamp_nanos=_time.time_ns(),
            )
            if rec is not None:
                producer(rec)
        return []

    return map_rows(prepared, kernel, ["__tr_corr", "__tr_sub", "__tr_name"],
                    [], keep=df.columns)


# --------------------------------------------------------------------------
# $send / $delay  (docs:550-565, 118-158)
# --------------------------------------------------------------------------

def stage_send(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """Dynamic topic routing: the compiled ``topic`` expression becomes a
    per-row column; the streaming runtime's Kafka sink writes each row to
    its ``topic`` (Kafka sinks honor a `topic` column natively).  Batch
    runs capture the routed stream in ``pctx.outputs`` under '#send'."""
    topic = compile_expr(
        spec["topic"] if isinstance(spec, dict) else spec, ctx_for(df)
    ).cast("string")
    routed = df.withColumn("topic", topic)
    sends = getattr(pctx, "sends", None)
    if sends is not None:
        sends.append(routed)
    return df  # pass-through (docs: main flow continues)


def stage_delay(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """Delayed re-produce: rows are routed to ``topic`` with a
    ``deliver_after`` timestamp; the streaming runtime re-ingests them once
    `now >= deliver_after` (retry pattern).  Loss mid-delay is possible in
    the reference too (docs:122)."""
    duration_ms = int(spec["duration"])
    topic = compile_expr(spec["topic"], ctx_for(df)).cast("string")
    routed = df.withColumn("topic", topic).withColumn(
        "deliver_after",
        F.unix_millis(F.current_timestamp()) + F.lit(duration_ms),
    )
    sends = getattr(pctx, "sends", None)
    if sends is not None:
        sends.append(routed)
    return df


# --------------------------------------------------------------------------
# $delete  (docs:161-178)
# --------------------------------------------------------------------------

def stage_delete(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """Delete collection documents whose ``on`` fields equal the incoming
    message's.  Batch: anti-join updates the catalog (the Delta-backed
    runtime replaces this with MERGE ... WHEN MATCHED DELETE in
    foreachBatch).  Message passes through unchanged."""
    coll_name = spec["from"]
    on = spec["on"] if isinstance(spec["on"], list) else [spec["on"]]
    coll = pctx.collection(coll_name)
    keys = df.select(*[F.col(f) for f in on]).dropDuplicates()
    cond = None
    for f_name in on:
        c = coll[f_name].eqNullSafe(keys[f_name])
        cond = c if cond is None else cond & c
    remaining = coll.join(keys, cond, "left_anti")
    pctx.catalog[coll_name] = remaining
    pctx.outputs[coll_name] = remaining
    return df


# --------------------------------------------------------------------------
# $s3Csv / $s3Out / $s3Transfer / $s3Attachments  (docs:641-785)
# --------------------------------------------------------------------------

def _infer(v: str) -> Any:
    """CSV value typing: long, double, else string (the reference's
    S3CsvStage.java:246-251 numeric split)."""
    try:
        return int(v)
    except ValueError:
        try:
            return float(v)
        except ValueError:
            return v


class LocalResumeStore:
    """File-backed resume positions for $s3Csv — the stand-in for the
    reference's Mongo ``resumeCollection`` (S3CsvStage.java:145-183):
    maps ``bucket/key/eTag`` -> last consumed line.  Any shared KV with
    ``get(key) -> int | None`` / ``put(key, line)`` plugs in the same
    way the reference points at a collection."""

    def __init__(self, root: str):
        self.root = root

    def _path(self, key: str):
        import hashlib
        import os

        return os.path.join(
            self.root, hashlib.sha256(key.encode()).hexdigest() + ".json"
        )

    def get(self, key: str):
        try:
            with open(self._path(key)) as f:
                return json.load(f).get("last_line")
        except OSError:
            return None

    def put(self, key: str, last_line: int) -> None:
        import os
        import time as _t

        os.makedirs(self.root, exist_ok=True)
        tmp = self._path(key) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_line": last_line,
                       "_timestamp": int(_t.time() * 1000)}, f)
        os.replace(tmp, self._path(key))


def stage_s3_csv(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """Per incoming message, stream the referenced CSV object line by line;
    one output message per line, header row as field names, messages as
    JSON strings (schemaless payloads).  Each input row's object is read in
    the executor — a partition of N referenced objects parallelizes N-wide.

    Resumability (S3CsvStage.java:145-183,232-244): with ``eTag`` and
    ``resumeCollection`` in the spec (and a ``resume_store`` on the
    context), consumption restarts after the last recorded line for the
    ``bucket/key/eTag`` triple; progress is recorded every 1000 lines
    and at completion.  A changed eTag (new object version) naturally
    restarts from the top, exactly like the reference's key scheme."""
    store = getattr(pctx, "object_store", None)
    if store is None:
        raise ValueError("$s3Csv needs pctx.object_store")
    resume_store = getattr(pctx, "resume_store", None) \
        if "resumeCollection" in spec else None
    if "resumeCollection" in spec and "eTag" not in spec:
        raise ValueError("$s3Csv: resumeCollection requires eTag")
    ctx = ctx_for(df)
    sep = spec.get("separator", "\t")
    etag_col = compile_expr(spec["eTag"], ctx).cast("string") \
        if "eTag" in spec else F.lit("").cast("string")
    prepared = df.select(
        compile_expr(spec["bucket"], ctx).cast("string").alias("__bucket"),
        compile_expr(spec["key"], ctx).cast("string").alias("__key"),
        etag_col.alias("__etag"),
    )

    def kernel(buckets, keys, etags):
        idx, vals = [], []
        for i, (bucket, key, etag) in enumerate(zip(buckets, keys, etags)):
            data = store.read(bucket, key).decode()
            lines = [ln for ln in data.splitlines() if ln]
            if not lines:
                continue
            rkey = "/".join((bucket, key, etag or ""))
            last = resume_store.get(rkey) \
                if resume_store is not None else None
            start = (last + 1) if last is not None else 0
            fields = lines[0].split(sep)
            for n, ln in enumerate(lines[1:]):
                if n < start:
                    continue
                idx.append(i)
                vals.append(json.dumps({
                    f: _infer(v) for f, v in zip(fields, ln.split(sep))
                }))
                if resume_store is not None and (n + 1) % 1000 == 0:
                    resume_store.put(rkey, n)
            if resume_store is not None and len(lines) > 1:
                resume_store.put(rkey, len(lines) - 2)
        return [idx, vals]

    return map_rows(prepared, kernel, ["__bucket", "__key", "__etag"],
                    [("value", "string")], keep=[])


def stage_s3_out(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """Write each message as a JSON object to the store; pass-through."""
    store = getattr(pctx, "object_store", None)
    if store is None:
        raise ValueError("$s3Out needs pctx.object_store")
    ctx = ctx_for(df)
    # accept both documented spellings ($bucket/$key appear in the docs
    # example, bucket/key in the prose)
    b_spec = spec.get("bucket", spec.get("$bucket"))
    k_spec = spec.get("key", spec.get("$key"))
    prepared = df.withColumns({
        "__bucket": compile_expr(b_spec, ctx).cast("string"),
        "__key": compile_expr(k_spec, ctx).cast("string"),
        "__doc": F.to_json(F.struct(*[F.col(c) for c in df.columns])),
    })

    def kernel(buckets, keys, docs):
        for bucket, key, doc in zip(buckets, keys, docs):
            store.write(bucket, key, doc.encode())
        return []

    return map_rows(prepared, kernel, ["__bucket", "__key", "__doc"], [],
                    keep=df.columns)


def stage_s3_transfer(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """GET from HTTP, PUT to the object store, record the object URL in
    ``as``; httpError on failure (docs:748-785)."""
    store = getattr(pctx, "object_store", None)
    transport = getattr(pctx, "http_transport", None) or urllib_transport
    transport = _transport_with_ssl(transport, spec.get("sslContext"))
    if store is None:
        raise ValueError("$s3Transfer needs pctx.object_store")
    as_field = spec["as"]
    ctx = ctx_for(df)
    prepared = df.withColumns({
        "__url": compile_expr(spec["url"], ctx).cast("string"),
        "__bucket": compile_expr(spec["bucket"], ctx).cast("string"),
        "__key": compile_expr(spec["key"], ctx).cast("string"),
        "__headers": _expr_json(spec["headers"], df)
        if "headers" in spec else F.lit(None).cast("string"),
    })

    def transfer(url, bucket, key, headers_js):
        """(object URL, httpError) of one GET + PUT."""
        try:
            resp = transport("GET", url, _unwrap(headers_js) or {}, None)
            if resp.status >= 400:
                return None, {"statusCode": resp.status, "body": resp.body}
            store.write(bucket, key, (resp.body or "").encode())
            return store.url(bucket, key), None
        except Exception as e:
            return None, {"statusCode": -1, "body": str(e)}

    def kernel(*cols):
        return zip(*(transfer(*args) for args in zip(*cols)))

    return map_rows(prepared, kernel,
                    ["__url", "__bucket", "__key", "__headers"],
                    [(as_field, "string"), ("httpError", _HTTP_ERROR_T)],
                    keep=df.columns)


def stage_s3_attachments(df: DataFrame, spec: dict, pctx) -> DataFrame:
    """POST N store objects as multipart/mixed (docs:641-694); httpError
    captured per message."""
    store = getattr(pctx, "object_store", None)
    transport = getattr(pctx, "http_transport", None) or urllib_transport
    transport = _transport_with_ssl(transport, spec.get("sslContext"))
    if store is None:
        raise ValueError("$s3Attachments needs pctx.object_store")
    ctx = ctx_for(df)
    prepared = df.withColumns({
        "__url": compile_expr(spec["url"], ctx).cast("string"),
        "__atts": _expr_json(spec["attachments"], df),
        "__headers": _expr_json(spec["headers"], df)
        if "headers" in spec else F.lit(None).cast("string"),
    })
    boundary = "pjs-boundary"

    def post(url, atts_js, headers_js):
        """httpError of one multipart POST (None on success)."""
        atts = _unwrap(atts_js) or []
        headers = _unwrap(headers_js) or {}
        parts = []
        try:
            for att in atts:
                data = store.read(att["bucket"], att["key"])
                mime_headers = {
                    k: v for k, v in att.items()
                    if k not in ("bucket", "key")
                }
                mime_headers["Content-Length"] = str(len(data))
                mime_headers["Content-Transfer-Encoding"] = "binary"
                head = "".join(f"{k}: {v}\r\n"
                               for k, v in mime_headers.items())
                parts.append(
                    f"--{boundary}\r\n{head}\r\n".encode() + data
                    + b"\r\n")
            body = b"".join(parts) + f"--{boundary}--\r\n".encode()
            headers.setdefault(
                "Content-Type", f"multipart/mixed; boundary={boundary}")
            # hand the transport raw bytes — binary attachments
            # must not pass through a str encode/decode cycle
            resp = transport("POST", url, headers, body)
            return None if resp.status < 400 else {
                "statusCode": resp.status, "body": resp.body}
        except Exception as e:
            return {"statusCode": -1, "body": str(e)}

    def kernel(*cols):
        return [[post(*args) for args in zip(*cols)]]

    return map_rows(prepared, kernel, ["__url", "__atts", "__headers"],
                    [("httpError", _HTTP_ERROR_T)], keep=df.columns)
