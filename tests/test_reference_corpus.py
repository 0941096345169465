"""Run the REFERENCE'S OWN golden test corpus through this engine.

Each app under /root/reference/src/test/resources/appN ships
application.yaml + test/topics/{from,to} fixtures (the reference's
`test` command contract, Test.java:429-512).  `run_app_test` executes
the app on the `from` messages and compares every `to` topic exactly
(order-insensitive, `_timestamp`-stripped) — the strongest parity
evidence available: the reference's own inputs and expected outputs.

Exclusions: none.  app36 (jes href links between aggregate instances)
runs through the engine's join-based href resolution
(streaming/hrefs.py) — the harness enables it when fixtures carry
``"href"`` fields.
"""

import os

import pytest

from pincette_json_streams_spark.plans.testing import run_app_test

BASE = "/root/reference/src/test/resources"

REFERENCE_APPS = [f"app{i}" for i in range(1, 41)]


@pytest.mark.skipif(not os.path.isdir(BASE),
                    reason=f"reference corpus absent: {BASE} not found")
@pytest.mark.parametrize("app", REFERENCE_APPS)
def test_reference_app_strict(spark, app):
    d = os.path.join(BASE, app)
    if not os.path.isdir(os.path.join(d, "test")):
        pytest.skip(f"{app} has no test fixtures")
    report = run_app_test(spark, d)
    assert report.ok, f"{app}: {report}"


S3_PATHS = [os.path.join(BASE, d) for d in
            ("s3csv", "s3csv-resumable", "s3attachments", "s3out", "files")]
S3_MISSING = [p for p in S3_PATHS if not os.path.isdir(p)]


@pytest.mark.skipif(
    bool(S3_MISSING),
    reason=f"reference corpus absent: {', '.join(S3_MISSING)} not found")
class TestS3Apps:
    """The s3* corpus apps run against an injected LocalObjectStore
    preloaded the way the reference's Java test uploads to S3
    (TestApp.java:540-556)."""

    def _pctx(self, tmp_path, *objects):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext,
        )
        from pincette_json_streams_spark.streaming.effects import (
            LocalObjectStore, LocalResumeStore,
        )
        store = LocalObjectStore(str(tmp_path / "s3"))
        for bucket, key, path in objects:
            with open(path, "rb") as f:
                store.write(bucket, key, f.read())
        return PipelineContext(
            object_store=store,
            resume_store=LocalResumeStore(str(tmp_path / "resume")),
        )

    def test_s3csv(self, spark, tmp_path):
        pctx = self._pctx(
            tmp_path,
            ("lars-tst-docs", "jsonstreams-s3csv-test.csv",
             os.path.join(BASE, "files", "jsonstreams-s3csv-test.csv")),
        )
        report = run_app_test(
            spark, os.path.join(BASE, "s3csv"), pctx=pctx)
        assert report.ok, str(report)

    def test_s3csv_resumable(self, spark, tmp_path):
        pctx = self._pctx(
            tmp_path,
            ("lars-tst-docs", "jsonstreams-s3csv-test.csv",
             os.path.join(BASE, "files", "jsonstreams-s3csv-test.csv")),
        )
        report = run_app_test(
            spark, os.path.join(BASE, "s3csv-resumable"), pctx=pctx)
        assert report.ok, str(report)

    def test_s3attachments(self, spark, tmp_path):
        """The golden s3attachments app, preloaded the way the
        reference test uploads (TestApp.java:514-518): the four corpus
        PDFs from resources/files plus the jar key (absent from the
        repo's resources — a synthetic payload stands in; the golden
        output only asserts message passthrough after a successful
        multipart POST)."""
        from pincette_json_streams_spark.streaming.effects import (
            HttpResponse,
        )
        pdfs = [
            "com2012_0429nl01.pdf", "com2012_0444nl01.pdf",
            "com2012_0445nl01.pdf", "com2012_0448nl01.pdf",
        ]
        pctx = self._pctx(
            tmp_path,
            *[("lars-tst-docs", n, os.path.join(BASE, "files", n))
              for n in pdfs],
        )
        pctx.object_store.write(
            "lars-tst-docs", "uivi2_4_9.jar", b"PK\x03\x04stand-in")
        pctx.http_transport = lambda method, url, headers, body: \
            HttpResponse(200, "")
        # the golden message carries THREE case-variants of the
        # content-type part header; Spark's default case-insensitive
        # resolution merges them at JSON inference, so this app runs
        # under caseSensitive=true (the reference treats documents as
        # case-sensitive JSON)
        prev = spark.conf.get("spark.sql.caseSensitive")
        spark.conf.set("spark.sql.caseSensitive", "true")
        try:
            report = run_app_test(
                spark, os.path.join(BASE, "s3attachments"), pctx=pctx)
        finally:
            spark.conf.set("spark.sql.caseSensitive", prev)
        assert report.ok, str(report)

    def test_s3out(self, spark, tmp_path):
        pctx = self._pctx(tmp_path)
        report = run_app_test(
            spark, os.path.join(BASE, "s3out"), pctx=pctx)
        assert report.ok, str(report)
        assert pctx.object_store.read(
            "lars-tst-docs", "jsonstreams-s3out-test.json")
