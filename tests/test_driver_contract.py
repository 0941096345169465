"""Driver-contract locks for ``__spark_entry__``.

The external correctness driver canonicalizes results with pandas
(sort rows by every column, hash cells): list/struct/map cells are
unhashable there, so NO ``queries()`` entry may expose an
array/struct/map-typed output column — CORRECTNESS_r03 lost six rows
to exactly this.  These tests build every query's DataFrame (plan
only, no execution for most) and lock the output schemas to scalars,
plus the queries()/oracle_sql() key alignment and the
column-name/ordering contract the value hash depends on.
"""

import os

import pytest

import __spark_entry__ as entry

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _scalar_violations(df):
    from pyspark.sql import types as T

    return [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))
    ]


class TestDriverContract:
    def test_oracle_keys_match_query_keys(self):
        qs, osql = entry.queries(), entry.oracle_sql()
        assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
        # every entry is oracle-checked: rows-only queries are permanent
        # reds under the driver's gate
        assert set(qs) == set(osql), sorted(set(qs) - set(osql))

    def test_no_query_returns_nested_columns(self, spark):
        """Every queries() entry must emit scalar-only columns.

        Building the DataFrame is enough to read the schema; a handful
        of queries execute during build (moment collects, counts) —
        at sf0.001 that stays cheap.
        """
        bad = {}
        for name, fn in entry.queries().items():
            df = fn(spark, SF_DIR)
            v = _scalar_violations(df)
            if v:
                bad[name] = v
        assert not bad, f"non-scalar driver-facing columns: {bad}"

    def test_entry_returns_rows(self, spark):
        df = entry.entry(spark)
        assert not _scalar_violations(df)
        assert len(df.columns) > 0

    def test_first_block_covers_stalest_queries(self):
        """The driver samples a prefix: the staleness rotation must
        hold — never-sampled additions lead, then the stalest cohorts
        in ascending last-checked order, so the 50-prefix always
        covers the least-recently-checked queries.  Cohorts are
        re-derived from the COMMITTED CORRECTNESS_r*.json files (git
        ls-files), so the test stays generic as rounds accumulate but
        does not flip red when the external driver drops a new,
        uncommitted CORRECTNESS_r{N}.json into the tree at round end
        (the bench twin of this failure mode was fixed in bf7cbbf by
        pinning the audit to bench_witness.json; r10's one red test
        was this very glob picking up the driver's artifact).  The
        rotation is re-derived at the NEXT round start, at which
        point the file is committed and the ordering moves."""
        import glob
        import json
        import re
        import subprocess

        here = os.path.join(os.path.dirname(__file__), "..")
        try:
            tracked = subprocess.run(
                ["git", "ls-files", "CORRECTNESS_r*.json"],
                cwd=here, capture_output=True, text=True, check=True,
            ).stdout.split()
            paths = [os.path.join(here, p) for p in tracked]
        except (OSError, subprocess.CalledProcessError):
            tracked = []
            paths = []
        if not paths:
            # not a git checkout (e.g. a git-archive export, which
            # carries only committed files anyway): fall back to glob
            paths = sorted(glob.glob(os.path.join(
                here, "CORRECTNESS_r*.json")))
        assert paths, "no CORRECTNESS files found"
        rounds: dict[str, int] = {}
        for p in paths:
            r = int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
            for k in json.load(open(p)):
                rounds[k] = max(rounds.get(k, 0), r)
        keys = list(entry.queries())
        never = {k for k in keys if rounds.get(k, 0) == 0}
        prefix = set(keys[:50])
        assert never <= prefix, sorted(never - prefix)
        idx = {k: i for i, k in enumerate(keys)}
        seen_rounds = sorted({r for r in rounds.values()})

        def block(r):
            return [idx[k] for k in keys if rounds.get(k, 0) == r]

        for a, b in zip(seen_rounds, seen_rounds[1:]):
            assert max(block(a), default=-1) \
                < min(block(b), default=len(keys)), (a, b)
        # the prefix budget is spent on the stalest queries: the
        # freshest query INSIDE the first 50 must be no fresher than
        # the stalest query outside it
        worst_in = max((rounds.get(k, 0) for k in keys[:50]), default=0)
        best_out = min((rounds.get(k, 0) for k in keys[50:]
                        if rounds.get(k, 0)),
                       default=max(seen_rounds, default=0))
        assert best_out >= worst_in, (worst_in, best_out)

    def test_no_oracle_emits_hugeint_or_decimal(self):
        """CORRECTNESS_r07's one red row (curation_funnel) was a type
        artifact, not a value bug: DuckDB's sum(BIGINT) is HUGEINT and
        one uncast UNION branch promoted the whole n_chars column, so
        a pandas/Arrow-fetching driver saw float64 against Spark's
        int64 — identical printed values, different value hash.  Lock
        the whole oracle surface: binding (no execution) every oracle
        against the sf0.001 views must yield no HUGEINT/UHUGEINT/
        DECIMAL result column."""
        import duckdb

        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            p = os.path.join(SF_DIR, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{p}')"
                )
        bad = {}
        for name, sql in entry.oracle_sql().items():
            rel = con.sql(sql)  # binds + types; does not execute
            sus = [
                f"{c}: {t}"
                for c, t in zip(rel.columns, rel.types)
                if str(t).upper() in ("HUGEINT", "UHUGEINT")
                or "DECIMAL" in str(t).upper()
            ]
            if sus:
                bad[name] = sus
        assert not bad, f"driver-hash-unsafe oracle column types: {bad}"


class TestLocalGateStrictness:
    def test_checker_rejects_list_cells(self):
        """scripts/check_correctness.py must be at least as strict as
        the driver: list/dict cells raise instead of normalizing."""
        import sys

        sys.path.insert(0, os.path.join(os.path.dirname(__file__),
                                        "..", "scripts"))
        import check_correctness as cc

        with pytest.raises(cc.NonScalarCell):
            cc._norm_cell([1, 2])
        with pytest.raises(cc.NonScalarCell):
            cc._norm_cell({"a": 1})
        with pytest.raises(cc.NonScalarCell):
            cc._hash_rows(["a"], [([1, 2],)])
        # scalars still normalize
        assert cc._norm_cell(1.0) == "1"
        assert cc._norm_cell(None) == "<null>"
        assert cc._norm_cell("x") == "x"


class TestBenchRegressionBudget:
    def test_check_regressions(self, tmp_path):
        import json as _json

        import bench

        rec = tmp_path / "bench_record.json"
        rec.write_text(_json.dumps(
            {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.0, "q2": 0.5},
             "budget_queries": {"q2": 2.0}}))
        # over budget (2x base + 1s) flagged with [measured, base];
        # budget_queries (median) overrides queries (min) as the base
        out = bench.check_regressions(
            {"q1": 3.5, "q2": 4.9, "q3": 9.9}, 0.1, 32, str(rec))
        assert out == {"q1": [3.5, 1.0]}
        assert bench.check_regressions(
            {"q2": 5.1}, 0.1, "32", str(rec)) == {"q2": [5.1, 2.0]}
        # different sf: budget doesn't apply
        assert bench.check_regressions({"q1": 9}, 0.01, 32, str(rec)) == {}
        # different core count: a local[32] record budgets no local[4] run
        assert bench.check_regressions({"q1": 9}, 0.1, 4, str(rec)) == {}
        # missing record: silent no-op (fresh clones)
        assert bench.check_regressions(
            {"q1": 9}, 0.1, 32, str(tmp_path / "nope.json")) == {}


class TestMediaSynthCodecCoupling:
    """The driver video queries synthesize Y4M that the registered
    codec must demux FULLY — round 12 broke this silently by fixing
    the codec's odd-width chroma sizing while the synth still padded
    the old floor size (caught by the consolidated sweep, not by any
    pytest: the driver-contract tests check schemas, not row counts).
    This locks the coupling at the cheapest level: one synthesized
    clip must demux to exactly its 4 frames."""

    def test_synth_y4m_demuxes_to_four_frames(self, spark):
        import __spark_entry__ as e
        from pincette_json_streams_spark.functions.codecs import (
            y4m_frames, y4m_probe,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(5,)], "doc_id long").withColumn(
            "media", e._synth_shifted_y4m(F.col("doc_id")))
        blob = bytes(df.collect()[0]["media"])
        assert y4m_probe(blob)
        assert len(y4m_frames(blob)) == 4
