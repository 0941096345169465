"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import relational  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import streams  # noqa: E402


def _write_all(d, seed):
    orders, payments = gen.order_events(seed, 0, 300, 1000.0)
    docs, links, _ = gen.corpus(seed, docs=40)
    tables = {"orders": orders, "payments": payments, "docs": docs,
              "links": links,
              "commands": gen.commands(seed, 0, 300, 500.0),
              **{f"shop_{n}": t for n, t in gen.shop_tables(seed).items()}}
    for name, t in tables.items():
        gen.write_table(t, os.path.join(d, f"{name}.parquet"))
    return {n: open(os.path.join(d, f"{n}.parquet"), "rb").read()
            for n in tables}


class TestGenerators:
    def _files(self, tmp_path, name, seed):
        os.makedirs(tmp_path / name)
        return _write_all(str(tmp_path / name), seed)

    def test_same_seed_same_bytes(self, tmp_path):
        assert self._files(tmp_path, "a", 7) == self._files(tmp_path, "b", 7)

    def test_other_seed_other_bytes(self, tmp_path):
        a, b = self._files(tmp_path, "a", 7), self._files(tmp_path, "b", 8)
        assert all(a[n] != b[n] for n in a)

    def test_zipf_skew_and_range(self):
        keys = gen.zipf_keys(gen.rng_for(1, 0), 20000, 100, 1.1)
        assert keys.min() >= 0 and keys.max() < 100
        counts = sorted(pa.array(keys).value_counts().field(1).to_pylist())
        assert counts[-1] > 10 * counts[len(counts) // 2]

    def test_first_command_per_instance_is_put(self):
        t = gen.commands(3, 0, 2000, 500.0, ids=50)
        first = {}
        for i, kind in zip(t["_id"].to_pylist(), t["_command"].to_pylist()):
            first.setdefault(i, kind)
        assert set(first.values()) == {"put"}

    def test_open_loop_ticks_cover_every_event(self):
        orders, payments = gen.order_events(1, 0, 1000, 1000.0)
        ticks = streams.split_ticks({"orders": orders}, 1.0)
        assert len(ticks) == 10
        assert sum(t["orders"].num_rows for t in ticks) == 1000


class TestPercentiles:
    def test_percentile_interpolates(self):
        assert stats.percentile(range(1, 101), 0.5) == 50.5
        assert stats.percentile([3, 1, 2], 0.0) == 1
        assert stats.percentile([3, 1, 2], 1.0) == 3

    def test_ten_samples_beyond_rule(self):
        assert stats.supported(200, 0.95)
        assert not stats.supported(199, 0.95)
        assert stats.tail_quantile(19) is None
        assert stats.tail_quantile(20) == 0.5
        assert stats.tail_quantile(100) == 0.9
        assert stats.tail_quantile(1000) == 0.99

    def test_summary_reports_count_and_supported_tail(self):
        s = stats.summarize(range(200))
        assert s["n"] == 200 and "p95" in s and "p99" not in s
        assert set(stats.summarize([5.0, 6.0])) == {"n", "p50"}

    def test_spread_is_iqr_over_median(self):
        assert stats.spread([10] * 10) == 0
        assert stats.spread([9, 10, 10, 11]) == pytest.approx(
            (10.75 - 9.25) / 10)


class TestSpans:
    def test_self_time_subtracts_union_of_children(self):
        s = [spans.Span(0, "p", "plans", "t", None, 0.0, 10.0),
             spans.Span(1, "a", "operators", "t", 0, 1.0, 3.0),
             spans.Span(2, "b", "operators", "t", 0, 2.0, 5.0),
             spans.Span(3, "c", "functions", "t", 0, 7.0, 8.0),
             spans.Span(4, "d", "functions", "t", 2, 2.5, 4.5)]
        self_t = spans.self_times(s)
        assert self_t[0] == pytest.approx(10 - 4 - 1)
        assert self_t[1] == pytest.approx(2)
        assert self_t[2] == pytest.approx(3 - 2)
        assert self_t[4] == pytest.approx(2)

    def test_tracer_nests_and_restores(self):
        tr = spans.Tracer()
        with tr.span("outer", "plans"):
            with tr.span("inner", "operators", count=3):
                pass
        outer, inner = tr.spans
        assert inner.parent == outer.sid and outer.parent is None
        assert inner.count == 3 and outer.end >= inner.end

    def test_layer_summary_takes_median_over_traces(self):
        tr = spans.Tracer()
        for k, dur in enumerate((1.0, 3.0, 2.0)):
            tr.spans.append(spans.Span(k, "x.f", "plans", f"op-{k}", None,
                                       0.0, dur, group=f"g{k}"))
        s = spans.layer_summary(tr, ["op-0", "op-1", "op-2"],
                                {"g0": 1, "g1": 5, "g2": 2})
        assert s["plans.ms"] == pytest.approx(2000.0)
        assert s["plans.jobs"] == 2

    def test_parse_metric(self):
        assert spans.parse_metric("10,000") == 10000
        assert spans.parse_metric("1.5 KiB") == 1536
        assert spans.parse_metric("1.2 s") == pytest.approx(1200)
        assert spans.parse_metric(
            "total (min, med, max (stageId: taskId))\n16 ms (1 ms, 2 ms)") \
            == 16


class _Sink:
    def __init__(self, tables):
        self.tables = tables

    def read(self, name):
        return self.tables[name]


def _sink_tables(orders, payments):
    o, p = orders.to_pylist(), payments.to_pylist()
    enriched = [{"order_id": r["order_id"], "sku": it["sku"],
                 "qty": it["qty"],
                 "tier": "gold" if r["amount"] >= 5000 else "std"}
                for r in o if r["amount"] >= 100 for it in r["items"]]
    merged = [{"order_id": r["order_id"], "pay_id": None} for r in o] + \
        [{"order_id": r["order_id"], "pay_id": r["pay_id"]} for r in p]
    paired = [{"_id": str(r["order_id"]), "left": {"order_id": r["order_id"]},
               "right": {"pay_id": r["pay_id"]}} for r in p]
    return {"enriched": enriched, "merged": merged, "paired": paired}


class TestChecks:
    def _check(self, rows):
        orders, payments = gen.order_events(2, 0, 200, 1000.0)
        tables = {n: pa.Table.from_pylist(r) for n, r in rows(
            _sink_tables(orders, payments)).items()}

        class B:
            notes = {}
        return streams.StreamPipeline().check(
            B(), _Sink(tables), [{"orders": orders, "payments": payments}])

    def test_clean_sinks_pass(self):
        attempted, failed = self._check(lambda r: r)
        assert attempted > 0 and failed == 0

    @pytest.mark.parametrize("corrupt", ["drop", "duplicate", "alter"])
    def test_corrupted_sink_raises_error_rate(self, corrupt):
        def rows(r):
            e = r["enriched"]
            if corrupt == "drop":
                r["enriched"] = e[1:]
            elif corrupt == "duplicate":
                r["merged"] = r["merged"] + r["merged"][:1]
            else:
                r["enriched"] = [{**e[0], "tier": "bogus"}] + e[1:]
            return r
        attempted, failed = self._check(rows)
        assert failed / attempted > 0

    def test_states_and_pagerank(self):
        assert checks.check_states({"a": 1, "b": 2}, {"a": 1, "b": 3}) == \
            (2, 1)
        # a 2-cycle keeps the even split: 75e9 teleport + 85% of 5e11
        edges = [(0, 1), (1, 0)]
        half = 5 * 10 ** 11
        assert checks.check_pagerank(edges, {0: half, 1: half}) == (2, 0)
        assert checks.check_pagerank(edges, {0: half, 1: half - 1}) == (2, 1)
        # a dangling node's mass is shared by every node
        assert checks.check_pagerank([(0, 1)], {0: 287_500_000_000,
                                                1: 712_500_000_000},
                                     iters=1) == (2, 0)


class TestPipelineApps:
    def test_apps_are_seeded(self):
        assert relational.apps(4) == relational.apps(4)
        assert relational.apps(4) != relational.apps(5)
        assert len(relational.apps(4)) == 30

    def test_sources_are_the_tables_read(self):
        spec = dict((n, s) for n, s, _ in relational.apps(1))
        assert relational.sources(spec["lookup0"]) == ["customers", "orders"]
        assert relational.sources(spec["merge0"]) == ["orders", "payments"]

    def test_sink_columns_follow_struct_paths(self):
        t = pa.table({"_id": ["1"], "left": [{"order_id": 7, "n": 2}],
                      "tags": [[3, 4]]})
        assert relational._column(t, "left.order_id") == [7]
        assert relational._norm([3, [4]]) == (3, (4,))

    def _write_expected(self, tmp_path, seed):
        """Each flat-column sink written as DuckDB computes it."""
        import duckdb

        inputs, out = tmp_path / "in", tmp_path / "out"
        os.makedirs(inputs)
        for n, t in gen.shop_tables(seed).items():
            gen.write_table(t, str(inputs / f"{n}.parquet"))
        app_list = [a for a in relational.apps(seed)
                    if not any("." in c for cols, _ in a[2].values()
                               for c in cols)]
        con = duckdb.connect()
        for t in relational.TABLES:
            con.execute(f"create view {t} as select * from "
                        f"read_parquet('{inputs / (t + '.parquet')}')")
        for name, _, sinks in app_list:
            for sink, (cols, sql) in sinks.items():
                os.makedirs(out / name / sink)
                aliases = ", ".join(f'"{c}"' for c in cols)
                con.execute(f"copy (select * from ({sql}) t({aliases})) to "
                            f"'{out / name / sink / 'part-0.parquet'}' "
                            "(format parquet)")
        con.close()
        return str(inputs), str(out), app_list

    def test_matching_sinks_pass_and_corrupted_fail(self, tmp_path):
        import pyarrow.parquet as pq

        inputs, out, app_list = self._write_expected(tmp_path, 6)
        attempted, failed = relational.check(out, inputs, app_list)
        assert attempted > 0 and failed == 0
        part = os.path.join(out, "group0", "out", "part-0.parquet")
        t = pq.read_table(part)
        pq.write_table(t.slice(1), part)
        attempted, failed = relational.check(out, inputs, app_list)
        assert failed / attempted > 0


class TestCompare:
    def _report(self, cpus, value):
        return {"workload": "w", "trace": 0, "host": {"cpus": cpus},
                "metrics": {"latency_p50_ms": {"value": value}}}

    def test_relative_change(self):
        d = stats.compare(self._report(4, 100.0), self._report(4, 110.0))
        assert d["latency_p50_ms"] == pytest.approx(0.1)

    def test_refuses_different_cpus(self):
        with pytest.raises(stats.IncomparableResults):
            stats.compare(self._report(4, 1.0), self._report(32, 1.0))
