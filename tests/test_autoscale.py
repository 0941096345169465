"""Autoscaling advisor tests.

Two layers: the reference's own 16 golden lag-snapshot fixtures
(src/test/resources/work1.json..work16.json, consumed in place like the
app corpus — runner contract TestWork.java:13-18 asserts ``expected``
vs ``Work.simulate``), plus hand-written vectors for the individual
calculus properties (docs/autoscaling.md)."""

import glob
import json
import os

import pytest

from pincette_json_streams_spark.plans.autoscale import (
    desired_instances,
    excess_lag,
    simulate,
)

FIXTURE_DIR = "/root/reference/src/test/resources"
FIXTURES = sorted(
    glob.glob(os.path.join(FIXTURE_DIR, "work*.json")),
    key=lambda p: int("".join(ch for ch in os.path.basename(p)
                              if ch.isdigit())),
)


class TestReferenceFixtures:
    """Replay every reference work*.json fixture — the same golden
    corpus TestWork.java runs against Work.simulate."""

    ABSENT = pytest.mark.skipif(
        not os.path.isdir(FIXTURE_DIR),
        reason=f"reference corpus absent: {FIXTURE_DIR} not found")

    @ABSENT
    def test_corpus_is_complete(self):
        assert len(FIXTURES) == 16

    @ABSENT
    @pytest.mark.parametrize(
        "path", FIXTURES, ids=[os.path.basename(p) for p in FIXTURES])
    def test_fixture(self, path):
        with open(path) as f:
            doc = json.load(f)
        assert simulate(doc) == doc["expected"], os.path.basename(path)


def calc(lags, max_lag=None, running=None, avg=50, max_apps=10):
    return desired_instances(lags, max_lag, running, avg, max_apps)


class TestExcessLag:
    def test_only_constrained_topics_count(self):
        lag = {"hot": {"0": 500, "1": 700}, "cold": {"0": 9999}}
        assert excess_lag(lag, {"hot": 100}) == 1100
        assert excess_lag(lag, {}) == 0

    def test_no_excess_below_allowed(self):
        assert excess_lag({"t": {"0": 50}}, {"t": 100}) == 0


class TestDesiredInstances:
    def test_no_constraints_packs_apps(self):
        lags = {f"app{i}": {"t": {"0": 10}} for i in range(3)}
        assert calc(lags, max_apps=10) == 1
        assert calc(lags, max_apps=2) == 2
        assert calc(lags, max_apps=1) == 3

    def test_lag_pressure_adds_replicas(self):
        # capacity = 1000 div 50 = 20 msg/s; excess 1250 -> 63 extra,
        # capped by the 2-partition parallelism ceiling
        lags = {"a": {"t": {"0": 700, "1": 650}}}
        assert calc(lags, {"a": {"t": 100}},
                    {"i1": ["a"]}) == 2

    def test_partition_ceiling(self):
        lags = {"a": {"t": {"0": 99999}}}  # 1 partition: no parallelism
        assert calc(lags, {"a": {"t": 100}}, {"i1": ["a"]}) == 1

    def test_three_partitions_allow_three_replicas(self):
        lags = {"a": {"t": {"0": 500, "1": 500, "2": 450}}}  # excess 1350
        assert calc(lags, {"a": {"t": 100}}, {"i1": ["a"]}) == 3

    def test_replicas_consume_app_slots(self):
        # 6 apps at 2 per instance = 3 instances; one lagging app needing
        # 2 replicas -> 7 slots -> 4 instances
        lags = {f"app{i}": {"t": {"0": 0, "1": 5}} for i in range(2, 7)}
        lags["app1"] = {"hot": {"0": 850, "1": 300}}
        assert calc(lags, {"app1": {"hot": 100}},
                    {"i1": ["app1", "app2"]}, max_apps=2) == 4

    def test_scale_down_when_overprovisioned(self):
        lags = {"a": {"t": {"0": 8, "1": 3}},
                "b": {"t": {"0": 10, "1": 6, "2": 5}}}
        running = {"i1": ["a", "b"], "i2": ["a", "b"]}
        assert calc(lags, {"a": {"t": 100}, "b": {"t": 100}},
                    running, max_apps=2) == 1

    def test_max_of_needs_not_sum(self):
        # two lagging apps share the extra instances (work is spread)
        lags = {"a": {"t1": {"0": 600, "1": 550}},
                "b": {"t2": {"0": 700, "1": 500, "2": 406}}}
        assert calc(lags, {"a": {"t1": 100}, "b": {"t2": 100}},
                    {"i1": ["a", "b"]}, max_apps=2) == 3

    def test_empty_everything(self):
        assert desired_instances({}, None, None) == 1

    def test_slow_messages_do_not_crash_capacity(self):
        # averageMessageTimeEstimate > 1000 ms used to yield capacity 0
        # and a ZeroDivisionError in the excess-lag division (the
        # reference carries the same latent ArithmeticException); the
        # advisory path must degrade to 1 msg/s/instance instead
        from pincette_json_streams_spark.plans.autoscale import (
            capacity_per_second,
        )
        assert capacity_per_second(1500) == 1
        assert capacity_per_second(1000) == 1
        assert capacity_per_second(20) == 50
        lags = {"a": {"t": {"0": 300, "1": 300}}}
        # excess 500 at 1 msg/s -> 500 extra + 1 base, partition-capped
        assert calc(lags, {"a": {"t": 100}}, avg=2500) == 2

    def test_scale_to_zero_when_fully_drained(self):
        # zero outstanding lag => no base instance for the app
        # (work.scaleToZero defaults true; Work.java:182-188); the
        # fleet floor stays 1
        lags = {"a": {"t": {"0": 0, "1": 0}}}
        assert calc(lags, {"a": {"t": 100}}) == 1
        # a drained app contributes 0 slots next to a busy one
        lags = {"a": {"t": {"0": 0}}, "b": {"u": {"0": 5}}}
        assert calc(lags, None, max_apps=1) == 1

    def test_per_topic_max_not_sum_within_app(self):
        # two lagging topics on one app: the need is the max over
        # topics (the same replicas drain both), not the sum
        lags = {"a": {"t1": {"0": 600, "1": 10, "2": 10, "3": 10},
                      "t2": {"0": 600, "1": 10, "2": 10, "3": 10}}}
        # each topic: excess 530 -> ceil(530/20)=27 extra + 1 base = 28,
        # capped at 4 partitions
        assert calc(lags, {"a": {"t1": 100, "t2": 100}}) == 4
