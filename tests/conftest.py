import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("pincette-json-streams-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def people(spark):
    """Small schemaless-ish document table used across operator tests."""
    return spark.createDataFrame(
        [
            ("p1", "Alice", 34, 1200.5, ["red", "blue"], {"city": "Ghent",
                                                          "zip": "9000"}),
            ("p2", "Bob", 28, -50.25, ["green"], {"city": "Aalst",
                                                  "zip": "9300"}),
            ("p3", "Carol", 41, 0.0, [], {"city": "Ghent", "zip": "9000"}),
            ("p4", "Dave", 28, 999.99, ["blue", "blue"], None),
        ],
        "_id string, name string, age int, balance double, "
        "tags array<string>, address struct<city:string, zip:string>",
    )


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def distributed_graphs(monkeypatch):
    """Force the iterative graph functions onto their distributed loops:
    with a threshold of 0 rows no non-empty edge list counts as small."""
    from pincette_json_streams_spark.functions import graph
    monkeypatch.setattr(graph, "SMALL_GRAPH_ROWS", 0)
