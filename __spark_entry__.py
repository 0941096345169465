"""Driver contract for the spark-graft builder (PySpark target).

Every query runs through the pincette_json_streams_spark engine — either a
Mongo-pipeline spec compiled by ``compile_pipeline``/``Application`` (the
reference's query language, SURVEY.md §2) or the training-data operators in
``pincette_json_streams_spark.functions`` — and each has a DuckDB oracle
that replays the identical computation in ANSI SQL.

Naming discipline: every computed column is aliased identically in the
Spark pipeline and the oracle SQL (the driver hashes values under sorted
column names).  Integer outputs are BIGINT on both sides; float outputs are
rounded the same way on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pincette_json_streams_spark.operators.stages import (
    PipelineContext,
    compile_pipeline,
)
from pincette_json_streams_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _pipe(spark, sf_dir, table, stages, catalog_tables=()):
    catalog = {t: _t(spark, sf_dir, t) for t in catalog_tables}
    return compile_pipeline(
        _t(spark, sf_dir, table), stages, PipelineContext(catalog=catalog)
    )


# ===========================================================================
# 1. Pipeline-language queries (reference surface, SURVEY.md §2)
# ===========================================================================

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 as a Mongo pipeline ($match + $group with the accumulator
    set of docs/aggregation_stages.md:35)."""
    return _pipe(spark, sf_dir, "lineitem", [
        {"$match": {"l_shipdate": {"$lte": "1998-09-02"}}},
        {"$group": {
            "_id": {"rf": "$l_returnflag", "ls": "$l_linestatus"},
            "sum_qty": {"$sum": "$l_quantity"},
            "sum_base_price": {"$sum": "$l_extendedprice"},
            "sum_disc_price": {"$sum": {"$multiply": [
                "$l_extendedprice", {"$subtract": [1, "$l_discount"]}]}},
            "avg_qty": {"$avg": "$l_quantity"},
            "avg_disc": {"$avg": "$l_discount"},
            "count_order": {"$count": {}},
        }},
        {"$project": {
            "_id": 0,
            "l_returnflag": "$_id.rf",
            "l_linestatus": "$_id.ls",
            "sum_qty": {"$round": ["$sum_qty", 2]},
            "sum_base_price": {"$round": ["$sum_base_price", 2]},
            "sum_disc_price": {"$round": ["$sum_disc_price", 2]},
            "avg_qty": {"$round": ["$avg_qty", 4]},
            "avg_disc": {"$round": ["$avg_disc", 4]},
            "count_order": 1,
        }},
    ])


_ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)                          AS sum_qty,
       round(sum(l_extendedprice), 2)                     AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)  AS sum_disc_price,
       round(avg(l_quantity), 4)                          AS avg_qty,
       round(avg(l_discount), 4)                          AS avg_disc,
       count(*)                                           AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_segment_revenue(spark, sf_dir):
    """$lookup(unwind) + $group: revenue by customer market segment."""
    return _pipe(spark, sf_dir, "orders", [
        {"$lookup": {"from": "customer", "localField": "o_custkey",
                     "foreignField": "c_custkey", "as": "cust",
                     "unwind": True}},
        {"$group": {"_id": "$cust.c_mktsegment",
                    "revenue": {"$sum": "$o_totalprice"},
                    "n_orders": {"$count": {}}}},
        {"$project": {"_id": 0, "c_mktsegment": "$_id",
                      "revenue": {"$round": ["$revenue", 2]},
                      "n_orders": 1}},
    ], catalog_tables=("customer",))


_ORACLE_SEGMENT = """
SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_match_query_ops(spark, sf_dir):
    """Query-language gallery: $in/$nin/$regex/$exists/$or/$not/$mod
    (docs/query.md)."""
    return _pipe(spark, sf_dir, "part", [
        {"$match": {
            "p_brand": {"$in": ["Brand#1", "Brand#2", "Brand#3"]},
            "p_type": {"$regex": "^(small|large)"},
            "p_size": {"$mod": [2, 0], "$exists": True},
            "$or": [{"p_retailprice": {"$lt": 1200}},
                    {"p_retailprice": {"$gte": 1800}}],
            "p_name": {"$not": {"$regex": "plutonium"}},
        }},
        {"$project": {"p_partkey": 1, "p_brand": 1, "p_type": 1,
                      "p_size": 1}},
    ])


_ORACLE_MATCH_OPS = """
SELECT p_partkey, p_brand, p_type, p_size FROM part
WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
  AND regexp_matches(p_type, '^(small|large)')
  AND p_size % 2 = 0 AND p_size IS NOT NULL
  AND (p_retailprice < 1200 OR p_retailprice >= 1800)
  AND NOT regexp_matches(p_name, 'plutonium')
"""


def q_project_compute(spark, sf_dir):
    """$project with computed expressions + $cond."""
    return _pipe(spark, sf_dir, "lineitem", [
        {"$match": {"l_linenumber": 1}},
        {"$project": {
            "l_orderkey": 1,
            "disc_price": {"$divide": [{"$round": [{"$multiply": [
                "$l_extendedprice",
                {"$subtract": [1, "$l_discount"]}, 100]}, 0]}, 100]},
            "charge": {"$divide": [{"$round": [{"$multiply": [
                "$l_extendedprice", {"$subtract": [1, "$l_discount"]},
                {"$add": [1, "$l_tax"]}, 100]}, 0]}, 100]},
            "heavy": {"$cond": [{"$gte": ["$l_quantity", 30]},
                                "heavy", "light"]},
        }},
    ])


_ORACLE_PROJECT = """
SELECT l_orderkey,
       round(l_extendedprice * (1 - l_discount) * 100) / 100 AS disc_price,
       round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) / 100
         AS charge,
       CASE WHEN l_quantity >= 30 THEN 'heavy' ELSE 'light' END AS heavy
FROM lineitem WHERE l_linenumber = 1
"""


def q_switch_let(spark, sf_dir):
    """$addFields with $let + $switch (docs/aggregation_operators.md:
    495,1189)."""
    return _pipe(spark, sf_dir, "orders", [
        {"$addFields": {
            "price_band": {"$let": {
                "vars": {"p": "$o_totalprice"},
                "in": {"$switch": {
                    "branches": [
                        {"case": {"$gte": ["$$p", 200000]}, "then": "big"},
                        {"case": {"$gte": ["$$p", 100000]}, "then": "mid"},
                    ],
                    "default": "small"}}}},
        }},
        {"$group": {"_id": "$price_band", "n": {"$count": {}},
                    "total": {"$sum": "$o_totalprice"}}},
        {"$project": {"_id": 0, "price_band": "$_id", "n": 1,
                      "total": {"$round": ["$total", 2]}}},
    ])


def q_group_mergeobjects(spark, sf_dir):
    """$mergeObjects accumulator (docs/aggregation_operators.md:631):
    field-wise merge across grouped documents.  Group members carry
    DISJOINT fields (each conditional on the row), so a whole-document
    last() would lose fields; the merge takes each field from whichever
    member has it.  Field values are constant-when-present, making the
    result order-independent and oracle-checkable."""
    return _pipe(spark, sf_dir, "orders", [
        {"$set": {"doc": {
            "st_f": {"$cond": [{"$eq": ["$o_orderstatus", "F"]},
                               "F", None]},
            "st_o": {"$cond": [{"$eq": ["$o_orderstatus", "O"]},
                               "O", None]},
            "pri1": {"$cond": [
                {"$eq": [{"$substrCP": ["$o_orderpriority", 0, 1]}, "1"]},
                "urgent", None]},
        }}},
        {"$group": {"_id": "$o_custkey",
                    "merged": {"$mergeObjects": "$doc"}}},
        {"$project": {"_id": 1, "st_f": "$merged.st_f",
                      "st_o": "$merged.st_o", "pri1": "$merged.pri1"}},
    ])


_ORACLE_MERGEOBJECTS = """
SELECT o_custkey AS _id,
       max(CASE WHEN o_orderstatus = 'F' THEN 'F' END) AS st_f,
       max(CASE WHEN o_orderstatus = 'O' THEN 'O' END) AS st_o,
       max(CASE WHEN substr(o_orderpriority, 1, 1) = '1'
                THEN 'urgent' END) AS pri1
FROM orders GROUP BY o_custkey
"""


_ORACLE_SWITCH = """
SELECT CASE WHEN o_totalprice >= 200000 THEN 'big'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'small' END AS price_band,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders GROUP BY 1
"""


def q_unwind_words(spark, sf_dir):
    """$set(split) + $unwind + $group (docs/aggregation_stages.md:840)."""
    return _pipe(spark, sf_dir, "part", [
        {"$set": {"word": {"$split": ["$p_name", " "]}}},
        {"$unwind": "$word"},
        {"$group": {"_id": "$word", "n": {"$count": {}}}},
        {"$project": {"_id": 0, "word": "$_id", "n": 1}},
    ])


_ORACLE_UNWIND = """
SELECT word, count(*) AS n
FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
GROUP BY word
"""


def q_group_accumulators(spark, sf_dir):
    """Full accumulator set: min/max/avg/stdDevPop/addToSet/push-size."""
    return _pipe(spark, sf_dir, "lineitem", [
        {"$group": {
            "_id": "$l_returnflag",
            "min_qty": {"$min": "$l_quantity"},
            "max_qty": {"$max": "$l_quantity"},
            "avg_price": {"$avg": "$l_extendedprice"},
            "sd_price": {"$stdDevPop": "$l_extendedprice"},
            "statuses": {"$addToSet": "$l_linestatus"},
            "n_items": {"$count": {}},
        }},
        {"$project": {
            "_id": 0, "l_returnflag": "$_id",
            "min_qty": 1, "max_qty": 1,
            "avg_price": {"$round": ["$avg_price", 2]},
            "sd_price": {"$round": ["$sd_price", 2]},
            "statuses": {"$reduce": {
                "input": "$statuses", "initialValue": "",
                "in": {"$concat": ["$$value", "|", "$$this"]}}},
            "n_items": 1,
        }},
    ])


_ORACLE_ACCUM = """
SELECT l_returnflag,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(stddev_pop(l_extendedprice), 2) AS sd_price,
       '|' || array_to_string(list_sort(list_distinct(list(l_linestatus))),
                              '|') AS statuses,
       count(*) AS n_items
FROM lineitem GROUP BY l_returnflag
"""


def q_bucket_prices(spark, sf_dir):
    """$bucket stage (docs/aggregation_stages.md:28-71)."""
    return _pipe(spark, sf_dir, "part", [
        {"$bucket": {
            "groupBy": "$p_retailprice",
            "boundaries": [0, 500, 1000, 1500, 2000],
            "default": 9999,
            "output": {"n": {"$sum": 1},
                       "avg_price": {"$avg": "$p_retailprice"}},
        }},
        {"$project": {"_id": 0, "bucket": {"$toLong": "$_id"},
                      "n": 1,
                      "avg_price": {"$round": ["$avg_price", 2]}}},
    ])


_ORACLE_BUCKET = """
SELECT CAST(CASE WHEN p_retailprice >= 0 AND p_retailprice < 500 THEN 0
            WHEN p_retailprice >= 500 AND p_retailprice < 1000 THEN 500
            WHEN p_retailprice >= 1000 AND p_retailprice < 1500 THEN 1000
            WHEN p_retailprice >= 1500 AND p_retailprice < 2000 THEN 1500
            ELSE 9999 END AS BIGINT) AS bucket,
       count(*) AS n, round(avg(p_retailprice), 2) AS avg_price
FROM part GROUP BY 1
"""


def q_count_stage(spark, sf_dir):
    """$count stage (docs/aggregation_stages.md:73-91)."""
    return _pipe(spark, sf_dir, "lineitem", [
        {"$match": {"l_discount": {"$gte": 0.05}}},
        {"$count": "n_discounted"},
    ])


_ORACLE_COUNT = """
SELECT count(*) AS n_discounted FROM lineitem WHERE l_discount >= 0.05
"""


def q_dedup_stage(spark, sf_dir):
    """$deduplicate stage (docs/aggregation_stages.md:93-116)."""
    return _pipe(spark, sf_dir, "lineitem", [
        {"$project": {"l_orderkey": 1, "l_suppkey": 1}},
        {"$deduplicate": {"expression": {"$concat": [
            {"$toString": "$l_orderkey"}, "-",
            {"$toString": "$l_suppkey"}]}}},
    ])


_ORACLE_DEDUP_STAGE = """
SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
"""


def q_lookup_array(spark, sf_dir):
    """$lookup left-outer array form: per-customer order count incl. 0."""
    return _pipe(spark, sf_dir, "customer", [
        {"$lookup": {"from": "orders", "localField": "c_custkey",
                     "foreignField": "o_custkey", "as": "ords"}},
        {"$project": {"_id": 0, "c_custkey": 1,
                      "n_orders": {"$toLong": {"$size": "$ords"}}}},
    ], catalog_tables=("orders",))


_ORACLE_LOOKUP_ARRAY = """
SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
FROM customer LEFT JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey
"""


def q_lookup_pipeline(spark, sf_dir):
    """$lookup with let + pipeline + unwind (correlated subquery form,
    app40 pattern) — decorrelated into a join by the compiler."""
    return _pipe(spark, sf_dir, "supplier", [
        {"$lookup": {
            "from": "lineitem",
            "let": {"sk": "$s_suppkey"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$$sk", "$l_suppkey"]}}},
                {"$match": {"l_quantity": {"$gte": 45}}},
            ],
            "as": "li", "unwind": True}},
        {"$group": {"_id": "$s_name",
                    "big_lines": {"$count": {}},
                    "qty": {"$sum": "$li.l_quantity"}}},
        {"$project": {"_id": 0, "s_name": "$_id", "big_lines": 1,
                      "qty": {"$round": ["$qty", 1]}}},
    ], catalog_tables=("lineitem",))


_ORACLE_LOOKUP_PIPE = """
SELECT s_name, count(*) AS big_lines, round(sum(l_quantity), 1) AS qty
FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
WHERE l_quantity >= 45 GROUP BY s_name
"""


def q_join_part(spark, sf_dir):
    """A `join` part (docs/join.md): orders x customer on computed keys;
    output {_id, left, right} flattened to scalars."""
    from pincette_json_streams_spark import Application

    catalog = {
        "orders": _t(spark, sf_dir, "orders"),
        "customer": _t(spark, sf_dir, "customer"),
    }
    app = Application(
        {
            "application": "q-join", "parts": [
                {"type": "join", "name": "j", "toTopic": "out",
                 "left": {"fromTopic": "orders", "on": "$o_custkey"},
                 "right": {"fromTopic": "customer", "on": "$c_custkey"}},
            ],
        },
        catalog,
    )
    j = app.run_batch()["out"]
    return j.select(
        F.col("_id"),
        F.col("left.o_orderkey").alias("o_orderkey"),
        F.col("right.c_name").alias("c_name"),
    )


_ORACLE_JOIN_PART = """
SELECT CAST(o_custkey AS VARCHAR) AS _id, o_orderkey, c_name
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_merge_part(spark, sf_dir):
    """A `merge` part (docs/merge.md): union of two filtered streams."""
    from pincette_json_streams_spark import Application

    catalog = {"orders": _t(spark, sf_dir, "orders")}
    app = Application(
        {
            "application": "q-merge", "parts": [
                {"type": "stream", "name": "hi", "fromTopic": "orders",
                 "pipeline": [{"$match": {"o_totalprice": {"$gte": 150000}}},
                              {"$set": {"band": "hi"}}]},
                {"type": "stream", "name": "lo", "fromTopic": "orders",
                 "pipeline": [{"$match": {"o_totalprice": {"$lt": 50000}}},
                              {"$set": {"band": "lo"}}]},
                {"type": "merge", "name": "m",
                 "fromStreams": ["hi", "lo"], "toTopic": "out"},
            ],
        },
        catalog,
    )
    out = app.run_batch()["out"]
    return out.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_ORACLE_MERGE_PART = """
SELECT band, count(*) AS n, round(sum(o_totalprice), 2) AS total FROM (
  SELECT 'hi' AS band, o_totalprice FROM orders WHERE o_totalprice >= 150000
  UNION ALL
  SELECT 'lo' AS band, o_totalprice FROM orders WHERE o_totalprice < 50000
) GROUP BY band
"""


def q_string_ops(spark, sf_dir):
    """String operator gallery (docs/aggregation_operators.md:726-949)."""
    return _pipe(spark, sf_dir, "customer", [
        {"$project": {
            "_id": 0,
            "c_custkey": 1,
            "upper_name": {"$toUpper": "$c_name"},
            "name_len": {"$strLenCP": "$c_name"},
            "digits": {"$substrCP": ["$c_name", 9, 9]},
            "seg_lower": {"$toLower": "$c_mktsegment"},
            "replaced": {"$replaceAll": {"input": "$c_name",
                                         "find": "Customer",
                                         "replacement": "Cust"}},
            "idx": {"$indexOfCP": ["$c_name", "#"]},
            "trimmed": {"$trim": {"input": {"$concat":
                                            ["  ", "$c_mktsegment", "  "]}}},
        }},
    ])


_ORACLE_STRINGS = """
SELECT c_custkey,
       upper(c_name) AS upper_name,
       length(c_name) AS name_len,
       substr(c_name, 10, 9) AS digits,
       lower(c_mktsegment) AS seg_lower,
       replace(c_name, 'Customer', 'Cust') AS replaced,
       instr(c_name, '#') - 1 AS idx,
       trim('  ' || c_mktsegment || '  ') AS trimmed
FROM customer
"""


def q_datetime_ops(spark, sf_dir):
    """ISO-8601 extension operators (docs/aggregation_operators.md:
    514-614) over the orders timestamps."""
    return _pipe(spark, sf_dir, "orders", [
        {"$project": {
            "_id": 0,
            "o_orderkey": 1,
            "y": {"$toLong": {"$toYear": "$o_orderdate"}},
            "m": {"$toLong": {"$toMonth": "$o_orderdate"}},
            "d": {"$toLong": {"$toDay": "$o_orderdate"}},
            "epoch_ms": {"$toEpochMillis": "$o_orderdate"},
            "epoch_s": {"$toEpochSeconds": "$o_orderdate"},
        }},
    ])


_ORACLE_DATETIME = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       CAST(day(o_orderdate) AS BIGINT) AS d,
       epoch_ms(o_orderdate) AS epoch_ms,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
FROM orders
"""


def q_arith_ops(spark, sf_dir):
    """Arithmetic operator gallery."""
    return _pipe(spark, sf_dir, "lineitem", [
        {"$match": {"l_linenumber": {"$lte": 2}}},
        {"$project": {
            "_id": 0,
            "l_orderkey": 1, "l_linenumber": 1,
            "q_mod": {"$mod": [{"$toLong": "$l_quantity"}, 7]},
            "q_pow": {"$round": [{"$pow": ["$l_discount", 2]}, 6]},
            "q_sqrt": {"$round": [{"$sqrt": "$l_quantity"}, 4]},
            "q_abs": {"$abs": {"$subtract": ["$l_quantity", 25]}},
            "q_ceil": {"$toLong": {"$ceil": "$l_extendedprice"}},
            "q_floor": {"$toLong": {"$floor": "$l_extendedprice"}},
            "q_trunc": {"$trunc": [{"$divide":
                                    ["$l_extendedprice", 1000]}, 1]},
            "q_ln": {"$round": [{"$ln": "$l_extendedprice"}, 6]},
        }},
    ])


_ORACLE_ARITH = """
SELECT l_orderkey, l_linenumber,
       CAST(l_quantity AS BIGINT) % 7 AS q_mod,
       round(pow(l_discount, 2), 6) AS q_pow,
       round(sqrt(l_quantity), 4) AS q_sqrt,
       abs(l_quantity - 25) AS q_abs,
       CAST(ceil(l_extendedprice) AS BIGINT) AS q_ceil,
       CAST(floor(l_extendedprice) AS BIGINT) AS q_floor,
       trunc(l_extendedprice / 1000 * 10) / 10 AS q_trunc,
       round(ln(l_extendedprice), 6) AS q_ln
FROM lineitem WHERE l_linenumber <= 2
"""


def q_array_ops(spark, sf_dir):
    """Array operator gallery: $split/$filter/$map/$reduce/$slice/$size/
    $setUnion/$reverseArray/$indexOfArray — projected to scalars."""
    return _pipe(spark, sf_dir, "part", [
        {"$set": {"words": {"$split": ["$p_name", " "]}}},
        {"$project": {
            "_id": 0,
            "p_partkey": 1,
            "n_words": {"$toLong": {"$size": "$words"}},
            "long_words": {"$toLong": {"$size": {"$filter": {
                "input": "$words", "as": "w",
                "cond": {"$gte": [{"$strLenCP": "$$w"}, 5]}}}}},
            "upper_first": {"$toUpper": {"$first": "$words"}},
            "last_word": {"$last": "$words"},
            "joined_rev": {"$reduce": {
                "input": {"$reverseArray": "$words"},
                "initialValue": "",
                "in": {"$concat": ["$$value", "_", "$$this"]}}},
            "total_len": {"$toLong": {"$reduce": {
                "input": {"$map": {"input": "$words", "as": "w",
                                   "in": {"$strLenCP": "$$w"}}},
                "initialValue": 0,
                "in": {"$add": ["$$value", "$$this"]}}}},
            "has_widget": {"$in": ["widget", "$words"]},
            "widget_at": {"$toLong": {"$indexOfArray":
                                      ["$words", "widget"]}},
        }},
    ])


_ORACLE_ARRAYS = """
WITH w AS (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
SELECT p_partkey,
       CAST(len(words) AS BIGINT) AS n_words,
       CAST(len(list_filter(words, x -> length(x) >= 5)) AS BIGINT)
         AS long_words,
       upper(words[1]) AS upper_first,
       words[-1] AS last_word,
       list_reduce(list_prepend('', list_reverse(words)),
                   (a, b) -> a || '_' || b) AS joined_rev,
       CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT)
         AS total_len,
       list_contains(words, 'widget') AS has_widget,
       CAST(coalesce(list_position(words, 'widget'), 0) - 1 AS BIGINT)
         AS widget_at
FROM w
"""


def q_type_convert(spark, sf_dir):
    """$convert/$toInt/$toLong/$toString/$toBool family."""
    return _pipe(spark, sf_dir, "customer", [
        {"$project": {
            "_id": 0,
            "c_custkey": 1,
            "bal_int": {"$toLong": {"$toInt": "$c_acctbal"}},
            "bal_str": {"$toString": {"$round": ["$c_acctbal", 2]}},
            "key_str": {"$toString": "$c_custkey"},
            "positive": {"$toBool": {"$gt": ["$c_acctbal", 0]}},
            "converted": {"$convert": {"input": "$c_custkey",
                                       "to": "double"}},
        }},
    ])


_ORACLE_CONVERT = """
SELECT c_custkey,
       CAST(trunc(c_acctbal) AS BIGINT) AS bal_int,
       CAST(round(c_acctbal, 2) AS VARCHAR) AS bal_str,
       CAST(c_custkey AS VARCHAR) AS key_str,
       c_acctbal > 0 AS positive,
       CAST(c_custkey AS DOUBLE) AS converted
FROM customer
"""


def q_validate(spark, sf_dir):
    """$validate stage (docs/validator.md): annotate invalid orders."""
    return _pipe(spark, sf_dir, "orders", [
        {"$validate": {
            "conditions": [
                {"o_totalprice": {"$lt": 400000, "$code": "MAXPRICE"}},
                {"o_orderpriority": {"$regex": "^[1-5]-",
                                     "$code": "PRIO"}},
                {"o_clerk": {"$exists": True, "$code": "CLERK"}},
            ],
        }},
        {"$project": {
            "_id": 0,
            "o_orderkey": 1,
            "_error": 1,
            "n_errors": {"$toLong": {"$cond":
                                     ["$_error", {"$size": "$errors"}, 0]}},
            "first_code": {"$cond": ["$_error",
                                     {"$first": "$errors.code"}, None]},
        }},
    ])


_ORACLE_VALIDATE = """
SELECT o_orderkey, TRUE AS _error, CAST(2 AS BIGINT) AS n_errors,
       CASE WHEN o_totalprice >= 400000 THEN 'MAXPRICE'
            ELSE 'CLERK' END AS first_code
FROM orders WHERE o_totalprice >= 400000
   OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
UNION ALL
SELECT o_orderkey, TRUE, 1, 'CLERK'
FROM orders WHERE o_totalprice < 400000
   AND regexp_matches(o_orderpriority, '^[1-5]-')
"""


def q_events_funnel(spark, sf_dir):
    """events table: $match on event_type + per-user-type counts +
    epoch-millis extraction (nanos-timestamp handling)."""
    return _pipe(spark, sf_dir, "events", [
        {"$match": {"event_type": {"$in": ["click", "view", "purchase"]}}},
        {"$group": {
            "_id": {"u": {"$mod": ["$user_id", 100]}, "t": "$event_type"},
            "n": {"$count": {}},
            "total_value": {"$sum": "$value"},
        }},
        {"$project": {"_id": 0, "user_bucket": "$_id.u",
                      "event_type": "$_id.t", "n": 1,
                      "total_value": {"$round": ["$total_value", 4]}}},
    ])


_ORACLE_EVENTS = """
SELECT user_id % 100 AS user_bucket, event_type, count(*) AS n,
       round(sum(value), 4) AS total_value
FROM events WHERE event_type IN ('click','view','purchase')
GROUP BY 1, 2
"""


def q_redact(spark, sf_dir):
    """$redact stage (docs/aggregation_stages.md:491-513): prune whole
    documents via $$PRUNE/$$DESCEND decisions."""
    return _pipe(spark, sf_dir, "orders", [
        {"$project": {"_id": 0, "o_orderkey": 1, "o_orderstatus": 1,
                      "o_totalprice": 1}},
        {"$redact": {"$cond": [{"$eq": ["$o_orderstatus", "F"]},
                               "$$PRUNE", "$$DESCEND"]}},
        {"$project": {"o_orderkey": 1,
                      "o_totalprice": {"$round": ["$o_totalprice", 2]}}},
    ])


def q_redact_nested(spark, sf_dir):
    """$redact over NESTED subdocuments with a non-trivial decision
    ($in + $gt + $ifNull through the full row interpreter): sub-docs
    whose level isn't in the allow-list are pruned, the rest descend."""
    return _pipe(spark, sf_dir, "orders", [
        {"$project": {
            "_id": 0, "okey": "$o_orderkey",
            "pub": {"val": "$o_totalprice"},
            "sec": {
                "level": {"$cond": [
                    {"$eq": [{"$mod": ["$o_orderkey", 3]}, 0]},
                    "secret", "internal"]},
                "val": "$o_custkey"},
        }},
        {"$redact": {"$cond": [
            {"$and": [
                {"$in": [{"$ifNull": ["$level", "public"]},
                         ["public", "internal"]]},
                {"$gt": [{"$ifNull": ["$val", 1]}, 0]},
            ]},
            "$$DESCEND", "$$PRUNE"]}},
        {"$project": {"okey": 1, "pub_val": "$pub.val",
                      "sec_val": "$sec.val"}},
    ])


_ORACLE_REDACT_NESTED = """
SELECT o_orderkey AS okey, o_totalprice AS pub_val,
       CASE WHEN o_orderkey % 3 != 0 AND o_custkey > 0
            THEN o_custkey END AS sec_val
FROM orders
"""


_ORACLE_REDACT = """
SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
FROM orders WHERE o_orderstatus <> 'F'
"""


def q_replace_root(spark, sf_dir):
    """$replaceRoot (docs/aggregation_stages.md:515-548): promote a
    computed subdocument to the message root."""
    return _pipe(spark, sf_dir, "orders", [
        {"$addFields": {"sub": {"okey": "$o_orderkey",
                                "price": "$o_totalprice",
                                "year": {"$toLong":
                                         {"$toYear": "$o_orderdate"}}}}},
        {"$replaceRoot": {"newRoot": "$sub"}},
        {"$project": {"okey": 1, "year": 1,
                      "price": {"$round": ["$price", 2]}}},
    ])


_ORACLE_REPLACE_ROOT = """
SELECT o_orderkey AS okey, CAST(year(o_orderdate) AS BIGINT) AS year,
       round(o_totalprice, 2) AS price
FROM orders
"""


def q_array_setops(spark, sf_dir):
    """Set operators on arrays (docs/aggregation_operators.md:648-723)."""
    return _pipe(spark, sf_dir, "part", [
        {"$set": {"words": {"$split": ["$p_name", " "]}}},
        {"$project": {
            "_id": 0,
            "p_partkey": 1,
            "n_union": {"$toLong": {"$size": {"$setUnion":
                                              ["$words",
                                               ["red", "green", "blue"]]}}},
            "n_inter": {"$toLong": {"$size": {"$setIntersection":
                                              ["$words",
                                               ["red", "green", "blue"]]}}},
            "n_diff": {"$toLong": {"$size": {"$setDifference":
                                             ["$words",
                                              ["red", "green", "blue"]]}}},
            "has_any_color": {"$anyElementTrue": [{"$map": {
                "input": "$words", "as": "w",
                "in": {"$in": ["$$w", ["red", "green", "blue"]]}}}]},
        }},
    ])


_ORACLE_SETOPS = """
WITH w AS (
  SELECT p_partkey, list_distinct(string_split(p_name, ' ')) AS words
  FROM part
)
SELECT p_partkey,
       CAST(len(list_distinct(words || ['red','green','blue'])) AS BIGINT)
         AS n_union,
       CAST(len(list_intersect(words, ['red','green','blue'])) AS BIGINT)
         AS n_inter,
       CAST(len(list_filter(words,
                 x -> NOT list_contains(['red','green','blue'], x)))
            AS BIGINT) AS n_diff,
       len(list_intersect(words, ['red','green','blue'])) > 0
         AS has_any_color
FROM w
"""


def q_match_arrays(spark, sf_dir):
    """Array query operators in $match: $size/$all/$elemMatch
    (docs/query.md:198-230) over per-customer order-priority arrays."""
    return _pipe(spark, sf_dir, "orders", [
        {"$group": {"_id": "$o_custkey",
                    "prios": {"$addToSet": "$o_orderpriority"},
                    "n": {"$count": {}}}},
        {"$match": {"prios": {"$size": 5},
                    "$and": [{"prios": {"$all": ["1-URGENT", "2-HIGH"]}},
                             {"prios": {"$elemMatch":
                                        {"$regex": "^5-"}}}]}},
        {"$project": {"_id": 0, "o_custkey": "$_id", "n": 1}},
    ])


_ORACLE_MATCH_ARRAYS = """
SELECT o_custkey, count(*) AS n
FROM orders GROUP BY o_custkey
HAVING count(DISTINCT o_orderpriority) = 5
   AND bool_or(o_orderpriority = '1-URGENT')
   AND bool_or(o_orderpriority = '2-HIGH')
   AND bool_or(o_orderpriority LIKE '5-%')
"""


def q_jq_stage(spark, sf_dir):
    """$jq whole-message transform (docs/aggregation_stages.md:245-277)
    through the embedded jq-subset interpreter, typed output."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 2000}}},
        {"$jq": {
            "script": "{okey: .o_orderkey, "
                      "band: (if .o_totalprice > 150000 then \"hi\" "
                      "else \"lo\" end), "
                      "prio_no: (.o_orderpriority | split(\"-\") "
                      "| .[0] | tonumber)}",
            "schema": "okey bigint, band string, prio_no bigint"}},
    ])


_ORACLE_JQ = """
SELECT o_orderkey AS okey,
       CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS band,
       CAST(string_split(o_orderpriority, '-')[1] AS BIGINT) AS prio_no
FROM orders WHERE o_orderkey <= 2000
"""


def q_jq_formats(spark, sf_dir):
    """jq @format strings (@base64/@base64d roundtrip, @html escape,
    @csv row building) over document text — the round-5 jq surface,
    value-checked against DuckDB's base64/replace equivalents."""
    return _pipe(spark, sf_dir, "documents", [
        {"$match": {"doc_id": {"$lt": 800}}},
        # the corpus text carries no escapable characters, so decorate
        # EVERY row with them — otherwise the @html/@csv checks reduce
        # to the identity transform and verify nothing
        {"$jq": {
            "script": "(.text[0:24] + \" x&<>'\" + \"\\\"\") as $s | "
                      "{doc_id: .doc_id, "
                      "b64: ($s | @base64), "
                      "rt: (($s | @base64 | @base64d) == $s), "
                      "html: ($s | @html), "
                      "csvrow: ([.doc_id, $s] | @csv)}",
            "schema": "doc_id bigint, b64 string, rt boolean, "
                      "html string, csvrow string"}},
    ])


_ORACLE_JQ_FORMATS = """
WITH s AS (
  SELECT doc_id,
         substr(text, 1, 24) || ' x' || chr(38) || '<>' || chr(39)
             || chr(34) AS t
  FROM documents
  WHERE doc_id < 800
)
SELECT doc_id,
       base64(encode(t)) AS b64,
       decode(from_base64(base64(encode(t)))) = t AS rt,
       replace(replace(replace(replace(replace(t,
           chr(38), chr(38) || 'amp;'), '<', chr(38) || 'lt;'),
           '>', chr(38) || 'gt;'), chr(39), chr(38) || '#39;'),
           chr(34), chr(38) || 'quot;') AS html,
       doc_id || ',' || chr(34) ||
           replace(t, chr(34), chr(34) || chr(34)) || chr(34) AS csvrow
FROM s
"""


def q_region_revenue(spark, sf_dir):
    """Star-join chain via chained $lookup(unwind): lineitem -> orders ->
    customer -> nation -> region, revenue per region (the broadcast-join
    showcase: every dimension side is small)."""
    return _pipe(spark, sf_dir, "lineitem", [
        {"$lookup": {"from": "orders", "localField": "l_orderkey",
                     "foreignField": "o_orderkey", "as": "o",
                     "unwind": True}},
        {"$lookup": {"from": "customer", "localField": "o.o_custkey",
                     "foreignField": "c_custkey", "as": "c",
                     "unwind": True}},
        {"$lookup": {"from": "nation", "localField": "c.c_nationkey",
                     "foreignField": "n_nationkey", "as": "n",
                     "unwind": True}},
        {"$lookup": {"from": "region", "localField": "n.n_regionkey",
                     "foreignField": "r_regionkey", "as": "r",
                     "unwind": True}},
        {"$group": {"_id": "$r.r_name",
                    "revenue": {"$sum": {"$multiply": [
                        "$l_extendedprice",
                        {"$subtract": [1, "$l_discount"]}]}},
                    "n_items": {"$count": {}}}},
        {"$project": {"_id": 0, "r_name": "$_id", "n_items": 1,
                      "revenue": {"$round": ["$revenue", 2]}}},
    ], catalog_tables=("orders", "customer", "nation", "region"))


_ORACLE_REGION_REVENUE = """
SELECT r_name, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_top_customers(spark, sf_dir):
    """Batch-order extensions $sort_ext/$limit (SURVEY §2.5 — streams are
    unordered in the reference; batch pipelines need top-k)."""
    return _pipe(spark, sf_dir, "orders", [
        {"$group": {"_id": "$o_custkey",
                    "spend": {"$sum": "$o_totalprice"}}},
        {"$project": {"_id": 0, "o_custkey": "$_id",
                      "spend": {"$round": ["$spend", 2]}}},
        {"$sort_ext": {"spend": -1, "o_custkey": 1}},
        {"$limit": 10},
    ])


_ORACLE_TOP_CUSTOMERS = """
SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
FROM orders GROUP BY o_custkey
ORDER BY spend DESC, o_custkey LIMIT 10
"""


def q_aggregate_fold(spark, sf_dir):
    """Event-sourcing aggregate part (docs/state.md, SURVEY §2.8): fold
    put commands per customer; emits the aggregate stream.  The fold is
    order-dependent, but the VERSION COUNT is not: every put carries a
    distinct okey, so each one changes state and emits exactly one new
    aggregate version — n_versions == commands-per-_id regardless of
    fold order, which the SQL oracle replays as a plain GROUP BY."""
    from pincette_json_streams_spark import Application

    orders = _t(spark, sf_dir, "orders")
    commands = orders.select(
        F.col("o_custkey").cast("string").alias("_id"),
        F.lit("put").alias("_command"),
        F.struct(F.lit("system").alias("sub")).alias("_jwt"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
    )
    app = Application(
        {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "cust"},
        ]},
        {"shop-cust-command": commands},
    )
    agg = app.streams["shop-cust-aggregate"]
    return agg.groupBy("_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions")
    )


_ORACLE_AGG_FOLD = """
SELECT o_custkey::VARCHAR AS _id, count(*)::BIGINT AS n_versions
FROM orders GROUP BY o_custkey
"""


def q_aggregate_unique(spark, sf_dir):
    """uniqueExpression re-key (docs/state.md:176-197): commands with
    distinct _ids converge on one instance per business key.  Every put
    changes state (distinct okey), so versions-per-key == orders-per-
    customer regardless of fold order -> oracle-checkable."""
    from pincette_json_streams_spark import Application

    orders = _t(spark, sf_dir, "orders")
    commands = orders.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.lit("put").alias("_command"),
        F.struct(F.lit("system").alias("sub")).alias("_jwt"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("okey"),
    )
    app = Application(
        {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "acct",
             "uniqueExpression": "$cust"},
        ]},
        {"shop-acct-command": commands},
    )
    agg = app.streams["shop-acct-aggregate"]
    return agg.select(
        F.get_json_object("value", "$.cust").cast("long").alias("cust"),
        F.get_json_object("value", "$._seq").cast("long").alias("_seq"),
    ).groupBy("cust").agg(
        F.count(F.lit(1)).cast("long").alias("n_versions"),
        F.max("_seq").cast("long").alias("max_seq"),
    )


_ORACLE_AGG_UNIQUE = """
SELECT o_custkey AS cust, count(*) AS n_versions,
       count(*) - 1 AS max_seq
FROM orders GROUP BY o_custkey
"""


def q_aggregate_jslt_reducer(spark, sf_dir):
    """JSLT script reducer (docs/state.md:61, the reference's preferred
    reducer form — app8's reducers/*.jslt pattern) through the embedded
    JSLT interpreter.  One command per instance -> order-free."""
    from pincette_json_streams_spark import Application

    orders = _t(spark, sf_dir, "orders")
    commands = orders.filter(F.col("o_orderkey") <= 4000).select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.lit("scale").alias("_command"),
        F.struct(F.lit("system").alias("sub")).alias("_jwt"),
        F.col("o_totalprice").alias("price"),
    )
    app = Application(
        {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "quote",
             "commands": {"scale": {"jslt":
                 '{"_id": .command._id,'
                 ' "total": .command.price * 2,'
                 ' "band": if (.command.price > 150000) "hi" else "lo"}'}},
            },
        ]},
        {"shop-quote-command": commands},
    )
    agg = app.streams["shop-quote-aggregate"]
    return agg.select(
        F.col("_id"),
        F.get_json_object("value", "$.total").cast("double").alias("total"),
        F.get_json_object("value", "$.band").alias("band"),
    )


_ORACLE_AGG_JSLT = """
SELECT CAST(o_orderkey AS VARCHAR) AS _id,
       o_totalprice * 2 AS total,
       CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS band
FROM orders WHERE o_orderkey <= 4000
"""


def q_aggregate_validate(spark, sf_dir):
    """Per-command validators (docs/state.md:63): invalid commands land
    on the reply stream with _error + errors; valid ones fold.  One
    command per instance -> order-free."""
    from pincette_json_streams_spark import Application

    orders = _t(spark, sf_dir, "orders")
    commands = orders.filter(F.col("o_orderkey") <= 4000).select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.lit("put").alias("_command"),
        F.struct(F.lit("system").alias("sub")).alias("_jwt"),
        F.col("o_totalprice").alias("price"),
    )
    app = Application(
        {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "order",
             "commands": {"put": {"validator": {"conditions": [
                 {"price": {"$lte": 150000, "$code": "PRICEY"}},
             ]}}}},
        ]},
        {"shop-order-command": commands},
    )
    reply = app.streams["shop-order-reply"]
    return reply.select(
        F.col("_id"),
        F.coalesce(
            F.get_json_object("value", "$._error").cast("boolean"),
            F.lit(False),
        ).alias("rejected"),
        F.get_json_object("value", "$.errors[0].code").alias("code"),
    )


_ORACLE_AGG_VALIDATE = """
SELECT CAST(o_orderkey AS VARCHAR) AS _id,
       o_totalprice > 150000 AS rejected,
       CASE WHEN o_totalprice > 150000 THEN 'PRICEY' END AS code
FROM orders WHERE o_orderkey <= 4000
"""


def q_aggregate_acl(spark, sf_dir):
    """_acl role gate (docs/state.md:199-232): a system put seeds state
    with _acl, a follow-up user put without the role is denied to the
    reply stream.  Stateful and order-dependent -> rows-only check."""
    from pincette_json_streams_spark import Application

    orders = _t(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") <= 2000)
    seed = base.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.lit("put").alias("_command"),
        F.struct(F.lit("system").alias("sub")).alias("_jwt"),
        F.struct(F.array(F.lit("admin")).alias("put")).alias("_acl"),
        F.col("o_totalprice").alias("price"),
        F.lit(0).alias("ord"),
    )
    attempt = base.select(
        F.col("o_orderkey").cast("string").alias("_id"),
        F.lit("put").alias("_command"),
        F.struct(F.lit("mallory").alias("sub")).alias("_jwt"),
        F.lit(None).cast(seed.schema["_acl"].dataType).alias("_acl"),
        (F.col("o_totalprice") * 0).alias("price"),
        F.lit(1).alias("ord"),
    )
    commands = seed.unionByName(attempt).withColumn(
        "_seq",
        F.when(F.col("ord") == 1, F.lit(0)).cast("long"),
    )
    app = Application(
        {"application": "shop", "parts": [
            {"type": "aggregate", "aggregateType": "locked"},
        ]},
        {"shop-locked-command": commands},
    )
    reply = app.streams["shop-locked-reply"]
    denied = reply.filter(
        F.get_json_object("value", "$._error").cast("boolean")
    )
    return denied.select("_id").groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_denied")
    )


# every attempt is denied: the seed's _acl.put=[admin] gate rejects
# mallory's put on each of the seeded instances, and the _seq=0 lock pins
# the fold order — the denial count is deterministic.
_ORACLE_AGG_ACL = """
SELECT count(*)::BIGINT AS n_denied FROM orders WHERE o_orderkey <= 2000
"""


# ===========================================================================
# 2. Training-data operators (dedup / similarity / text — SURVEY plus-scope)
# ===========================================================================

def q_text_stats(spark, sf_dir):
    from pincette_json_streams_spark.functions.text import (
        fingerprint, quality_score_from, with_text_features,
    )
    docs = _t(spark, sf_dir, "documents")
    tf = with_text_features(docs)
    return tf.select(
        "doc_id",
        F.col("__tf.ws_tokens").alias("ws_tokens"),
        F.col("__tf.bpe_tokens").alias("bpe_tokens"),
        quality_score_from(F.col("__tf"), F.length("text"))
        .alias("quality"),
        F.col("__tf.lang").alias("lang_guess"),
        fingerprint(F.col("text")).alias("fp"),
    )


def _sql_norm(col="text"):
    return f"trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"


def _oracle_text_stats():
    from pincette_json_streams_spark.functions.text import (
        BPE_TOKEN_RE, LANG_MARKERS, STOPWORDS,
    )
    stop_list = "[" + ",".join(f"'{s}'" for s in STOPWORDS) + "]"
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        ml = "[" + ",".join(f"'{m}'" for m in markers) + "]"
        score_cols.append(
            f"len(list_intersect(words, {ml})) AS s_{lang}"
        )
    langs = list(LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs):
        others = [f"s_{o}" for o in langs[i + 1:]]
        cond = f"s_{lang} >= 1"
        if others:
            cond += f" AND s_{lang} >= greatest({', '.join(others)})"
        cases.append(f"WHEN {cond} THEN '{lang}'")
    lang_case = "CASE " + " ".join(cases) + " ELSE 'und' END"
    return f"""
WITH base AS (
  SELECT doc_id, text, {_sql_norm()} AS norm,
         string_split(lower(trim(text)), ' ') AS raw_words
  FROM documents
), feat AS (
  SELECT doc_id, text, norm,
         string_split_regex(lower(trim(text)), '\\s+') AS words,
         len(string_split_regex(trim(text), '\\s+')) AS n_words,
         length(text) AS n_chars
  FROM base
), scored AS (
  SELECT doc_id, text, norm, words, n_words, n_chars,
         len(list_distinct(words))::DOUBLE / greatest(n_words, 1)
           AS distinct_ratio,
         (len(list_intersect(words, {stop_list})) > 0)::INT AS has_stop,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
           / greatest(n_chars, 1) AS punct_ratio,
         length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
           / greatest(n_words, 1) AS mean_word_len,
         {", ".join(score_cols)}
  FROM feat
)
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE n_words END
            AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT)
         AS bpe_tokens,
       round((0.4 * ((n_words >= 10 AND n_words <= 5000
                      AND mean_word_len >= 2 AND mean_word_len <= 12)::INT)
              + 0.3 * least(distinct_ratio * 2, 1.0)
              + 0.3 * has_stop)
             * (1.0 - least(punct_ratio * 5, 1.0)), 6) AS quality,
       {lang_case} AS lang_guess,
       ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp
FROM scored
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (pretraining-corpus redaction): typed placeholders
    for emails/SSNs/IPs/phones via chained native regexp_replace.  PII is
    synthesized deterministically per doc so the scrub is observable."""
    from pincette_json_streams_spark.functions.text import (
        pii_counts, scrub_pii,
    )
    docs = _t(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("dirty"),
    )
    counts = pii_counts(F.col("dirty"))
    return dirty.select(
        "doc_id",
        scrub_pii(F.col("dirty")).alias("clean"),
        counts["email"].cast("long").alias("n_email"),
        counts["ipv4"].cast("long").alias("n_ipv4"),
        counts["ssn"].cast("long").alias("n_ssn"),
    )


def _oracle_pii_scrub():
    from pincette_json_streams_spark.functions.text import PII_PATTERNS
    pats = dict(PII_PATTERNS)
    dirty = ("text || ' contact user' || doc_id || '@example.com ip 10.0.'"
             " || (doc_id % 256) || '.7 ssn 123-45-'"
             " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')")
    clean = dirty
    for name, _ in PII_PATTERNS:
        clean = (f"regexp_replace({clean}, '{pats[name]}', "
                 f"'<{name.upper()}>', 'g')")
    return f"""
SELECT doc_id, {clean} AS clean,
       len(regexp_extract_all({dirty}, '{pats["email"]}')) AS n_email,
       len(regexp_extract_all({dirty}, '{pats["ipv4"]}')) AS n_ipv4,
       len(regexp_extract_all({dirty}, '{pats["ssn"]}')) AS n_ssn
FROM documents
"""


def q_token_vocab(spark, sf_dir):
    """Corpus vocabulary/frequency table (tokenizer-training pass):
    explode BPE-ish tokens, one hash aggregation on the token."""
    from pincette_json_streams_spark.functions.text import token_vocabulary
    docs = _t(spark, sf_dir, "documents")
    return token_vocabulary(docs, min_count=2).select(
        "token",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_occurrences").cast("long").alias("n_occurrences"),
    )


def _oracle_token_vocab():
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}'))
           AS token
  FROM documents
)
SELECT token, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences
FROM toks GROUP BY token HAVING count(*) >= 2
"""


def q_corpus_stats(spark, sf_dir):
    """Corpus profiling pass (the first query any training-data
    pipeline runs): per-language doc counts, exact length percentiles
    (p50/p90/p99, linear interpolation), length stddev, total
    whitespace tokens.  One scan + one hash-agg shuffle; percentiles
    aggregate per group without a global sort."""
    from pincette_json_streams_spark.functions.text import ws_token_count
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("toks", ws_token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50_chars"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
            F.round(F.percentile("n_chars", F.lit(0.99)), 4).alias("p99_chars"),
            F.round(F.stddev_pop("n_chars"), 4).alias("sd_chars"),
            F.sum("toks").cast("long").alias("n_tokens"),
        )
    )


_ORACLE_CORPUS_STATS = """
SELECT lang, count(*)::BIGINT AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
       round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
       round(quantile_cont(n_chars, 0.99), 4) AS p99_chars,
       round(stddev_pop(n_chars), 4) AS sd_chars,
       sum(CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(regexp_extract_all(trim(text), '\\S+')) END)::BIGINT
         AS n_tokens
FROM documents GROUP BY lang
"""


def q_sample_split(spark, sf_dir):
    """Deterministic stratified sampling + train/test split
    (functions/sampling.py): per-language downsample via md5-hash
    thresholds, then a rerun-stable split column; aggregated counts per
    (lang, split).  Scan-side filter, no UDF, no extra shuffle beyond
    the final count agg — the reproducible-split pattern a 100 TB corpus
    rebuild needs."""
    from pincette_json_streams_spark.functions.sampling import (
        stratified_hash_sample, train_test_split,
    )
    docs = _t(spark, sf_dir, "documents")
    sampled = stratified_hash_sample(
        docs, "lang", {"en": 0.5, "de": 1.0, "fr": 0.25},
        default_fraction=0.1,
    )
    return (
        train_test_split(sampled, test_fraction=0.2)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("n_chars").cast("long").alias("n_chars"))
    )


_ORACLE_SAMPLE_SPLIT = """
WITH bucketed AS (
  SELECT lang, n_chars,
         ('0x' || substr(md5('' || doc_id::VARCHAR), 1, 8))::BIGINT
           / 4294967296.0 AS b,
         ('0x' || substr(md5('split' || doc_id::VARCHAR), 1, 8))::BIGINT
           / 4294967296.0 AS bs
  FROM documents
), sampled AS (
  SELECT lang, n_chars,
         CASE WHEN bs < 0.2 THEN 'test' ELSE 'train' END AS split
  FROM bucketed
  WHERE b < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 1.0
                      WHEN 'fr' THEN 0.25 ELSE 0.1 END
)
SELECT lang, split, count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS n_chars
FROM sampled GROUP BY lang, split
"""


def q_domain_mix(spark, sf_dir):
    """Per-domain mixture weights (functions/sampling.py
    domain_mixture): token share per source + temperature-scaled
    sampling weight share^0.7 / sum — the multi-source rebalancing rule
    every pretraining mix uses.  One corpus groupBy; the normalization
    windows run on the #domains-row aggregate."""
    from pincette_json_streams_spark.functions.sampling import (
        domain_mixture,
    )
    docs = _t(spark, sf_dir, "documents")
    return domain_mixture(docs, alpha=0.7)


_ORACLE_DOMAIN_MIX = """
WITH per AS (
  SELECT source, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN len(trim(text)) = 0 THEN 0
                  ELSE len(regexp_extract_all(trim(text), '\\S+')) END)
           ::BIGINT AS n_tokens
  FROM documents GROUP BY source
), shares AS (
  SELECT *, n_tokens / sum(n_tokens) OVER () AS share FROM per
)
SELECT source, n_docs, n_tokens,
       round(share, 6) AS token_share,
       round(pow(share, 0.7) / sum(pow(share, 0.7)) OVER (), 6) AS weight
FROM shares
"""


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing accounting
    (functions/sampling.py sequence_packing): documents laid out in
    doc_id order within each source shard, sliced into 2048-token
    sequences; per-sequence doc counts / token sums / fill.  The
    running-sum window partitions by source, so packing parallelizes
    across shards instead of the single-partition global-order trap."""
    from pincette_json_streams_spark.functions.sampling import (
        sequence_packing,
    )
    docs = _t(spark, sf_dir, "documents")
    return sequence_packing(docs, budget=2048)


_ORACLE_PACK_SEQUENCES = """
WITH toks AS (
  SELECT source, doc_id,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_extract_all(trim(text), '\\S+')) END AS t
  FROM documents
), placed AS (
  SELECT source, doc_id, t,
         coalesce(sum(t) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS start
  FROM toks
)
SELECT source, (start // 2048)::BIGINT AS seq_id,
       count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS n_tokens,
       min(doc_id)::BIGINT AS first_doc, max(doc_id)::BIGINT AS last_doc,
       round(sum(t) / 2048.0, 4) AS fill
FROM placed GROUP BY source, start // 2048
"""


def q_token_drift(spark, sf_dir):
    """Token-distribution drift between two corpus snapshots (doc_id
    parity split): top-20 Jensen-Shannon contribution movers with
    Laplace smoothing over the joint vocabulary — the pre-retrain
    data-quality check (functions/text.py token_drift)."""
    from pincette_json_streams_spark.functions.text import token_drift
    docs = _t(spark, sf_dir, "documents")
    return token_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        top_k=20,
    )


def _oracle_token_drift():
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    return f"""
WITH toks AS (
  SELECT doc_id % 2 AS side,
         unnest(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}'))
           AS token
  FROM documents
), ca AS (
  SELECT token, count(*) AS n_a FROM toks WHERE side = 0 GROUP BY token
), cb AS (
  SELECT token, count(*) AS n_b FROM toks WHERE side = 1 GROUP BY token
), j AS (
  SELECT coalesce(ca.token, cb.token) AS token,
         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
  FROM ca FULL JOIN cb ON ca.token = cb.token
), t AS (
  SELECT sum(n_a) AS ta, sum(n_b) AS tb, count(*) AS v FROM j
), scored AS (
  SELECT token, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
         round(
           0.5 * ((n_a + 0.5) / (ta + 0.5 * v))
               * log2(((n_a + 0.5) / (ta + 0.5 * v)) /
                      ((((n_a + 0.5) / (ta + 0.5 * v)) +
                        ((n_b + 0.5) / (tb + 0.5 * v))) / 2))
         + 0.5 * ((n_b + 0.5) / (tb + 0.5 * v))
               * log2(((n_b + 0.5) / (tb + 0.5 * v)) /
                      ((((n_a + 0.5) / (ta + 0.5 * v)) +
                        ((n_b + 0.5) / (tb + 0.5 * v))) / 2)),
           9) AS js_contrib
  FROM j, t
)
SELECT token, n_a, n_b, js_contrib FROM scored
ORDER BY js_contrib DESC, token ASC LIMIT 20
"""


def q_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix over the events table (functions/
    timeseries.py retention_cohorts): users cohort by first-activity
    day; cells count users active N days later + retention rate.  One
    distinct + reused user shuffle + final cell agg — nothing windowed
    over the raw stream."""
    from pincette_json_streams_spark.functions.timeseries import (
        retention_cohorts,
    )
    events = _t(spark, sf_dir, "events")
    return retention_cohorts(events)


_ORACLE_RETENTION = """
WITH active AS (
  SELECT DISTINCT user_id AS u,
         floor(epoch(ts) / 86400)::BIGINT AS p
  FROM events
), first AS (
  SELECT u, min(p) AS cohort FROM active GROUP BY u
), cells AS (
  SELECT cohort, (p - cohort)::BIGINT AS "offset",
         count(DISTINCT a.u)::BIGINT AS n_users
  FROM active a JOIN first f ON a.u = f.u
  GROUP BY cohort, p - cohort
)
SELECT c.cohort, c."offset", c.n_users,
       round(c.n_users / s.n_users::DOUBLE, 4) AS retention
FROM cells c JOIN (SELECT cohort, n_users FROM cells
                   WHERE "offset" = 0) s ON c.cohort = s.cohort
"""


def q_salted_revenue(spark, sf_dir):
    """Skew-safe two-level aggregation (functions/skew.py salted_agg):
    per-order-priority revenue where each key's rows first aggregate
    over 16 deterministic salt buckets, then partials combine — no
    reducer ever sees more than ~1/16 of a hot key.  Equality with the
    plain one-level oracle IS the correctness proof of the rewrite."""
    from pincette_json_streams_spark.functions.skew import salted_agg
    orders = _t(spark, sf_dir, "orders")
    out = salted_agg(
        orders, "o_orderpriority",
        {"revenue": ("sum", "o_totalprice"),
         "n_orders": ("count", "o_orderkey"),
         "max_price": ("max", "o_totalprice"),
         "avg_price": ("avg", "o_totalprice")},
        salt_buckets=16,
    )
    return out.select(
        "o_orderpriority",
        F.round("revenue", 2).alias("revenue"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round("max_price", 2).alias("max_price"),
        F.round("avg_price", 4).alias("avg_price"),
    )


_ORACLE_SALTED_REVENUE = """
SELECT o_orderpriority,
       round(sum(o_totalprice), 2) AS revenue,
       count(o_orderkey)::BIGINT AS n_orders,
       round(max(o_totalprice), 2) AS max_price,
       round(avg(o_totalprice), 4) AS avg_price
FROM orders GROUP BY o_orderpriority
"""


def q_kmv_distinct(spark, sf_dir):
    """Deterministic KMV distinct-count sketch (functions/profiling.py
    kmv_distinct): per-language estimated distinct token count from the
    64 minimum md5 hashes — the oracle-checkable cardinality estimator
    (HLL register layouts are engine-specific; KMV is exactly
    reproducible in DuckDB)."""
    from pincette_json_streams_spark.functions.profiling import (
        kmv_distinct,
    )
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.regexp_extract_all(
            F.lower("text"), F.lit(BPE_TOKEN_RE), F.lit(0)
        )).alias("token"),
    )
    return kmv_distinct(toks, "lang", "token", k=64)


def _oracle_kmv_distinct(k=64):
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    return f"""
WITH toks AS (
  SELECT DISTINCT lang,
         unnest(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}'))
           AS token
  FROM documents
), hashed AS (
  SELECT lang,
         ('0x' || substr(md5(token), 1, 8))::BIGINT / 4294967296.0 AS h,
         row_number() OVER (PARTITION BY lang ORDER BY
           ('0x' || substr(md5(token), 1, 8))::BIGINT / 4294967296.0 ASC)
           AS rn
  FROM toks
)
SELECT lang,
       CASE WHEN count(*) < {k} THEN count(*)::BIGINT
            ELSE round(({k} - 1) / max(h), 0)::BIGINT END AS est_distinct,
       {k} AS sketch_k
FROM hashed WHERE rn <= {k} GROUP BY lang
"""


def q_curation_funnel(spark, sf_dir):
    """End-to-end corpus-curation funnel — the report every training-
    data pipeline publishes: per language, how many documents (and
    characters) survive each curation stage.  Stage 1 exact dedup
    (min-id keeper per normalized-content fingerprint), stage 2
    quality gate (the composite length/diversity/stopword/punctuation
    score >= 0.8, evaluated as the exact-integer inequality
    quality_gate_from — no float anywhere in the surviving-set
    definition), stage 3 decontamination (drop the held-out benchmark
    slice doc_id % 50 == 0 and any document sharing a distinct
    word-3-gram with it).  Composes functions/dedup.py exact_dedup +
    functions/text.py quality_gate_from + benchmark_overlap under one
    oracle; every stage's pruning is integer/fingerprint math, so the
    funnel is engine-identical.

    Plan shape (the round-7 verdict flagged 3-4x kernel re-derivation
    here): instead of materializing four survivor DataFrames and
    union-aggregating them — which re-runs the dedup fingerprint and
    the Arrow feature kernel once per leg, or forces checkpoint
    materialization barriers — every document gets ONE label, the
    highest stage it survives.  Contamination is independent of the
    quality gate (a doc shares a gram with the benchmark or it
    doesn't), so the gram join runs over all non-benchmark docs and
    the label intersects it with the gate; exploding
    sequence(0, max_stage) then reproduces the per-stage rows in a
    single hash aggregation.  Each kernel runs exactly once, there are
    no barriers, and the whole funnel is one pipelined plan — the
    shape that survives a 100 TB corpus."""
    from pincette_json_streams_spark.functions.dedup import exact_dedup
    from pincette_json_streams_spark.functions.text import (
        benchmark_overlap, quality_gate_from, with_text_features,
    )
    docs = _t(spark, sf_dir, "documents")
    keep1 = exact_dedup(docs).select("doc_id") \
        .withColumn("__k1", F.lit(1))
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    nonbench = docs.filter(F.col("doc_id") % 50 != 0)
    contam = benchmark_overlap(nonbench, bench, n=3) \
        .select("doc_id").withColumn("__ct", F.lit(1))
    feats = with_text_features(docs).withColumn(
        "__g", quality_gate_from(F.col("__tf"), F.length("text")))
    lab = feats.join(keep1, "doc_id", "left") \
        .join(contam, "doc_id", "left")
    max_stage = (
        F.when(F.col("__k1").isNull(), F.lit(0))
        .when(~F.coalesce(F.col("__g"), F.lit(False)), F.lit(1))
        .when((F.col("doc_id") % 50 == 0)
              | F.col("__ct").isNotNull(), F.lit(2))
        .otherwise(F.lit(3))
    )
    staged = lab.select(
        "lang", F.length("text").alias("__len"),
        F.explode(F.sequence(F.lit(0), max_stage)).alias("stage_no"),
    )
    stage_name = F.element_at(
        F.array(F.lit("raw"), F.lit("exact_dedup"), F.lit("quality"),
                F.lit("decontaminated")),
        F.col("stage_no").cast("int") + 1,
    )
    return (
        staged.groupBy("lang", "stage_no")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("__len").cast("long").alias("n_chars"))
        .select("lang", F.col("stage_no").cast("long").alias("stage_no"),
                stage_name.alias("stage"), "n_docs", "n_chars")
    )


def _oracle_curation_funnel():
    from pincette_json_streams_spark.functions.text import (
        STOPWORDS,
    )
    stop_list = "[" + ",".join(f"'{s}'" for s in STOPWORDS) + "]"
    return f"""
WITH keep1 AS (
  -- same 60-bit fingerprint equivalence classes as exact_dedup
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY substr(md5({_sql_norm()}), 1, 15)
), s1 AS (
  SELECT d.* FROM documents d JOIN keep1 USING (doc_id)
), feat AS (
  -- the same integer signals quality_gate_from reads off the __tf
  -- struct; no float is ever formed
  SELECT doc_id,
         string_split_regex(lower(trim(text)), '\\s+') AS words,
         greatest(len(string_split_regex(trim(text), '\\s+')), 1)::BIGINT
           AS nw,
         len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_words,
         length(regexp_replace(text, '\\s+', '', 'g'))::BIGINT
           AS stripped_len,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::BIGINT
           AS n_punct,
         greatest(length(text), 1)::BIGINT AS ncg
  FROM s1
), gated AS (
  -- quality_score >= 4/5 multiplied through by its positive
  -- denominators (10*nw and ncg): pure int64, engine-identical
  SELECT doc_id,
         (4 * ((n_words >= 10 AND n_words <= 5000
                AND stripped_len >= 2 * nw
                AND stripped_len <= 12 * nw)::INT) * nw
          + 3 * least(2 * len(list_distinct(words))::BIGINT, nw)
          + 3 * ((len(list_intersect(words, {stop_list})) > 0)::INT) * nw
         ) * greatest(ncg - 5 * n_punct, 0) * 5 AS lhs,
         4 * 10 * nw * ncg AS rhs
  FROM feat
), s2 AS (
  SELECT s1.* FROM s1 JOIN gated USING (doc_id) WHERE lhs >= rhs
), norm3 AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS ws FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - 2, 1)),
           i -> array_to_string(ws[i:i+2], ' ')))) AS g
  FROM norm3
), benchg AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
), contaminated AS (
  SELECT DISTINCT grams.doc_id FROM grams JOIN benchg USING (g)
  WHERE doc_id % 50 != 0
), s3 AS (
  SELECT * FROM s2
  WHERE doc_id % 50 != 0
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT lang, 0::BIGINT AS stage_no, 'raw' AS stage,
       count(*)::BIGINT AS n_docs, sum(length(text))::BIGINT AS n_chars
FROM documents GROUP BY lang
UNION ALL
-- every branch fully BIGINT-cast: DuckDB's sum(BIGINT) is HUGEINT, and
-- one uncast branch silently promotes the whole unioned column to
-- HUGEINT, which pandas/Arrow drivers fetch as float64 — same printed
-- values, different value hash vs Spark's int64 (the round-7 red row)
SELECT lang, 1::BIGINT, 'exact_dedup', count(*)::BIGINT,
       sum(length(text))::BIGINT
FROM s1 GROUP BY lang
UNION ALL
SELECT lang, 2::BIGINT, 'quality', count(*)::BIGINT,
       sum(length(text))::BIGINT
FROM s2 GROUP BY lang
UNION ALL
SELECT lang, 3::BIGINT, 'decontaminated', count(*)::BIGINT,
       sum(length(text))::BIGINT
FROM s3 GROUP BY lang
"""


def q_kmv_overlap(spark, sf_dir):
    """KMV set-operation estimates (functions/profiling.py kmv_overlap;
    Beyer et al. SIGMOD 2007): pairwise audience overlap between event
    types — estimated distinct-user union, intersection and Jaccard
    for every type pair, from O(k)-state sketches instead of a
    distinct-join over the raw events.  The all-pairs join runs on the
    one-row-per-group sketch table (broadcast-sized at any corpus
    scale); every estimate is integer/dyadic math both engines replay
    bit-for-bit."""
    from pincette_json_streams_spark.functions.profiling import (
        kmv_overlap, kmv_sketch,
    )
    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(ev, "event_type", "user_id", k=64)
    return kmv_overlap(sk, "event_type", k=64) \
        .orderBy("group_a", "group_b")


def _oracle_kmv_overlap(k=64):
    return f"""
WITH d AS (
  SELECT DISTINCT event_type AS g, user_id AS v
  FROM events WHERE user_id IS NOT NULL
), hashed AS (
  SELECT g,
         ('0x' || substr(md5(v::VARCHAR), 1, 8))::BIGINT
           / 4294967296.0 AS h,
         row_number() OVER (PARTITION BY g ORDER BY
           ('0x' || substr(md5(v::VARCHAR), 1, 8))::BIGINT
             / 4294967296.0 ASC) AS rn
  FROM d
), sk AS (
  SELECT g, list_sort(list(h)) AS hs FROM hashed
  WHERE rn <= {k} GROUP BY g
), pairs AS (
  SELECT a.g AS group_a, b.g AS group_b,
         list_sort(list_distinct(list_concat(a.hs, b.hs)))[1:{k}] AS ks,
         list_intersect(a.hs, b.hs) AS bth
  FROM sk a JOIN sk b ON a.g < b.g
), est AS (
  SELECT group_a, group_b, len(ks) AS n, ks[len(ks)] AS hk,
         len(list_intersect(ks, bth)) AS c, len(bth) AS nboth
  FROM pairs
), o AS (
  SELECT group_a, group_b,
         CASE WHEN n < {k} THEN n::BIGINT
              ELSE round(({k} - 1) / hk, 0)::BIGINT END AS est_union,
         CASE WHEN n < {k} THEN nboth::BIGINT
              ELSE floor(c * {k - 1} / ({k} * hk) + 0.5)::BIGINT
              END AS est_intersection
  FROM est
)
SELECT group_a, group_b, est_union, est_intersection,
       (CASE WHEN est_union > 0
             THEN (est_intersection * 1000000) // est_union
             ELSE 0 END)::BIGINT AS jaccard_e6
FROM o ORDER BY group_a, group_b
"""


def q_ann_hamming(spark, sf_dir):
    """Binary-sketch ANN (functions/similarity.py hamming_topk;
    Charikar SimHash family): embeddings fold into two positive 32-bit
    sign-lanes, candidates rank by XOR+popcount Hamming distance — the
    memory-bound ANN path (32x smaller than float32, pure int64, no
    cosine in the hot loop).  Query set = vec_id % 100 == 0 (bounded,
    broadcast); completes the ANN family next to brute/LSH/IVF/PQ."""
    from pincette_json_streams_spark.functions.similarity import (
        hamming_topk,
    )
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    return hamming_topk(emb, qs, k=10)


def _oracle_ann_hamming(k=10):
    lane = ("list_sum(list_transform(generate_series(1, 32), "
            "i -> CASE WHEN embedding[{off} + i] > 0 "
            "THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END))")
    return f"""
WITH sigs AS (
  SELECT vec_id, {lane.format(off=0)} AS s0, {lane.format(off=32)} AS s1
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id,
         (bit_count(xor(c.s0, q.s0))
          + bit_count(xor(c.s1, q.s1)))::BIGINT AS hamming
  FROM sigs c, sigs q WHERE q.vec_id % 100 = 0
), ranked AS (
  SELECT query_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id, hamming
FROM ranked WHERE rank <= {k}
"""


def q_hamming_probe(spark, sf_dir):
    """The streaming face of the Hamming index run in batch
    (functions/similarity.py hamming_probe; the identical plan backs
    $hammingProbe on streams): probe sketches explode one byte-band
    key each, equi-join the index postings, and the first-colliding-
    band EXPRESSION dedups multi-band hits with zero aggregations —
    the property that makes the stage append-mode streaming-legal.
    Probes are 1-element-negated copies of every 100th embedding
    (<= 1 sketch bit from their source row); max_hamming=7 is the
    pigeonhole-guaranteed radius, so the output EQUALS brute force
    and the SQL oracle replays it exactly."""
    from pincette_json_streams_spark.functions.similarity import (
        binary_signatures, hamming_probe,
    )
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(-F.element_at("embedding", 1)),
            F.expr("slice(embedding, 2, size(embedding) - 1)"),
        ).alias("embedding"),
    )
    sigs = binary_signatures(emb, dims=64)
    psigs = binary_signatures(probes, dims=64)
    return hamming_probe(psigs, sigs, max_hamming=7).select(
        "vec_id", "match_id", "hamming")


def _oracle_hamming_probe():
    lane = ("list_sum(list_transform(generate_series(1, 32), "
            "i -> CASE WHEN {v} > 0 "
            "THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END))")
    corpus_v = "embedding[{off} + i]"
    probe_v = ("(CASE WHEN {off} + i = 1 THEN -embedding[1] "
               "ELSE embedding[{off} + i] END)")
    return f"""
WITH sigs AS (
  SELECT vec_id,
         {lane.format(v=corpus_v.format(off=0))} AS s0,
         {lane.format(v=corpus_v.format(off=32))} AS s1
  FROM embeddings
), probes AS (
  SELECT vec_id + 1000000 AS vec_id,
         {lane.format(v=probe_v.format(off=0))} AS s0,
         {lane.format(v=probe_v.format(off=32))} AS s1
  FROM embeddings WHERE vec_id % 100 = 0
)
SELECT p.vec_id, c.vec_id AS match_id,
       (bit_count(xor(c.s0, p.s0))
        + bit_count(xor(c.s1, p.s1)))::BIGINT AS hamming
FROM probes p, sigs c
WHERE bit_count(xor(c.s0, p.s0)) + bit_count(xor(c.s1, p.s1)) <= 7
"""


def q_ivf_probe(spark, sf_dir):
    """STREAM-STATIC cosine radius lookup run in batch
    (functions/similarity.py ivf_probe; the identical plan backs
    $ivfProbe on streams — the dense-vector sibling of hamming_probe):
    probes (every 100th embedding, re-keyed +1e6) assign to their 2
    nearest stride-64 centroids via the broadcast Arrow argmax,
    candidates come from the equi-join on list id against the full
    corpus (each corpus row in exactly ONE list, so pairs are unique
    by construction — no dedup, no state), and the rounded cosine
    filters >= 0.2.  The oracle replays assignment (rounded-cosine
    argmax, ties by centroid id) and the radius filter exactly."""
    from pincette_json_streams_spark.functions.similarity import (
        ivf_probe,
    )
    emb = _t(spark, sf_dir, "embeddings")
    cents = [list(r["embedding"]) for r in
             emb.filter(F.col("vec_id") % 64 == 0)
             .orderBy("vec_id").select("embedding").collect()]
    probes = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    return ivf_probe(probes, emb, cents, min_cosine=0.2, nprobe=2)


_ORACLE_IVF_PROBE = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
  SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % 64 = 0
), cos_vc AS (
  SELECT v.vec_id, v.e, cent.cid,
         round(list_dot_product(v.e, cent.ce) /
               (sqrt(list_dot_product(v.e, v.e)) *
                sqrt(list_dot_product(cent.ce, cent.ce))), 6) AS c
  FROM v, cent
), ranked_assign AS (
  SELECT vec_id, e, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c DESC, cid ASC) AS rnk
  FROM cos_vc
), assigned AS (
  SELECT vec_id, e, cid AS list_id FROM ranked_assign WHERE rnk = 1
), q AS (
  SELECT vec_id + 1000000 AS probe_id, e AS qv, cid AS list_id
  FROM ranked_assign WHERE vec_id % 100 = 0 AND rnk <= 2
)
SELECT q.probe_id AS vec_id, a.vec_id AS match_id,
       round(list_dot_product(q.qv, a.e) /
             (sqrt(list_dot_product(q.qv, q.qv)) *
              sqrt(list_dot_product(a.e, a.e))), 6) AS cosine
FROM assigned a JOIN q USING (list_id)
WHERE round(list_dot_product(q.qv, a.e) /
            (sqrt(list_dot_product(q.qv, q.qv)) *
             sqrt(list_dot_product(a.e, a.e))), 6) >= 0.2
"""


def q_ann_hamming_lsh(spark, sf_dir):
    """Sub-linear Hamming ANN (functions/similarity.py
    hamming_lsh_topk): the banded-LSH index over the round-8 sign-lane
    sketches — corpus posts one byte-band key per band, queries
    multi-probe each band's exact value plus every 1-bit flip, and
    candidates come from the band equi-join against the broadcast
    probe set (NO crossJoin against the corpus; the dedup.py:252
    star-edge pattern applied to sketch lanes).  Pigeonhole recall
    guarantee: every neighbour within Hamming 8 of a 64-dim sketch is
    a candidate; re-rank is the exact XOR+popcount kernel.  Integer-
    exact end to end, so the oracle replays it bit-for-bit."""
    from pincette_json_streams_spark.functions.similarity import (
        hamming_lsh_topk,
    )
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0) \
        .select(F.col("vec_id").alias("query_id"), "embedding")
    return hamming_lsh_topk(emb, qs, k=10)


def _oracle_ann_hamming_lsh(k=10):
    lane = ("list_sum(list_transform(generate_series(1, 32), "
            "i -> CASE WHEN embedding[{off} + i] > 0 "
            "THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END))")
    return f"""
WITH sigs AS (
  SELECT vec_id, {lane.format(off=0)} AS s0, {lane.format(off=32)} AS s1
  FROM embeddings
), postings AS (
  SELECT vec_id, s0, s1, b.band,
         ((CASE WHEN b.band < 4 THEN s0 ELSE s1 END)
          >> ((3 - (b.band % 4)) * 8)) & 255 AS bv
  FROM sigs, generate_series(0, 7) AS b(band)
), qbands AS (
  SELECT vec_id AS query_id, s0 AS qs0, s1 AS qs1, b.band,
         ((CASE WHEN b.band < 4 THEN s0 ELSE s1 END)
          >> ((3 - (b.band % 4)) * 8)) & 255 AS base
  FROM sigs, generate_series(0, 7) AS b(band)
  WHERE vec_id % 100 = 0
), probes AS (
  SELECT query_id, qs0, qs1, band,
         CASE WHEN j.j = 0 THEN base
              ELSE xor(base, 1::BIGINT << (j.j - 1)) END AS bv
  FROM qbands, generate_series(0, 8) AS j(j)
), cand AS (
  SELECT q.query_id, p.vec_id,
         min((bit_count(xor(p.s0, q.qs0))
              + bit_count(xor(p.s1, q.qs1)))::BIGINT) AS hamming
  FROM postings p JOIN probes q ON p.band = q.band AND p.bv = q.bv
  GROUP BY q.query_id, p.vec_id
), ranked AS (
  SELECT query_id, vec_id, hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming ASC, vec_id ASC) AS rank
  FROM cand
)
SELECT query_id, rank::BIGINT AS rank, vec_id, hamming
FROM ranked WHERE rank <= {k}
"""


def q_dup_containment(spark, sf_dir):
    """Exact n-gram containment join (functions/dedup.py
    containment_pairs; Broder's containment, SEQUENCES 1997): pairs
    where the smaller n-gram set is >= 50% inside the other —
    C = |A∩B| / min(|A|,|B|) on the 1e-6 integer grid.  The asymmetric
    sibling of dedup_ngram: boilerplate wrappers and quoted passages
    live in the high-containment/low-Jaccard region symmetric Jaccard
    cannot see.  Same cluster-compressed inverted-index shape; the
    containment gate is an integer cross-multiplication."""
    from pincette_json_streams_spark.functions.dedup import (
        containment_pairs,
    )
    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, n=3, threshold_pct=50)


_ORACLE_DUP_CONTAINMENT = f"""
WITH norm AS (
  SELECT doc_id AS id, string_split({_sql_norm()}, ' ') AS w FROM documents
), ng AS (
  SELECT id, list_distinct(
    [array_to_string(w[i : i + 2], ' ')
     for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS g
  FROM norm
), posting AS (
  SELECT id, unnest(g) AS gram FROM ng
), shared AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS inter
  FROM posting l JOIN posting r ON l.gram = r.gram AND l.id < r.id
  GROUP BY 1, 2
), sizes AS (SELECT id, len(g) AS sz FROM ng)
SELECT id_a, id_b, a.sz::BIGINT AS sz_a, b.sz::BIGINT AS sz_b,
       ((inter * 1000000) // least(a.sz, b.sz))::BIGINT AS cont_e6
FROM shared JOIN sizes a ON a.id = id_a JOIN sizes b ON b.id = id_b
WHERE (inter * 1000000) // least(a.sz, b.sz) >= 500000
"""


def q_hamming_pairs(spark, sf_dir):
    """All-pairs Hamming near-duplicates over sign-lane sketches
    (functions/similarity.py hamming_near_pairs): band-collision
    candidates (one byte-band posting per row, equi-join, id_a <
    id_b), one row per pair from its first colliding band, exact
    XOR+popcount verify.  The self-join sibling of ann_hamming_lsh —
    and the SAME operator that pairs image dHashes
    (multimodal.resize_image) for perceptual image dedup.
    max_hamming=18 exceeds the guaranteed radius (7 = bands-1) on
    purpose: this corpus's closest sketches sit at distance 15+,
    and BOTH engines replay the identical band-collision candidate
    rule, so the output is deterministic even where recall is
    probabilistic."""
    from pincette_json_streams_spark.functions.similarity import (
        binary_signatures, hamming_near_pairs,
    )
    import warnings
    emb = _t(spark, sf_dir, "embeddings")
    sigs = binary_signatures(emb, dims=64)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # radius warning is the point
        return hamming_near_pairs(sigs, max_hamming=18)


def _oracle_hamming_pairs(mh=18):
    lane = ("list_sum(list_transform(generate_series(1, 32), "
            "i -> CASE WHEN embedding[{off} + i] > 0 "
            "THEN (1::BIGINT << (32 - i)) ELSE 0::BIGINT END))")
    return f"""
WITH sigs AS (
  SELECT vec_id, {lane.format(off=0)} AS s0, {lane.format(off=32)} AS s1
  FROM embeddings
), postings AS (
  SELECT vec_id, s0, s1, b.band,
         ((CASE WHEN b.band < 4 THEN s0 ELSE s1 END)
          >> ((3 - (b.band % 4)) * 8)) & 255 AS bv
  FROM sigs, generate_series(0, 7) AS b(band)
)
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       min((bit_count(xor(l.s0, r.s0))
            + bit_count(xor(l.s1, r.s1)))::BIGINT) AS hamming
FROM postings l JOIN postings r
  ON l.band = r.band AND l.bv = r.bv AND l.vec_id < r.vec_id
GROUP BY 1, 2
HAVING min(bit_count(xor(l.s0, r.s0))
           + bit_count(xor(l.s1, r.s1))) <= {mh}
"""


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (functions/similarity.py
    hard_negative_topk): per query vector, the 10 most-similar corpus
    vectors with a DIFFERENT label — the near-boundary negatives that
    carry the gradient in contrastive training.  brute_force_topk's
    determinism contract (rounded cosine, vec_id ties) with the label
    exclusion riding the scoring join.  Cosine dropped from the
    output (rank order is the contract, same as ann_topk)."""
    from pincette_json_streams_spark.functions.similarity import (
        hard_negative_topk,
    )
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    qs = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label")
    return hard_negative_topk(emb, qs, k=10).select(
        "query_id", F.col("rank").cast("long").alias("rank"),
        "vec_id", F.col("neg_label").cast("long").alias("neg_label"))


_ORACLE_HARD_NEGATIVES = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label
  FROM embeddings WHERE vec_id % 100 = 0
), scored AS (
  SELECT q.query_id, e.vec_id, e.label AS neg_label,
         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.qv, q.qv)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]))) AS cosine
  FROM embeddings e, q WHERE e.label != q.label
), ranked AS (
  -- rank on round(cosine, 6) to MATCH the Spark contract
  -- (hard_negative_topk ranks the rounded score, ties broken by
  -- vec_id): ranking the unrounded double here would order
  -- sub-1e-6-apart candidates differently than Spark's tie-break
  SELECT query_id, vec_id, neg_label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cosine, 6) DESC,
                                     vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank::BIGINT AS rank, vec_id,
       neg_label::BIGINT AS neg_label
FROM ranked WHERE rank <= 10
"""


def q_balanced_sample(spark, sf_dir):
    """Exact-count class rebalancing (functions/sampling.py
    balanced_topn_sample): the 20 lowest-md5-ranked vectors of every
    label — uniform label distribution with GUARANTEED counts, the
    deterministic sibling of the fraction-based stratified sample.
    No RNG: rank = md5(key), so reruns and growing strata never move
    an already-selected row."""
    from pincette_json_streams_spark.functions.sampling import (
        balanced_topn_sample,
    )
    emb = _t(spark, sf_dir, "embeddings")
    return balanced_topn_sample(
        emb.select("vec_id", "label"), "label", 20, key_col="vec_id",
    ).select("vec_id", F.col("label").cast("long").alias("label"))


_ORACLE_BALANCED_SAMPLE = """
WITH r AS (
  SELECT vec_id, label,
         row_number() OVER (PARTITION BY label
                            ORDER BY md5(vec_id::VARCHAR), vec_id)
           AS rn
  FROM embeddings
)
SELECT vec_id, label::BIGINT AS label FROM r WHERE rn <= 20
"""


def q_changepoint_scan(spark, sf_dir):
    """Mean-shift changepoint scan (functions/timeseries.py
    mean_shift_changepoints): per event type, the 5 moments where the
    mean of the next 50 observations shifts most against the previous
    50 — the sliding two-sample changepoint test.  Full windows only,
    so the shift is a raw int64 sum difference on the 1e-6 value grid;
    one keyed exchange shared by both frames and the rank window."""
    from pincette_json_streams_spark.functions.timeseries import (
        mean_shift_changepoints,
    )
    ev = _t(spark, sf_dir, "events")
    return mean_shift_changepoints(ev, window=50, top=5)


_ORACLE_CHANGEPOINT = """
WITH base AS (
  SELECT event_type AS g, epoch_ns(ts) AS t, event_id AS id,
         floor(value * 1000000 + 0.5)::BIGINT AS v
  FROM events
  WHERE NOT isnan(value) AND NOT isinf(value)
), scored AS (
  SELECT g, t, id,
         (sum(v) OVER (PARTITION BY g ORDER BY t, id
             ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING)
          - sum(v) OVER (PARTITION BY g ORDER BY t, id
             ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))::BIGINT
           AS shift_e6,
         count(*) OVER (PARTITION BY g ORDER BY t, id
             ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING) AS cb,
         count(*) OVER (PARTITION BY g ORDER BY t, id
             ROWS BETWEEN CURRENT ROW AND 49 FOLLOWING) AS ca
  FROM base
), full_w AS (
  SELECT g, t, id, shift_e6,
         row_number() OVER (PARTITION BY g
             ORDER BY abs(shift_e6) DESC, t ASC, id ASC) AS rank
  FROM scored WHERE cb = 50 AND ca = 50
)
SELECT g AS event_type, rank::BIGINT AS rank, id AS event_id, shift_e6
FROM full_w WHERE rank <= 5
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher/MassiveText-style repetition quality signals per document:
    most-frequent-word fraction, most-frequent-2-gram fraction, fraction
    of 5-gram occurrences covered by duplicated 5-grams, and word-
    distribution entropy.  One fused Arrow pass with per-doc counters
    (O(len) per doc), float math in native Columns."""
    from pincette_json_streams_spark.functions.text import (
        with_repetition_features,
    )
    docs = _t(spark, sf_dir, "documents")
    rep = with_repetition_features(docs)
    r = F.col("__rep")
    return rep.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        F.round(r["top_word_n"] / r["n_words"], 6).alias("top_word_frac"),
        F.round(
            r["top_2gram_n"] / F.greatest(r["n_2grams"], F.lit(1)), 6
        ).alias("top_2gram_frac"),
        F.round(
            r["dup_5gram_n"] / F.greatest(r["n_5grams"], F.lit(1)), 6
        ).alias("dup_5gram_frac"),
        F.round(r["word_entropy"], 6).alias("word_entropy"),
    )


_ORACLE_REPETITION = """
WITH w AS (
  SELECT doc_id,
         string_split_regex(lower(trim(text, ' ')), '\\s+') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, unnest(ws) AS t FROM w
), wc AS (
  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2
), went AS (
  SELECT doc_id, sum(c) AS n_words, max(c) AS top_word_n
  FROM wc GROUP BY doc_id
), ent AS (
  SELECT wc.doc_id,
         -sum((c::DOUBLE / n_words) * ln(c::DOUBLE / n_words))
           AS entropy
  FROM wc JOIN went ON wc.doc_id = went.doc_id
  GROUP BY wc.doc_id
), g2 AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(ws) - 1, 0)),
           i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM w
), g2c AS (
  SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
), g2stats AS (
  SELECT doc_id, max(c) AS top_2gram_n, sum(c) AS n_2grams
  FROM g2c GROUP BY doc_id
), g5 AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(ws) - 4, 0)),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                || ws[i+3] || ' ' || ws[i+4])) AS g
  FROM w
), g5c AS (
  SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY 1, 2
), g5stats AS (
  SELECT doc_id,
         coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_5gram_n,
         sum(c) AS n_5grams
  FROM g5c GROUP BY doc_id
)
SELECT went.doc_id, went.n_words::BIGINT AS n_words,
       round(went.top_word_n::DOUBLE / went.n_words, 6) AS top_word_frac,
       round(coalesce(g2stats.top_2gram_n, 0)::DOUBLE
             / greatest(coalesce(g2stats.n_2grams, 0), 1), 6)
         AS top_2gram_frac,
       round(coalesce(g5stats.dup_5gram_n, 0)::DOUBLE
             / greatest(coalesce(g5stats.n_5grams, 0), 1), 6)
         AS dup_5gram_frac,
       round(ent.entropy, 6) AS word_entropy
FROM went
JOIN ent ON went.doc_id = ent.doc_id
LEFT JOIN g2stats ON went.doc_id = g2stats.doc_id
LEFT JOIN g5stats ON went.doc_id = g5stats.doc_id
"""


def q_contamination(spark, sf_dir):
    """Benchmark-contamination check (the decontamination pass every
    training corpus needs): docs sharing any distinct 3-gram with the
    held-out benchmark subset (doc_id % 50 == 0), with the shared-gram
    count.  The benchmark gram set is broadcast — the training side
    never shuffles its grams."""
    from pincette_json_streams_spark.functions.text import (
        benchmark_overlap,
    )
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    out = benchmark_overlap(train, bench, n=3)
    return out.select(
        "doc_id", F.col("n_shared_grams").cast("long")
        .alias("n_shared_grams"),
    )


_ORACLE_CONTAMINATION = f"""
WITH norm AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS ws FROM documents
), grams AS (
  -- 3-grams: ws[i:i+2] truncates at the end of the list exactly like
  -- Spark's slice(words, i, 3) + concat_ws
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - 2, 1)),
           i -> array_to_string(ws[i:i+2], ' ')))) AS g
  FROM norm
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
)
SELECT g.doc_id, count(*) AS n_shared_grams
FROM grams g JOIN bench b ON g.g = b.g
WHERE g.doc_id % 50 != 0
GROUP BY g.doc_id
"""


def q_lm_score(spark, sf_dir):
    """Unigram LM quality scoring: mean token log-probability under the
    corpus's own unigram distribution — the cheap perplexity proxy used
    to rank/filter pretraining documents.  Vocabulary agg + broadcast
    join; one doc-id shuffle."""
    from pincette_json_streams_spark.functions.text import unigram_logprob
    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs).select(
        "doc_id", "mean_logprob",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


_ORACLE_LM_SCORE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({_sql_norm()}, ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), tot AS (
  SELECT sum(c) AS t FROM vocab
), lp AS (
  SELECT w, ln(c::DOUBLE / (SELECT t FROM tot)) AS logp FROM vocab
)
SELECT doc_id, round(avg(logp), 6) AS mean_logprob,
       count(*) AS n_tokens
FROM tok JOIN lp USING (w)
GROUP BY doc_id
"""


def q_tfidf_terms(spark, sf_dir):
    """Per-language top-5 TF-IDF terms (functions/text.py
    tfidf_top_terms): two hash aggs + broadcast IDF + WindowGroupLimit
    top-k."""
    from pincette_json_streams_spark.functions.text import tfidf_top_terms
    docs = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=5)


_ORACLE_TFIDF = f"""
WITH toks AS (
  SELECT lang, doc_id, unnest(string_split({_sql_norm()}, ' ')) AS w
  FROM documents
), total AS (
  SELECT count(DISTINCT doc_id) AS n FROM documents
), dfq AS (
  SELECT w, count(*) AS dfreq FROM (
    SELECT DISTINCT doc_id, w FROM toks
  ) GROUP BY w
), tf AS (
  SELECT lang, w, count(*) AS tf FROM toks GROUP BY 1, 2
), scored AS (
  SELECT tf.lang, tf.w, tf.tf, dfq.dfreq,
         tf.tf * ln((SELECT n FROM total)::DOUBLE / dfq.dfreq) AS score
  FROM tf JOIN dfq ON tf.w = dfq.w
), ranked AS (
  SELECT lang, w, tf, dfreq, score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY score DESC, w ASC) AS rank
  FROM scored
)
SELECT lang, rank::BIGINT AS rank, w AS term, tf, dfreq,
       round(score, 6) AS score
FROM ranked WHERE rank <= 5
"""


def q_events_gapfill(spark, sf_dir):
    """Daily per-user event rollup WITH gap rows (functions/
    timeseries.py time_bucket_gapfill): users 0-19, day buckets over
    epoch nanos, empty days at n=0 — the hypertable/continuous-
    aggregate query shape."""
    from pincette_json_streams_spark.functions.timeseries import (
        time_bucket_gapfill,
    )
    events = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    day_ns = 86400 * 1_000_000_000
    out = time_bucket_gapfill(
        events, by="user_id", ts="ts_nanos", bucket=day_ns,
        aggs={
            "n": F.count(F.lit(1)).cast("long"),
            "total_value": F.round(F.sum("value"), 4),
        },
        fill_zero=["n"],
    )
    return out.select("user_id", "bucket", "n", "total_value")


_ORACLE_GAPFILL = """
WITH rolled AS (
  SELECT user_id, epoch_ns(ts) // (86400 * 1000000000::BIGINT) AS bucket,
         count(*) AS n, round(sum(value), 4) AS total_value
  FROM events WHERE user_id < 20 GROUP BY 1, 2
), bounds AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
  FROM rolled GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(lo, hi)) AS bucket FROM bounds
)
SELECT g.user_id, g.bucket, coalesce(r.n, 0) AS n, r.total_value
FROM grid g LEFT JOIN rolled r
  ON g.user_id = r.user_id AND g.bucket = r.bucket
"""


def q_profile_table(spark, sf_dir):
    """Per-column profiling of lineitem (functions/profiling.py): nulls,
    distincts, numeric/timestamp/string extremes — one scan, one
    hash-agg job for all 11 columns."""
    from pincette_json_streams_spark.functions.profiling import (
        profile_table,
    )
    li = _t(spark, sf_dir, "lineitem")
    return profile_table(li).withColumn(
        "min_num", F.round("min_num", 4)
    ).withColumn("max_num", F.round("max_num", 4))


def _oracle_profile():
    cols = [
        ("l_orderkey", "num"), ("l_partkey", "num"), ("l_suppkey", "num"),
        ("l_linenumber", "num"), ("l_quantity", "num"),
        ("l_extendedprice", "num"), ("l_discount", "num"),
        ("l_tax", "num"), ("l_returnflag", "str"), ("l_linestatus", "str"),
        ("l_shipdate", "ts"),
    ]
    parts = []
    for c, kind in cols:
        if kind == "num":
            mn = f"round(min({c})::DOUBLE, 4)"
            mx = f"round(max({c})::DOUBLE, 4)"
            ms = me = "NULL::VARCHAR"
        elif kind == "ts":
            mn = f"round(epoch(min({c}))::DOUBLE, 4)"
            mx = f"round(epoch(max({c}))::DOUBLE, 4)"
            ms = me = "NULL::VARCHAR"
        else:
            mn = mx = "NULL::DOUBLE"
            ms, me = f"min({c})", f"max({c})"
        parts.append(
            f"SELECT '{c}' AS column, "
            f"count(*) FILTER (WHERE {c} IS NULL) AS n_nulls, "
            f"count(DISTINCT {c}) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{ms} AS min_str, {me} AS max_str FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


def q_passage_dedup(spark, sf_dir):
    """Duplicated-passage removal (exact substring dedup at passage
    granularity): disjoint 32-word chunks -> content fingerprint ->
    keep the lexicographically first (doc_id, chunk_idx) occurrence per
    passage.  Composition of chunk_documents + the dedup_exact group —
    one explode, one hash agg; at 100 TB the agg shuffles only
    (fingerprint, keeper-key, count)."""
    from pincette_json_streams_spark.functions.text import (
        chunk_documents, fingerprint,
    )
    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs.select("doc_id", "text"), size=32, overlap=0
    )
    # lexicographic min over the (doc_id, chunk_idx) pair via struct
    # ordering — collision-free for any chunk_idx, unlike arithmetic
    # packing
    keyed = chunks.select(
        fingerprint(F.col("chunk")).alias("fp"),
        F.struct(F.col("doc_id"), F.col("chunk_idx")).alias("__k"),
    )
    return (
        keyed.groupBy("fp")
        .agg(
            F.min("__k").alias("__kmin"),
            F.count(F.lit(1)).cast("long").alias("dup_count"),
        )
        .select(
            F.col("fp").alias("fingerprint"),
            F.col("__kmin.doc_id").cast("long").alias("keep_doc"),
            F.col("__kmin.chunk_idx").cast("long").alias("keep_idx"),
            "dup_count",
        )
    )


_ORACLE_PASSAGE = f"""
WITH w AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS ws FROM documents
), c AS (
  SELECT doc_id, ws,
         unnest(generate_series(
           0, (greatest(ceil(len(ws) / 32.0), 1)::INT - 1) * 32,
           32)) AS s
  FROM w
), ch AS (
  SELECT doc_id, s // 32 AS chunk_idx,
         array_to_string(ws[s + 1:s + 32], ' ') AS chunk
  FROM c
), keyed AS (
  SELECT ('0x' || substr(md5(chunk), 1, 15))::BIGINT AS fingerprint,
         doc_id, chunk_idx
  FROM ch
)
SELECT fingerprint,
       first(doc_id ORDER BY doc_id, chunk_idx)::BIGINT AS keep_doc,
       first(chunk_idx ORDER BY doc_id, chunk_idx)::BIGINT AS keep_idx,
       count(*) AS dup_count
FROM keyed GROUP BY fingerprint
"""


def q_quantize_embeddings(spark, sf_dir):
    """int8 scalar quantization of the embedding column (ANN-index
    storage prep): per-vector scale + quantized array checksum.  One
    codegen pass, no shuffle; double math on both engines."""
    from pincette_json_streams_spark.functions.similarity import (
        quantize_embeddings,
    )
    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round(F.col("q_scale"), 8).alias("scale"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
        ).alias("q_sum"),
        F.array_min("q").cast("long").alias("q_min"),
        F.array_max("q").cast("long").alias("q_max"),
    )


_ORACLE_QUANTIZE = """
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS amax
  FROM embeddings
), sc AS (
  SELECT vec_id, CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END AS sc
  FROM s
), q AS (
  SELECT e.vec_id, sc.sc,
         list_transform(e.embedding, x -> round(x::DOUBLE / sc.sc)::BIGINT)
           AS qv
  FROM embeddings e JOIN sc ON e.vec_id = sc.vec_id
)
SELECT vec_id, round(sc, 8) AS scale,
       list_sum(qv)::BIGINT AS q_sum,
       list_min(qv)::BIGINT AS q_min,
       list_max(qv)::BIGINT AS q_max
FROM q
"""


def q_quality_trim(spark, sf_dir):
    """Percentile-threshold corpus trimming: per-language p5/p95 length
    cutoffs computed in one hash agg, broadcast back onto the scan, docs
    outside the band dropped — the winsorize/trim pass of corpus
    curation.  Thresholds are tiny (one row per language), so the
    join-back never shuffles the corpus."""
    docs = _t(spark, sf_dir, "documents")
    th = docs.groupBy("lang").agg(
        F.percentile("n_chars", F.lit(0.05)).alias("lo"),
        F.percentile("n_chars", F.lit(0.95)).alias("hi"),
    )
    kept = docs.join(F.broadcast(th), "lang").filter(
        (F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


_ORACLE_QUALITY_TRIM = """
WITH th AS (
  SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY lang
)
SELECT d.lang, count(*) AS n_kept, round(avg(d.n_chars), 4) AS avg_chars
FROM documents d JOIN th ON d.lang = th.lang
WHERE d.n_chars >= th.lo AND d.n_chars <= th.hi
GROUP BY d.lang
"""


def q_chunk_docs(spark, sf_dir):
    """Context-window chunking (functions/text.py chunk_documents):
    32-word windows, 8-word overlap; per-chunk word count.  Native
    split/sequence/transform/posexplode — the explode is the only data
    growth, no shuffle at all."""
    from pincette_json_streams_spark.functions.text import chunk_documents
    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(
        docs.select("doc_id", "text", "lang"), size=32, overlap=8
    ).select("doc_id", "lang", "chunk_idx", "chunk", "n_tokens")


_ORACLE_CHUNK = f"""
WITH w AS (
  SELECT doc_id, lang, string_split({_sql_norm()}, ' ') AS ws
  FROM documents
), c AS (
  SELECT doc_id, lang, ws,
         unnest(generate_series(
           0,
           (greatest(ceil((len(ws) - 8) / 24.0), 1)::INT - 1) * 24,
           24)) AS s
  FROM w
)
SELECT doc_id, lang, (s // 24)::BIGINT AS chunk_idx,
       array_to_string(ws[s + 1:s + 32], ' ') AS chunk,
       least(len(ws) - s, 32)::BIGINT AS n_tokens
FROM c
"""


def q_asof_join(spark, sf_dir):
    """Backward as-of join (functions/timeseries.py): each event picks
    the user's latest order at-or-before the event time.  Union trick —
    one shuffle on the entity key, no per-row range scan; DuckDB's
    native ASOF JOIN is the oracle.  Right side pre-aggregated to one
    row per (key, instant) so the match is fully deterministic."""
    from pincette_json_streams_spark.functions.timeseries import asof_join
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    right = (
        orders.withColumn(
            "ots",
            F.expr(
                "timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', "
                "cast(o_orderdate as timestamp_ntz))"
            ) * F.lit(1000),
        )
        .groupBy("o_custkey", "ots")
        .agg(
            F.max("o_orderkey").alias("okey"),
            F.max_by("o_totalprice", "o_orderkey").alias("price"),
        )
    )
    out = asof_join(
        events.select("event_id", "user_id", "ts_nanos"),
        right, on="ts_nanos", by="user_id",
        right_on="ots", right_by="o_custkey", as_field="m",
    )
    return out.select(
        "event_id", "user_id",
        F.col("m")["okey"].alias("okey"),
        F.col("m")["price"].alias("price"),
    )


_ORACLE_ASOF = """
WITH r AS (
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS okey,
         arg_max(o_totalprice, o_orderkey) AS price
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, r.okey, r.price
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (functions/timeseries.py): 8-hour
    inactivity gap per user, then per-session rollup.  One keyed
    window shuffle; the session aggregation reuses the partitioning."""
    from pincette_json_streams_spark.functions.timeseries import sessionize
    events = _t(spark, sf_dir, "events")
    gap_ns = 8 * 3600 * 1_000_000_000
    sess = sessionize(
        events, by="user_id", ts="ts_nanos", gap=gap_ns,
        tiebreak=["event_id"],
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        ((F.max("ts_nanos") - F.min("ts_nanos")) / F.lit(1_000_000_000))
        .cast("long").alias("span_s"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


_ORACLE_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, value, epoch_ns(ts) AS tns,
         CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL
                   OR epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
                      > 28800::BIGINT * 1000000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, value, tns,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tns, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, session_id::BIGINT AS session_id,
       count(*) AS n_events,
       ((max(tns) - min(tns)) // 1000000000)::BIGINT AS span_s,
       round(sum(value), 4) AS total_value
FROM s GROUP BY user_id, session_id
"""


def q_dedup_exact(spark, sf_dir):
    from pincette_json_streams_spark.functions.dedup import exact_dedup
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs).select(
        "fingerprint", "doc_id", F.col("dup_count").cast("long")
        .alias("dup_count")
    )


_ORACLE_DEDUP_EXACT = f"""
SELECT ('0x' || substr(md5({_sql_norm()}), 1, 15))::BIGINT AS fingerprint,
       min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY 1
"""


def _oracle_minhash(num_hashes=32, bands=8, k=9, threshold=0.5):
    from pincette_json_streams_spark.functions.dedup import _P, _coeffs
    rows = num_hashes // bands
    coeffs = _coeffs(num_hashes)
    sig_exprs = ", ".join(
        f"list_min(list_transform(h, v -> ({a} * v + {b}) % {_P}))"
        for a, b in coeffs
    )
    return f"""
WITH norm AS (
  SELECT doc_id AS id, {_sql_norm()} AS n FROM documents
), sh AS (
  SELECT id, list_distinct(
    [substr(n, i, {k}) for i in range(1, greatest(len(n) - {k - 1}, 1) + 1)]
  ) AS s FROM norm
), hashed AS (
  SELECT id, list_transform(
    s, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % {_P}) AS h
  FROM sh
), sig AS (
  SELECT id, list_distinct(h) AS s, [{sig_exprs}] AS sg FROM hashed
), banded AS (
  SELECT id, s, band,
         md5(array_to_string(sg[band * {rows} + 1 : band * {rows} + {rows}],
                             ',')) AS bandkey
  FROM sig, range({bands}) t(band)
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.s AS sa, r.s AS sb
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bandkey = r.bandkey AND l.id < r.id
)
SELECT id_a, id_b,
       round(len(list_intersect(sa, sb))::DOUBLE /
             (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
         AS jaccard
FROM cand
WHERE round(len(list_intersect(sa, sb))::DOUBLE /
            (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
      >= {threshold}
"""


def q_dedup_minhash(spark, sf_dir):
    from pincette_json_streams_spark.functions.dedup import minhash_lsh_pairs
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.5)


def q_dedup_incremental(spark, sf_dir):
    """Incremental (CDC) dedup — the corpus-growth path: the day's
    batch (doc_id % 5 != 0) joins against the persisted signature index
    of the existing corpus (doc_id % 5 == 0) and against its own
    earlier ids; never re-pairs the whole corpus.  A batch doc is dup
    iff a banded-LSH candidate verifies at Jaccard >= 0.5; dup_of =
    smallest colliding id (functions/dedup.py incremental_dedup)."""
    from pincette_json_streams_spark.functions.dedup import (
        incremental_dedup, minhash_index,
    )
    docs = _t(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 5 == 0)
    batch = docs.filter(F.col("doc_id") % 5 != 0)
    index = minhash_index(existing)
    return incremental_dedup(batch, index, threshold=0.5)


def _oracle_dedup_incremental(num_hashes=32, bands=8, k=9, threshold=0.5):
    from pincette_json_streams_spark.functions.dedup import _P, _coeffs
    rows = num_hashes // bands
    coeffs = _coeffs(num_hashes)
    sig_exprs = ", ".join(
        f"list_min(list_transform(h, v -> ({a} * v + {b}) % {_P}))"
        for a, b in coeffs
    )
    return f"""
WITH norm AS (
  SELECT doc_id AS id, {_sql_norm()} AS n FROM documents
), sh AS (
  SELECT id, list_distinct(
    [substr(n, i, {k}) for i in range(1, greatest(len(n) - {k - 1}, 1) + 1)]
  ) AS s FROM norm
), hashed AS (
  SELECT id, list_transform(
    s, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % {_P}) AS h
  FROM sh
), sig AS (
  SELECT id, list_distinct(h) AS s, [{sig_exprs}] AS sg FROM hashed
), banded AS (
  SELECT id, s, band,
         md5(array_to_string(sg[band * {rows} + 1 : band * {rows} + {rows}],
                             ',')) AS bandkey
  FROM sig, range({bands}) t(band)
), cand AS (
  SELECT DISTINCT b.id AS id, r.id AS rid, b.s AS sa, r.s AS sb
  FROM banded b JOIN banded r
    ON b.band = r.band AND b.bandkey = r.bandkey
   AND b.id % 5 != 0
   AND (r.id % 5 = 0 OR r.id < b.id)
), verified AS (
  SELECT id, rid,
         round(len(list_intersect(sa, sb))::DOUBLE /
               (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6)
           AS j
  FROM cand
), best AS (
  SELECT id, min(rid) AS dup_of, arg_min(j, rid) AS jaccard
  FROM verified WHERE j >= {threshold} GROUP BY id
)
SELECT d.doc_id, b.dup_of IS NOT NULL AS is_dup, b.dup_of, b.jaccard
FROM documents d LEFT JOIN best b ON d.doc_id = b.id
WHERE d.doc_id % 5 != 0
"""


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution (functions/dedup.py:
    connected_components): MinHash-LSH star edges (edges="star" — a
    spanning set with identical components, O(n) per exact-dup group
    instead of the quadratic pair explosion) -> min-label-propagation
    connected components -> one deterministic canonical doc per cluster
    (keep = doc_id == cluster_id) + cluster size.  This is the step a
    100 TB dedup pipeline runs after candidate pairing."""
    from pincette_json_streams_spark.functions.dedup import (
        connected_components, minhash_lsh_pairs,
    )
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5, edges="star")
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("id").alias("doc_id"), "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


def _oracle_dedup_clusters():
    return f"""
WITH RECURSIVE pairs AS ({_oracle_minhash()}),
nodes AS (SELECT doc_id AS id FROM documents),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(id, reach) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS keep
FROM comp
"""


def q_dedup_canonical(spark, sf_dir):
    """End-to-end dedup DECISION (the production composition): MinHash-
    LSH candidate star edges -> connected components -> per-cluster
    representative by the keep-longest heuristic (n_chars desc, doc_id
    asc tie-break) -> every doc labeled with its cluster, the chosen
    canonical doc, and the keep verdict.  One WindowGroupLimit over the
    cluster key on top of the component labels — the exact shape a
    100 TB pipeline runs to decide which near-duplicates survive."""
    from pincette_json_streams_spark.functions.dedup import (
        connected_components, minhash_lsh_pairs,
    )
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5, edges="star")
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    labeled = comp.select(F.col("id").alias("doc_id"), "cluster_id") \
        .join(docs.select("doc_id", "n_chars"), "doc_id")
    # r12: the representative is the TOP row of the same cluster_id
    # window the old rank-then-self-join derived it from — first()
    # over the ordered full-frame window computes it in the SAME
    # exchange+sort as the rank did, deleting the rep branch (which
    # re-ran the comp-join-docs lineage) and the join back (plan:
    # 2 Window + Join + 2 Exchange -> 2 Window over one Exchange).
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    return labeled.select(
        "doc_id", "cluster_id",
        F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
         .cast("long").alias("cluster_size"),
        F.first("doc_id").over(w).alias("rep_id"),
    ).withColumn("keep", F.col("doc_id") == F.col("rep_id"))


def _oracle_dedup_canonical():
    return f"""
WITH RECURSIVE pairs AS ({_oracle_minhash()}),
nodes AS (SELECT doc_id AS id FROM documents),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(id, reach) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id
),
labeled AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
),
rep AS (
  SELECT cluster_id, doc_id AS rep_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM labeled) WHERE rk = 1
)
SELECT l.doc_id, l.cluster_id,
       count(*) OVER (PARTITION BY l.cluster_id)::BIGINT
         AS cluster_size,
       r.rep_id, l.doc_id = r.rep_id AS keep
FROM labeled l JOIN rep r ON r.cluster_id = l.cluster_id
"""


def q_split_leakfree(spark, sf_dir):
    """Leakage-free train/test split (the eval-contamination guard a
    training pipeline needs): split membership hashes the near-dup
    CLUSTER id, not the document id, so no near-duplicate pair can
    straddle train and test (functions/sampling.py train_test_split
    with key_col=cluster_id over the connected components).  Membership
    depends only on the cluster key — growing the corpus never moves an
    existing cluster across the boundary."""
    from pincette_json_streams_spark.functions.dedup import (
        connected_components, minhash_lsh_pairs,
    )
    from pincette_json_streams_spark.functions.sampling import (
        train_test_split,
    )
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5, edges="star")
    comp = connected_components(pairs, nodes=docs.select("doc_id"))
    labeled = comp.select(F.col("id").alias("doc_id"), "cluster_id")
    return train_test_split(
        labeled, test_fraction=0.2, key_col="cluster_id",
    ).select("doc_id", "cluster_id", "split")


def _oracle_split_leakfree():
    return f"""
WITH RECURSIVE pairs AS ({_oracle_minhash()}),
nodes AS (SELECT doc_id AS id FROM documents),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(id, reach) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id
)
SELECT doc_id, cluster_id,
       CASE WHEN ('0x' || substr(md5('split' || cluster_id::VARCHAR),
                                 1, 8))::BIGINT / 4294967296.0 < 0.2
            THEN 'test' ELSE 'train' END AS split
FROM comp
"""


def q_dedup_clusters_star(spark, sf_dir):
    """Same clusters via the O(log n) large-star/small-star alternation
    (functions/dedup.py:connected_components_star) — identical output
    contract (cluster_id = component min), so it shares the recursive-
    CTE oracle with `dedup_clusters`."""
    from pincette_json_streams_spark.functions.dedup import (
        connected_components_star, minhash_lsh_pairs,
    )
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5, edges="star")
    comp = connected_components_star(pairs, nodes=docs.select("doc_id"))
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("id").alias("doc_id"), "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


def q_dedup_ngram(spark, sf_dir):
    from pincette_json_streams_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.4)


def q_dedup_ngram_capped(spark, sf_dir):
    """The round-10 df-cap path of ngram_jaccard_pairs (the 100 TB
    skew guard): grams in more than df_cap=5 distinct n-gram sets are
    corpus stopwords; candidate generation is the bounded in-array
    posting expansion (NO posting self-join — pair output <= cap^2
    per gram by construction), and the value is the exact Jaccard
    over the capped gram universe.  The cap is deliberately
    aggressive so the dropped-gram, capped-size, and verbatim-dup
    (1.0 regardless of cap) paths are all exercised and
    oracle-replayed."""
    from pincette_json_streams_spark.functions.dedup import (
        ngram_jaccard_pairs,
    )
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=3, threshold=0.2, df_cap=5)


def q_dup_containment_capped(spark, sf_dir):
    """df-capped containment join: same capped gram universe as
    dedup_ngram_capped, containment = inter*1e6 div min(capped sz);
    verbatim duplicates report their CAPPED sizes with cont_e6=1e6
    (including size 0 when every gram of the doc is boilerplate)."""
    from pincette_json_streams_spark.functions.dedup import (
        containment_pairs,
    )
    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, n=3, threshold_pct=50, df_cap=5)


def _oracle_ngram_capped_cte(cap=5):
    """Shared CTE prefix replaying the df-capped gram universe: df
    counts DISTINCT n-gram SETS (the sorted-set digest d mirrors the
    cluster compression — verified: at both SFs identical sets only
    arise from identical normalized text, so Spark's order-sensitive
    set digest and this sorted one partition identically)."""
    return f"""
WITH norm AS (
  SELECT doc_id AS id, string_split({_sql_norm()}, ' ') AS w FROM documents
), ng AS (
  SELECT id, list_distinct(
    [array_to_string(w[i : i + 2], ' ')
     for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS g
  FROM norm
), dg AS (
  SELECT id, g, md5(array_to_string(list_sort(g), chr(31))) AS d FROM ng
), posting AS (
  SELECT id, d, unnest(g) AS gram FROM dg
), gdf AS (
  SELECT gram, count(DISTINCT d) AS c FROM posting GROUP BY 1
), kept AS (
  SELECT p.id, p.d, p.gram FROM posting p JOIN gdf USING (gram)
  WHERE gdf.c <= {cap}
), ksz AS (
  SELECT id, count(*) AS sz FROM kept GROUP BY 1
), shared AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS inter
  FROM kept l JOIN kept r ON l.gram = r.gram AND l.id < r.id
   AND l.d <> r.d
  GROUP BY 1, 2
)"""


_ORACLE_NGRAM_CAPPED = _oracle_ngram_capped_cte() + """,
 ident AS (
  SELECT a.id AS id_a, b.id AS id_b, 1.0::DOUBLE AS jaccard
  FROM dg a JOIN dg b ON a.d = b.d AND a.id < b.id
), crossj AS (
  SELECT id_a, id_b,
         round(inter::DOUBLE / (a.sz + b.sz - inter), 6) AS jaccard
  FROM shared JOIN ksz a ON a.id = id_a JOIN ksz b ON b.id = id_b
  WHERE round(inter::DOUBLE / (a.sz + b.sz - inter), 6) >= 0.2
)
SELECT * FROM ident UNION ALL SELECT * FROM crossj
"""


_ORACLE_CONTAINMENT_CAPPED = _oracle_ngram_capped_cte() + """,
 ident AS (
  SELECT a.id AS id_a, b.id AS id_b,
         coalesce(ka.sz, 0)::BIGINT AS sz_a,
         coalesce(kb.sz, 0)::BIGINT AS sz_b,
         1000000::BIGINT AS cont_e6
  FROM dg a JOIN dg b ON a.d = b.d AND a.id < b.id
  LEFT JOIN ksz ka ON ka.id = a.id LEFT JOIN ksz kb ON kb.id = b.id
), crossj AS (
  SELECT id_a, id_b, a.sz::BIGINT AS sz_a, b.sz::BIGINT AS sz_b,
         ((inter * 1000000) // least(a.sz, b.sz))::BIGINT AS cont_e6
  FROM shared JOIN ksz a ON a.id = id_a JOIN ksz b ON b.id = id_b
  WHERE (inter * 1000000) // least(a.sz, b.sz) >= 500000
)
SELECT * FROM ident UNION ALL SELECT * FROM crossj
"""


def q_audio_fingerprint(spark, sf_dir):
    """REAL WAV round-trip + integer perceptual fingerprint
    (functions/multimodal.py audio_fingerprint): per doc_id a PCM16
    mono WAV is synthesized from the replayable sample formula
    s[i] = ((doc_id*1000003 + i*7919) % 65536) - 32768 (i < 1024),
    packed into a real RIFF container, decoded by the stdlib wave
    decoder, and fingerprinted with the Haitsma-Kalker bit rule over
    integer dyadic-lag band energies.  The oracle replays the EXACT
    integer math straight from the formula — so a container-parse,
    width-normalization or fingerprint-arithmetic bug all surface as
    a value mismatch.  The resulting int64 lane feeds hamming_near_
    pairs/$hammingPairs unchanged (composition locked in pytest) —
    audio joins text/embeddings/images on ONE near-dup index."""
    from pyspark.sql.functions import pandas_udf

    from pincette_json_streams_spark.functions.multimodal import (
        audio_fingerprint,
    )

    @pandas_udf("binary")
    def synth(ids):
        import io
        import wave

        import numpy as np
        import pandas as pd

        out = []
        i = np.arange(1024, dtype=np.int64)
        for did in ids:
            s = ((int(did) * 1000003 + i * 7919) % 65536
                 - 32768).astype("<i2")
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes(s.tobytes())
            out.append(buf.getvalue())
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    wav = docs.withColumn("media", synth(F.col("doc_id")))
    return audio_fingerprint(wav).select("doc_id", "afp")


# replay of multimodal._audio_fp_int: lags (1,2,4,8,16), frames
# n = i // 64, E(n,m) = sum of squared lag-diffs (diffs below the lag
# are 0), D_m = E_m - E_{m+1}, bit(n,m) = D(n,m) > D(n-1,m) with
# D(-1,*) = 0, fingerprint = two's-complement int64 of bits at
# k = n*4+m.  Window-function lags instead of self-joins: 45 s -> 1.8 s
# at sf0.01 for identical values.
_ORACLE_AUDIO_FP = """
WITH docs AS (SELECT doc_id FROM documents),
samp AS (
  SELECT doc_id, i::BIGINT AS i,
         ((doc_id * 1000003 + i * 7919) % 65536) - 32768 AS s
  FROM docs CROSS JOIN range(1024) t(i)
),
d AS (
  SELECT doc_id, i // 64 AS n,
         coalesce(s - lag(s, 1)  OVER win, 0) AS d0,
         coalesce(s - lag(s, 2)  OVER win, 0) AS d1,
         coalesce(s - lag(s, 4)  OVER win, 0) AS d2,
         coalesce(s - lag(s, 8)  OVER win, 0) AS d3,
         coalesce(s - lag(s, 16) OVER win, 0) AS d4
  FROM samp WINDOW win AS (PARTITION BY doc_id ORDER BY i)
),
e AS (
  SELECT doc_id, n,
         sum(d0*d0) AS e0, sum(d1*d1) AS e1, sum(d2*d2) AS e2,
         sum(d3*d3) AS e3, sum(d4*d4) AS e4
  FROM d GROUP BY 1, 2
),
dv AS (
  SELECT doc_id, n, e0 - e1 AS v0, e1 - e2 AS v1, e2 - e3 AS v2,
         e3 - e4 AS v3
  FROM e
),
b AS (
  SELECT doc_id, n,
         CASE WHEN v0 > coalesce(lag(v0) OVER win, 0)
              THEN 1 ELSE 0 END AS b0,
         CASE WHEN v1 > coalesce(lag(v1) OVER win, 0)
              THEN 1 ELSE 0 END AS b1,
         CASE WHEN v2 > coalesce(lag(v2) OVER win, 0)
              THEN 1 ELSE 0 END AS b2,
         CASE WHEN v3 > coalesce(lag(v3) OVER win, 0)
              THEN 1 ELSE 0 END AS b3
  FROM dv WINDOW win AS (PARTITION BY doc_id ORDER BY n)
)
SELECT doc_id,
       (sum((b0::BIGINT << (n*4)) + (b1::BIGINT << (n*4+1))
            + (b2::BIGINT << (n*4+2))
            + CASE WHEN n < 15 THEN b3::BIGINT << (n*4+3)
                   ELSE 0 END)
        + CASE WHEN max(CASE WHEN n = 15 THEN b3 ELSE 0 END) = 1
               THEN (-9223372036854775807 - 1) ELSE 0 END)::BIGINT
       AS afp
FROM b GROUP BY doc_id
"""


def q_audio_windows(spark, sf_dir):
    """Per-WINDOW audio fingerprints (functions/multimodal.py
    audio_fingerprint_windows): per doc_id a 1536-sample PCM16 WAV is
    synthesized from a replayable two-round multiply-xorshift mix
    of x0 = g*1000003 + (i+shift)*7919 (a plain linear congruence —
    or even one multiplicative round — leaves lag-diff lattice
    structure that near-collides fingerprints ACROSS groups; two
    avalanche rounds measure 0 cross-group pairs at radius 7) with
    content group g = doc_id//4 and shift = (doc_id%2)*512, so
    consecutive doc_ids share content at a whole-hop time shift.  Each clip yields its two FULL
    1024-sample windows at hop 512 (no zero-padded tail windows —
    mostly-pad windows would near-collide across unrelated clips),
    each fingerprinted by the exact whole-clip HK math; the oracle
    replays every window bit-for-bit from the formula.  The window lanes feed
    audio_near_pairs — shift-robust audio near-dup, which the single
    whole-clip lane provably cannot do."""
    from pincette_json_streams_spark.functions.multimodal import (
        audio_fingerprint_windows,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    wav = docs.withColumn("media", _synth_shifted_wav(F.col("doc_id")))
    return audio_fingerprint_windows(wav, id_col="doc_id").select(
        "doc_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        "afp")


def q_audio_near_pairs(spark, sf_dir):
    """Shift-robust audio near-dup (functions/multimodal.py
    audio_near_pairs): per-window HK lanes -> banded Hamming index
    pairs -> per-clip rollup.  Same synthetic corpus as
    q_audio_windows: doc_ids in one content group of four share
    content, half of them shifted by exactly one hop, so unshifted
    twins pair on both full windows at distance 0 and shifted pairs
    on the realigned window.  max_hamming=7 = n_bands-1 (8
    byte-bands on one 64-bit lane), so the banded output EQUALS the
    oracle's brute force by the pigeonhole contract."""
    from pincette_json_streams_spark.functions.multimodal import (
        audio_near_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    wav = docs.withColumn("media", _synth_shifted_wav(F.col("doc_id")))
    return audio_near_pairs(wav, id_col="doc_id").select(
        "id_a", "id_b", "matching_windows", "min_hamming")


def _synth_shifted_wav(col):
    """pandas UDF: doc_id -> 1536-sample PCM16 mono RIFF/WAV from the
    replayable formula (group/shift derived from doc_id; see
    q_audio_windows)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def synth(ids):
        import struct

        import numpy as np
        import pandas as pd

        # canonical 44-byte PCM16-mono-8kHz RIFF header — byte-equal
        # to what wave.open(...).writeframes produced (asserted in the
        # r12 rewrite); the mix is vectorized across rows in chunks
        # (row-at-a-time paid ~70 us of numpy dispatch per clip;
        # whole-batch temporaries measured pathologically unstable on
        # this host class, cf. multimodal._AFP_CHUNK)
        hdr = (b"RIFF" + struct.pack("<I", 36 + 3072) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                       16000, 2, 16)
               + b"data" + struct.pack("<I", 3072))
        i = np.arange(1536, dtype=np.int64)
        out = []
        arr = ids.to_numpy(dtype=np.int64)
        for k0 in range(0, len(arr), 256):
            sub = arr[k0:k0 + 256].reshape(-1, 1)
            g = sub // 4
            sh = (sub % 2) * 512
            x0 = g * 1000003 + (i[None, :] + sh) * 7919
            x1 = (x0 % (1 << 20)) * 2654435761 % (1 << 32)
            x2 = x1 ^ (x1 >> 16)
            x3 = (x2 % (1 << 30)) * 2246822519 % (1 << 32)
            x4 = x3 ^ (x3 >> 13)
            s = (x4 % 65536 - 32768).astype("<i2")
            out.extend(hdr + row.tobytes() for row in s)
        return pd.Series(out)

    return synth(col)


def q_audio_clusters(spark, sf_dir):
    """Audio dedup DECISION: the per-window near-pair edges
    (q_audio_near_pairs) resolve into clusters via the same
    min-label-propagation connected components the text pipeline uses
    — shifted and unshifted copies of one recording land in ONE
    cluster with a deterministic canonical clip (keep = doc_id ==
    cluster_id).  Composition of two independently-benched pieces
    (audio_near_pairs + connected_components), closing the
    candidate-pairs -> cluster -> survivor arc for the audio
    modality exactly as dedup_clusters does for text."""
    from pincette_json_streams_spark.functions.dedup import (
        connected_components,
    )
    from pincette_json_streams_spark.functions.multimodal import (
        audio_near_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    wav = docs.withColumn("media", _synth_shifted_wav(F.col("doc_id")))
    pairs = audio_near_pairs(wav, id_col="doc_id")
    comp = connected_components(pairs, nodes=docs)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("id").alias("doc_id"), "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


def q_video_frames(spark, sf_dir):
    """REAL video decode + per-frame dHash, oracle-checked — until
    round 11 the video family was pytest-only ("self"): JPEG/GIF
    entropy coding cannot be replayed in SQL.  The Y4M codec seam
    (functions/codecs.py, registered through the public
    register_codec API exactly as a crawl-video user would) makes the
    decode lossless: per doc_id a 4-frame uncompressed YUV4MPEG2 clip
    is synthesized whose 9x8 luma planes come from the replayable
    two-round avalanche formula, each frame demuxes to a 24-bit
    grayscale BMP, and the 9x8 geometry makes the dHash's
    (width+1) x height box-average grid the IDENTITY — so DuckDB
    replays every dHash bit-for-bit from the pixel formula.  Frames
    are shared across doc_ids like the audio corpus: content group
    g = doc_id//4, frame offset (doc_id%2)*2, so consecutive docs
    overlap on two of four frames."""
    from pincette_json_streams_spark.functions.codecs import (
        y4m_frames, y4m_probe,
    )
    from pincette_json_streams_spark.functions.multimodal import (
        register_codec, video_fingerprint,
    )

    register_codec("y4m", y4m_probe, y4m_frames)
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    vid = docs.withColumn("media", _synth_shifted_y4m(F.col("doc_id")))
    return video_fingerprint(vid, id_col="doc_id", n_frames=4).select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "dhash")


def q_video_near_dups(spark, sf_dir):
    """Video near-dup pairs, oracle-checked end-to-end through the
    REAL decode path (see q_video_frames): banded per-frame dHash
    matches roll up to clip pairs; max_hamming=7 = n_bands-1 so the
    banded output EQUALS the oracle's brute force by the pigeonhole
    contract.  Frame-offset twins (2 shared frames) and identical
    twins (4 shared frames) both pair at distance 0."""
    from pincette_json_streams_spark.functions.codecs import (
        y4m_frames, y4m_probe,
    )
    from pincette_json_streams_spark.functions.multimodal import (
        register_codec, video_near_pairs,
    )

    register_codec("y4m", y4m_probe, y4m_frames)
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    vid = docs.withColumn("media", _synth_shifted_y4m(F.col("doc_id")))
    return video_near_pairs(vid, id_col="doc_id", n_frames=4).select(
        "vid_a", "vid_b", "matching_frames", "min_hamming")


def q_video_clusters(spark, sf_dir):
    """Video dedup DECISION, symmetric with q_audio_clusters: banded
    frame near-pair edges (q_video_near_dups) resolve into clusters
    via min-label-propagation connected components — frame-offset and
    identical copies of one clip land in ONE cluster with a
    deterministic canonical video.  Candidate pairs -> cluster ->
    survivor, now for every modality on the shared index."""
    from pincette_json_streams_spark.functions.codecs import (
        y4m_frames, y4m_probe,
    )
    from pincette_json_streams_spark.functions.dedup import (
        connected_components,
    )
    from pincette_json_streams_spark.functions.multimodal import (
        register_codec, video_near_pairs,
    )

    register_codec("y4m", y4m_probe, y4m_frames)
    docs = _t(spark, sf_dir, "documents").select("doc_id") \
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    vid = docs.withColumn("media", _synth_shifted_y4m(F.col("doc_id")))
    pairs = video_near_pairs(vid, id_col="doc_id", n_frames=4) \
        .select(F.col("vid_a").alias("id_a"),
                F.col("vid_b").alias("id_b"))
    comp = connected_components(pairs, nodes=docs)
    w = Window.partitionBy("cluster_id")
    return comp.select(
        F.col("id").alias("doc_id"), "cluster_id",
        F.count(F.lit(1)).over(w).cast("long").alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )


def _oracle_video_clusters():
    return f"""
WITH RECURSIVE pairs AS ({_ORACLE_VIDEO_NEAR_DUPS}),
nodes AS (SELECT doc_id AS id FROM documents),
edges AS (SELECT vid_a AS a, vid_b AS b FROM pairs
          UNION SELECT vid_b, vid_a FROM pairs),
walk(id, reach) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS keep
FROM comp
"""


def _synth_shifted_y4m(col):
    """pandas UDF: doc_id -> a 4-frame 9x8 uncompressed Y4M clip.
    Luma pixel p (row-major, 0..71) of GLOBAL frame fg is the
    two-round avalanche mix of x0 = g*1000003 + fg*7919 + p*97 with
    g = doc_id//4; the clip's frames are fg = off..off+3 with
    off = (doc_id%2)*2 — so parity twins overlap on two frames and
    same-parity twins are identical, mirroring the audio corpus."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def synth(ids):
        import numpy as np
        import pandas as pd

        p = np.arange(72, dtype=np.int64)
        out = []
        for did in ids:
            g = int(did) // 4
            off = (int(did) % 2) * 2
            frames = []
            for fg in range(off, off + 4):
                x0 = g * 1000003 + fg * 7919 + p * 97
                x1 = (x0 % (1 << 20)) * 2654435761 % (1 << 32)
                x2 = x1 ^ (x1 >> 16)
                x3 = (x2 % (1 << 30)) * 2246822519 % (1 << 32)
                x4 = x3 ^ (x3 >> 13)
                frames.append((x4 % 256).astype(np.uint8).tobytes())
            head = b"YUV4MPEG2 W9 H8 F25:1 Ip A1:1 C420jpeg\n"
            # spec chroma sizing for odd width: ceil(9/2)*ceil(8/2)
            # = 20 bytes/plane (round 12 — the floor-sized 18-byte
            # padding only demuxed because the codec made the same
            # floor error, fixed together per the round-11 advice)
            body = b"".join(
                b"FRAME\n" + y + b"\x80" * (2 * 20)
                for y in frames)
            out.append(head + body)
        return pd.Series(out)

    return synth(col)


# replay of the video dHash on the 9x8 synthetic frames: luma of a
# gray BMP is the pixel value (BT.709 integer weights sum to 10000),
# and the 9x8 -> (8+1)x8 box-average grid is the identity, so
# bit(r, c) = y(p=r*9+c) < y(p=r*9+c+1), packed row-major MSB-first
# (bit position 63 - (r*8 + c)); two's-complement wrap on bit 63.
_SQL_VIDEO_FRAME_FP = """
WITH docs AS (
  SELECT doc_id, doc_id // 4 AS g, (doc_id % 2) * 2 AS off
  FROM documents
),
px AS (
  SELECT doc_id, f::BIGINT AS f, p::BIGINT AS p,
         xor(x3, x3 >> 13) % 256 AS y
  FROM (
    SELECT doc_id, f, p,
           (xor(x1, x1 >> 16) % 1073741824) * 2246822519
             % 4294967296 AS x3
    FROM (
      SELECT doc_id, f, p,
             ((g * 1000003 + (off + f) * 7919 + p * 97) % 1048576)
               * 2654435761 % 4294967296 AS x1
      FROM docs CROSS JOIN range(4) fr(f) CROSS JOIN range(72) t(p)
    )
  )
),
bits AS (
  SELECT a.doc_id, a.f, a.p // 9 AS r, a.p % 9 AS c,
         CASE WHEN a.y < b.y THEN 1 ELSE 0 END AS bit
  FROM px a JOIN px b
    ON b.doc_id = a.doc_id AND b.f = a.f AND b.p = a.p + 1
  WHERE a.p % 9 < 8
),
vfp AS (
  SELECT doc_id, f AS frame_idx,
         (sum(CASE WHEN r = 0 AND c = 0 THEN 0
                   ELSE bit::BIGINT << (63 - (r*8 + c)) END)
          + CASE WHEN max(CASE WHEN r = 0 AND c = 0 THEN bit
                          ELSE 0 END) = 1
                 THEN (-9223372036854775807 - 1) ELSE 0 END)::BIGINT
         AS dhash
  FROM bits GROUP BY doc_id, f
)
"""

_ORACLE_VIDEO_FRAMES = _SQL_VIDEO_FRAME_FP + """
SELECT doc_id, frame_idx, dhash FROM vfp
"""

_ORACLE_VIDEO_NEAR_DUPS = _SQL_VIDEO_FRAME_FP + """
SELECT a.doc_id AS vid_a, b.doc_id AS vid_b,
       count(*)::BIGINT AS matching_frames,
       min(bit_count(xor(a.dhash, b.dhash)))::BIGINT AS min_hamming
FROM vfp a JOIN vfp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.dhash, b.dhash)) <= 7
GROUP BY 1, 2
"""


def _oracle_audio_clusters():
    return f"""
WITH RECURSIVE pairs AS ({_ORACLE_AUDIO_NEAR_PAIRS}),
nodes AS (SELECT doc_id AS id FROM documents),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
walk(id, reach) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.reach
),
comp AS (
  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id
)
SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS keep
FROM comp
"""


# replay of audio_fingerprint_windows on the shifted-corpus formula:
# a 1536-sample clip has two FULL 1024-sample windows at hop 512
# (j in 0..1; local sample li maps to global j*512 + li, always
# inside the clip, so no padding branch); the per-window fingerprint
# is the exact _ORACLE_AUDIO_FP machine with PARTITION BY (doc_id, j)
# and frame n = li // 64.
_SQL_AUDIO_WINDOW_FP = """
WITH docs AS (
  SELECT doc_id, doc_id // 4 AS g, (doc_id % 2) * 512 AS sh
  FROM documents
),
mix1 AS (
  SELECT doc_id, j::BIGINT AS j, li::BIGINT AS li,
         ((g * 1000003 + (j*512 + li + sh) * 7919) % 1048576)
           * 2654435761 % 4294967296 AS x1
  FROM docs CROSS JOIN range(2) w(j) CROSS JOIN range(1024) t(li)
),
samp AS (
  SELECT doc_id, j, li,
         xor(x3, x3 >> 13) % 65536 - 32768 AS s
  FROM (SELECT doc_id, j, li,
               (xor(x1, x1 >> 16) % 1073741824) * 2246822519
                 % 4294967296 AS x3
        FROM mix1)
),
d AS (
  SELECT doc_id, j, li // 64 AS n,
         coalesce(s - lag(s, 1)  OVER win, 0) AS d0,
         coalesce(s - lag(s, 2)  OVER win, 0) AS d1,
         coalesce(s - lag(s, 4)  OVER win, 0) AS d2,
         coalesce(s - lag(s, 8)  OVER win, 0) AS d3,
         coalesce(s - lag(s, 16) OVER win, 0) AS d4
  FROM samp WINDOW win AS (PARTITION BY doc_id, j ORDER BY li)
),
e AS (
  SELECT doc_id, j, n,
         sum(d0*d0) AS e0, sum(d1*d1) AS e1, sum(d2*d2) AS e2,
         sum(d3*d3) AS e3, sum(d4*d4) AS e4
  FROM d GROUP BY 1, 2, 3
),
dv AS (
  SELECT doc_id, j, n, e0 - e1 AS v0, e1 - e2 AS v1, e2 - e3 AS v2,
         e3 - e4 AS v3
  FROM e
),
b AS (
  SELECT doc_id, j, n,
         CASE WHEN v0 > coalesce(lag(v0) OVER win, 0)
              THEN 1 ELSE 0 END AS b0,
         CASE WHEN v1 > coalesce(lag(v1) OVER win, 0)
              THEN 1 ELSE 0 END AS b1,
         CASE WHEN v2 > coalesce(lag(v2) OVER win, 0)
              THEN 1 ELSE 0 END AS b2,
         CASE WHEN v3 > coalesce(lag(v3) OVER win, 0)
              THEN 1 ELSE 0 END AS b3
  FROM dv WINDOW win AS (PARTITION BY doc_id, j ORDER BY n)
),
wfp AS (
  SELECT doc_id, j AS window_idx,
         (sum((b0::BIGINT << (n*4)) + (b1::BIGINT << (n*4+1))
              + (b2::BIGINT << (n*4+2))
              + CASE WHEN n < 15 THEN b3::BIGINT << (n*4+3)
                     ELSE 0 END)
          + CASE WHEN max(CASE WHEN n = 15 THEN b3 ELSE 0 END) = 1
                 THEN (-9223372036854775807 - 1) ELSE 0 END)::BIGINT
         AS afp
  FROM b GROUP BY doc_id, j
)
"""

_ORACLE_AUDIO_WINDOWS = _SQL_AUDIO_WINDOW_FP + """
SELECT doc_id, window_idx, afp FROM wfp
"""

_ORACLE_AUDIO_NEAR_PAIRS = _SQL_AUDIO_WINDOW_FP + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(*)::BIGINT AS matching_windows,
       min(bit_count(xor(a.afp, b.afp)))::BIGINT AS min_hamming
FROM wfp a JOIN wfp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.afp, b.afp)) <= 7
GROUP BY 1, 2
"""


_ORACLE_NGRAM = f"""
WITH norm AS (
  SELECT doc_id AS id, string_split({_sql_norm()}, ' ') AS w FROM documents
), ng AS (
  SELECT id, list_distinct(
    [array_to_string(w[i : i + 2], ' ')
     for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS g
  FROM norm
), posting AS (
  SELECT id, unnest(g) AS gram FROM ng
), shared AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS inter
  FROM posting l JOIN posting r ON l.gram = r.gram AND l.id < r.id
  GROUP BY 1, 2
), sizes AS (SELECT id, len(g) AS sz FROM ng)
SELECT id_a, id_b,
       round(inter::DOUBLE / (a.sz + b.sz - inter), 6) AS jaccard
FROM shared JOIN sizes a ON a.id = id_a JOIN sizes b ON b.id = id_b
WHERE round(inter::DOUBLE / (a.sz + b.sz - inter), 6) >= 0.4
"""


def q_dedup_simhash(spark, sf_dir):
    from pincette_json_streams_spark.functions.dedup import simhash_pairs
    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=8).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _oracle_simhash(max_hamming=8, bits=60, bands=6):
    from pincette_json_streams_spark.functions.dedup import _P
    band_width = bits // bands
    bit_terms = " + ".join(
        f"((2 * len(list_filter(h, x -> (x >> {b}) & 1 = 1)) > len(h))"
        f"::BIGINT << {b})"
        for b in range(bits)
    )
    return f"""
WITH norm AS (
  SELECT doc_id AS id,
         list_distinct(string_split({_sql_norm()}, ' ')) AS w
  FROM documents
), hashed AS (
  SELECT id, list_transform(
    w, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT % {_P}) AS h
  FROM norm
), sig AS (
  SELECT id, {bit_terms} AS sg FROM hashed
), banded AS (
  SELECT id, sg, band,
         (sg >> (band * {band_width})) & {(1 << band_width) - 1} AS key
  FROM sig, range({bands}) t(band)
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sg AS sga, r.sg AS sgb
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
)
SELECT id_a, id_b, CAST(bit_count(xor(sga, sgb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sga, sgb)) <= {max_hamming}
"""


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-k (queries = 5 lowest vec_ids); ranks only
    for engine-portable hashing."""
    from pincette_json_streams_spark.functions.similarity import (
        brute_force_topk,
    )
    emb = _t(spark, sf_dir, "embeddings")
    dbl = emb.withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = dbl.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(dbl, qs, k=10).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id"
    )


_ORACLE_ANN = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(q.qv, q.qv)) *
          sqrt(list_dot_product(e.embedding::DOUBLE[],
                                e.embedding::DOUBLE[]))) AS cosine
  FROM embeddings e, q
), ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id FROM ranked WHERE rank <= 10
"""


def q_ann_recall(spark, sf_dir):
    """Index-quality metric: recall@10 of the IVF approximate top-k
    against the exact brute-force top-k, per query — the measurement
    every ANN deployment runs before trusting an index.  Both sides are
    deterministic (tie-break on vec_id), so recall is exact and
    oracle-checkable."""
    from pincette_json_streams_spark.functions.similarity import (
        brute_force_topk, ivf_topk,
    )
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, qs, k=10).select("query_id", "vec_id")
    approx = ivf_topk(emb, qs, k=10, nprobe=2, centroid_stride=64) \
        .select("query_id", "vec_id")
    # left join so a query with ZERO overlap still reports recall 0.0
    # (the worst-case queries are exactly the ones the metric exists
    # to surface)
    return (
        exact.join(approx.withColumn("__hit", F.lit(1)),
                   ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg((F.coalesce(F.sum("__hit"), F.lit(0)) / 10.0)
             .alias("recall_at_10"))
    )


def _oracle_ann_recall():
    return f"""
WITH exact AS ({_ORACLE_ANN}),
approx AS ({_ORACLE_ANN_IVF})
SELECT e.query_id,
       count(a.vec_id) / 10.0 AS recall_at_10
FROM exact e LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.vec_id = a.vec_id
GROUP BY e.query_id
"""


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact baseline; the LSH
    bucket variant is the scale path)."""
    from pincette_json_streams_spark.functions.dedup import embedding_pairs
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    ).filter(F.col("vec_id") < 300)
    # exact all-pairs is opt-in (bounded input here); LSH is the default
    return embedding_pairs(emb, threshold=0.3, use_lsh=False) \
        .select("id_a", "id_b")


_ORACLE_DEDUP_EMBEDDING = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
  WHERE vec_id < 300
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.e, b.e) /
            (sqrt(list_dot_product(a.e, a.e)) *
             sqrt(list_dot_product(b.e, b.e))), 6) >= 0.3
"""


def q_per_batching(spark, sf_dir):
    """$per stage (docs/aggregation_stages.md:393-411): batch N messages
    into one array message.  Which rows land in which batch is
    partition-order dependent, but the batch-size HISTOGRAM over a
    single coalesced partition is fully determined by the row count
    (full batches of `amount` plus one remainder) — SQL-replayable."""
    df = _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 4000}}},
    ]).coalesce(1)
    batched = compile_pipeline(
        df, [{"$per": {"amount": 100, "as": "msgs"}}], PipelineContext()
    )
    return batched.groupBy(
        F.size("msgs").cast("long").alias("batch_size")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_batches"))


_ORACLE_PER_BATCHING = """
WITH n AS (
  SELECT count(*)::BIGINT AS c FROM orders WHERE o_orderkey <= 4000
)
SELECT 100::BIGINT AS batch_size, (c // 100)::BIGINT AS n_batches
FROM n WHERE c >= 100
UNION ALL
SELECT (c % 100)::BIGINT, 1::BIGINT FROM n WHERE c % 100 <> 0
"""


def q_quality_filter(spark, sf_dir):
    """Composite pipeline: quality + language gate then length stats by
    source — the canonical pretraining-corpus filter shape."""
    from pincette_json_streams_spark.functions.text import (
        quality_score_from, with_text_features,
    )
    docs = _t(spark, sf_dir, "documents")
    tf = with_text_features(docs)
    kept = tf.withColumn(
        "q", quality_score_from(F.col("__tf"), F.length("text"))
    ).filter((F.col("q") >= 0.8) & (F.col("__tf.lang") == "en"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


def _oracle_quality_filter():
    from pincette_json_streams_spark.functions.text import (
        LANG_MARKERS, STOPWORDS,
    )
    stop_list = "[" + ",".join(f"'{s}'" for s in STOPWORDS) + "]"
    langs = list(LANG_MARKERS)
    score_defs = ", ".join(
        "len(list_intersect(words, ["
        + ",".join(f"'{m}'" for m in LANG_MARKERS[lang]) + f"])) AS s_{lang}"
        for lang in langs
    )
    en_cond = "s_en >= 1 AND s_en >= greatest(" + ", ".join(
        f"s_{o}" for o in langs[1:]
    ) + ")"
    return f"""
WITH feat AS (
  SELECT doc_id, text, source, n_chars,
         string_split_regex(lower(trim(text)), '\\s+') AS words,
         len(string_split_regex(trim(text), '\\s+')) AS n_words
  FROM documents
), scored AS (
  SELECT doc_id, source, n_chars, {score_defs},
         round((0.4 * ((n_words >= 10 AND n_words <= 5000
                AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                    / greatest(n_words,1) >= 2
                AND length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE
                    / greatest(n_words,1) <= 12)::INT)
           + 0.3 * least(len(list_distinct(words))::DOUBLE
                         / greatest(n_words,1) * 2, 1.0)
           + 0.3 * (len(list_intersect(words, {stop_list})) > 0)::INT)
          * (1.0 - least(len(regexp_extract_all(text,
                '[^A-Za-z0-9\\s]'))::DOUBLE / greatest(length(text),1) * 5,
                1.0)), 6) AS q
  FROM feat
)
SELECT source, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
FROM scored WHERE q >= 0.8 AND {en_cond}
GROUP BY source
"""


# ===========================================================================
# gallery round 2: trig, bitwise, encode, arrays, jes, batch-order stages
# ===========================================================================

def q_trig_ops(spark, sf_dir):
    """Trigonometry operator gallery (docs/aggregation_operators.md:
    951-1090): full trig + hyperbolic + degree/radian set; args derived
    from p_partkey so every value is in-domain."""
    return _pipe(spark, sf_dir, "part", [
        {"$addFields": {
            "x": {"$divide": [{"$mod": ["$p_partkey", 100]}, 100]},
            "y": {"$add": [{"$mod": ["$p_partkey", 7]}, 1]}}},
        {"$project": {
            "_id": 0, "p_partkey": 1,
            "sin_x": {"$round": [{"$sin": "$x"}, 6]},
            "cos_x": {"$round": [{"$cos": "$x"}, 6]},
            "tan_x": {"$round": [{"$tan": "$x"}, 6]},
            "asin_x": {"$round": [{"$asin": "$x"}, 6]},
            "acos_x": {"$round": [{"$acos": "$x"}, 6]},
            "atan_x": {"$round": [{"$atan": "$x"}, 6]},
            "atan2_xy": {"$round": [{"$atan2": ["$x", "$y"]}, 6]},
            "sinh_x": {"$round": [{"$sinh": "$x"}, 6]},
            "cosh_x": {"$round": [{"$cosh": "$x"}, 6]},
            "tanh_x": {"$round": [{"$tanh": "$x"}, 6]},
            "asinh_x": {"$round": [{"$asinh": "$x"}, 6]},
            "acosh_1x": {"$round": [{"$acosh": {"$add": [1, "$x"]}}, 6]},
            "atanh_x": {"$round": [{"$atanh": "$x"}, 6]},
            "rad_y": {"$round": [{"$degreesToRadians": "$y"}, 6]},
            "deg_x": {"$round": [{"$radiansToDegrees": "$x"}, 6]},
        }},
    ])


# sinh/cosh/tanh/asinh/acosh/atanh don't exist in this DuckDB build —
# replayed via their exp/ln definitions (same formulas Spark's Catalyst
# expressions use); outputs rounded to 6 digits on both engines.
_ORACLE_TRIG = """
WITH v AS (
  SELECT p_partkey, (p_partkey % 100) / 100.0 AS x,
         (p_partkey % 7) + 1 AS y
  FROM part
)
SELECT p_partkey,
       round(sin(x), 6) AS sin_x,
       round(cos(x), 6) AS cos_x,
       round(tan(x), 6) AS tan_x,
       round(asin(x), 6) AS asin_x,
       round(acos(x), 6) AS acos_x,
       round(atan(x), 6) AS atan_x,
       round(atan2(x, y), 6) AS atan2_xy,
       round((exp(x) - exp(-x)) / 2, 6) AS sinh_x,
       round((exp(x) + exp(-x)) / 2, 6) AS cosh_x,
       round((exp(x) - exp(-x)) / (exp(x) + exp(-x)), 6) AS tanh_x,
       round(ln(x + sqrt(x * x + 1)), 6) AS asinh_x,
       round(ln((1 + x) + sqrt((1 + x) * (1 + x) - 1)), 6) AS acosh_1x,
       round(0.5 * ln((1 + x) / (1 - x)), 6) AS atanh_x,
       round(radians(y), 6) AS rad_y,
       round(degrees(x), 6) AS deg_x
FROM v
"""


def q_bitwise_match(spark, sf_dir):
    """Bitwise query operators $bitsAllSet/$bitsAnyClear (docs/query.md:
    233-277), bit positions form."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$bitsAllSet": [0, 2]},
                    "o_custkey": {"$bitsAnyClear": [1]}}},
        {"$project": {"_id": 0, "o_orderkey": 1, "o_custkey": 1}},
    ])


_ORACLE_BITWISE = """
SELECT o_orderkey, o_custkey FROM orders
WHERE (o_orderkey & 5) = 5 AND (o_custkey & 2) != 2
"""


def q_encode_ops(spark, sf_dir):
    """Encoding + regex string extensions (docs/aggregation_operators.md:
    726-949): base64, uri %-encoding, $jsonToString, $regexMatch/Find/
    FindAll, $replaceOne, $strcasecmp, $cmp, $ltrim/$rtrim."""
    return _pipe(spark, sf_dir, "part", [
        {"$project": {
            "_id": 0, "p_partkey": 1,
            "b64": {"$base64Encode": "$p_brand"},
            "b64rt": {"$base64Decode": {"$base64Encode": "$p_name"}},
            "uri": {"$uriEncode": {"$concat": ["$p_type", " ", "$p_brand"]}},
            "urirt": {"$uriDecode": {"$uriEncode": "$p_type"}},
            "doc_json": {"$jsonToString": {"k": "$p_partkey",
                                           "s": "$p_brand"}},
            "has_iv": {"$regexMatch": {"input": "$p_name",
                                       "regex": "ivory"}},
            "first_word": {"$let": {
                "vars": {"f": {"$regexFind": {"input": "$p_name",
                                              "regex": "[a-z]+"}}},
                "in": "$$f.match"}},
            "find_idx": {"$toLong": {"$let": {
                "vars": {"f": {"$regexFind": {"input": "$p_name",
                                              "regex": "o[a-z]+"}}},
                "in": "$$f.idx"}}},
            "n_words": {"$toLong": {"$size": {"$regexFindAll": {
                "input": "$p_name", "regex": "[a-z]+"}}}},
            "repl1": {"$replaceOne": {"input": "$p_name", "find": " ",
                                      "replacement": "_"}},
            "casecmp": {"$strcasecmp": ["$p_brand", "brand#21"]},
            "cmp_key": {"$cmp": ["$p_size", 25]},
            "ltrimmed": {"$ltrim": {"input": {"$concat":
                                              ["  ", "$p_brand"]}}},
            "rtrimmed": {"$rtrim": {"input": {"$concat":
                                              ["$p_brand", "  "]}}},
        }},
    ])


# $uriEncode percent-encodes (space -> %20, '#' -> %23); the oracle
# replays it with replace() because the input charset is [A-Z0-9# a-z].
_ORACLE_ENCODE = """
SELECT p_partkey,
       base64(p_brand::BLOB) AS b64,
       p_name AS b64rt,
       replace(replace(p_type || ' ' || p_brand, '#', '%23'),
               ' ', '%20') AS uri,
       p_type AS urirt,
       '{"k":' || p_partkey || ',"s":"' || p_brand || '"}' AS doc_json,
       regexp_matches(p_name, 'ivory') AS has_iv,
       regexp_extract(p_name, '[a-z]+') AS first_word,
       CASE WHEN regexp_matches(p_name, 'o[a-z]+')
            THEN instr(p_name, regexp_extract(p_name, 'o[a-z]+')) - 1
       END AS find_idx,
       len(regexp_extract_all(p_name, '[a-z]+'))::BIGINT AS n_words,
       regexp_replace(p_name, ' ', '_') AS repl1,
       CASE WHEN lower(p_brand) < 'brand#21' THEN -1
            WHEN lower(p_brand) > 'brand#21' THEN 1 ELSE 0 END AS casecmp,
       CASE WHEN p_size < 25 THEN -1
            WHEN p_size > 25 THEN 1 ELSE 0 END AS cmp_key,
       ltrim('  ' || p_brand) AS ltrimmed,
       rtrim(p_brand || '  ') AS rtrimmed
FROM part
"""


def q_array_ops2(spark, sf_dir):
    """Second array gallery: $arrayElemAt/$concatArrays/$slice/$range/
    $reduce/$isArray/$setEquals/$setIsSubset/$allElementsTrue/$zip/
    $objectToArray/$arrayToObject/$mergeObjects/$sort (array form);
    arrays serialized with $jsonToString so the value hash is stable."""
    return _pipe(spark, sf_dir, "part", [
        {"$set": {"words": {"$split": ["$p_name", " "]}}},
        {"$project": {
            "_id": 0, "p_partkey": 1,
            "elem1": {"$arrayElemAt": ["$words", 1]},
            "cat_json": {"$jsonToString": {"$concatArrays": [
                {"$slice": ["$words", 1, 2]}, ["zz"]]}},
            "rng_sum": {"$reduce": {
                "input": {"$range": [0, {"$mod": ["$p_partkey", 5]}]},
                "initialValue": 0,
                "in": {"$add": ["$$value", "$$this"]}}},
            "is_arr": {"$isArray": "$words"},
            "is_arr2": {"$isArray": "$p_name"},
            "set_eq": {"$setEquals": ["$words",
                                      {"$reverseArray": "$words"}]},
            "subset": {"$setIsSubset": [{"$slice": ["$words", 1]},
                                        "$words"]},
            "all_true": {"$allElementsTrue": [{"$map": {
                "input": "$words",
                "in": {"$gt": [{"$strLenCP": "$$this"}, 0]}}}]},
            "sorted_desc": {"$jsonToString": {"$sort": {
                "input": "$words", "direction": "desc"}}},
            "zipped": {"$jsonToString": {"$map": {
                "input": {"$zip": {"inputs": [
                    "$words", {"$reverseArray": "$words"}]}},
                "in": {"$concat": [{"$arrayElemAt": ["$$this", 0]}, "-",
                                   {"$arrayElemAt": ["$$this", 1]}]}}}},
            "o2a": {"$jsonToString": {"$map": {
                "input": {"$objectToArray": {
                    "brand": "$p_brand", "size": {"$toString": "$p_size"}}},
                "in": {"$concat": ["$$this.k", "=", "$$this.v"]}}}},
            "a2o": {"$jsonToString": {"$arrayToObject": [[
                {"k": "brand", "v": "$p_brand"},
                {"k": "type", "v": "$p_type"}]]}},
            "merged": {"$jsonToString": {"$mergeObjects": [
                {"a": "$p_brand"}, {"b": "$p_size"},
                {"a": "$p_type"}]}},
        }},
    ])


_ORACLE_ARRAY2 = """
WITH v AS (
  SELECT p_partkey, p_brand, p_type, p_size,
         string_split(p_name, ' ') AS w,
         p_partkey % 5 AS m
  FROM part
)
SELECT p_partkey,
       w[2] AS elem1,
       to_json(list_concat(list_slice(w, 2, 3), ['zz']))::VARCHAR
         AS cat_json,
       ((m - 1) * m // 2)::BIGINT AS rng_sum,
       true AS is_arr,
       false AS is_arr2,
       list_sort(list_distinct(w)) = list_sort(list_distinct(list_reverse(w)))
         AS set_eq,
       len(list_filter(w[1:1], x -> NOT list_contains(w, x))) = 0
         AS subset,
       len(list_filter(w, x -> length(x) > 0)) = len(w) AS all_true,
       to_json(list_reverse_sort(w))::VARCHAR AS sorted_desc,
       to_json(list_transform(list_zip(w, list_reverse(w)),
               z -> struct_extract(z, 1) || '-' || struct_extract(z, 2)
               ))::VARCHAR AS zipped,
       to_json(['brand=' || p_brand, 'size=' || p_size::VARCHAR])::VARCHAR
         AS o2a,
       '{"brand":"' || p_brand || '","type":"' || p_type || '"}' AS a2o,
       '{"a":"' || p_type || '","b":' || p_size || '}' AS merged
FROM v
"""


def q_ann_lsh(spark, sf_dir):
    """Hyperplane-LSH embedding near-dup (the 100 TB ANN path,
    functions/dedup.py:hyperplane_bucket): deterministic md5-derived
    hyperplane signs, one shuffle on bucket id, cosine verify inside
    buckets."""
    from pincette_json_streams_spark.functions.dedup import embedding_pairs
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return embedding_pairs(emb, threshold=0.2, use_lsh=True,
                           planes=8).select("id_a", "id_b", "cosine")


def _oracle_ann_lsh(planes=8, threshold=0.2):
    sign = ("CASE WHEN ('0x' || substr(md5({p} || '_' || i), 1, 2))::INT "
            "% 2 = 0 THEN 1.0 ELSE -1.0 END")
    dots = " + ".join(
        "(CASE WHEN list_sum(list_transform(range(0, len(e)), "
        f"i -> e[i + 1] * {sign.format(p=p)})) > 0 "
        f"THEN {1 << p} ELSE 0 END)"
        for p in range(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), b AS (
  SELECT vec_id, e, {dots} AS bucket FROM v
)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       round(list_sum(list_transform(range(0, len(a.e)),
                                     i -> a.e[i + 1] * c.e[i + 1]))
             / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                * sqrt(list_sum(list_transform(c.e, x -> x * x)))), 6)
         AS cosine
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE round(list_sum(list_transform(range(0, len(a.e)),
                                    i -> a.e[i + 1] * c.e[i + 1]))
            / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
               * sqrt(list_sum(list_transform(c.e, x -> x * x)))), 6)
      >= {threshold}
"""


def q_ann_ivf(spark, sf_dir):
    """IVF approximate top-k (functions/similarity.py:ivf_topk): stride-
    sampled coarse quantizer (vec_id % 64 == 0), broadcast-centroid
    map-side assignment (no shuffle), nprobe=2 probing, exact re-rank of
    candidates only — the FAISS-style scale path next to `ann_lsh`."""
    from pincette_json_streams_spark.functions.similarity import ivf_topk
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(emb, qs, k=10, nprobe=2, centroid_stride=64).select(
        "query_id", F.col("rank").cast("long").alias("rank"), "vec_id",
        "cosine",
    )


_ORACLE_ANN_IVF = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), cent AS (
  SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % 64 = 0
), cos_vc AS (
  SELECT v.vec_id, v.e, cent.cid,
         round(list_dot_product(v.e, cent.ce) /
               (sqrt(list_dot_product(v.e, v.e)) *
                sqrt(list_dot_product(cent.ce, cent.ce))), 6) AS c
  FROM v, cent
), ranked_assign AS (
  SELECT vec_id, e, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY c DESC, cid ASC) AS rnk
  FROM cos_vc
), assigned AS (
  SELECT vec_id, e, cid AS list_id FROM ranked_assign WHERE rnk = 1
), q AS (
  SELECT vec_id AS query_id, e AS qv, cid AS list_id
  FROM ranked_assign WHERE vec_id < 5 AND rnk <= 2
), scored AS (
  SELECT q.query_id, a.vec_id,
         round(list_dot_product(q.qv, a.e) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(a.e, a.e))), 6) AS cosine
  FROM assigned a JOIN q ON a.list_id = q.list_id
), rr AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM rr WHERE rank <= 10
"""


def q_jes_ops(spark, sf_dir):
    """Event-sourcing extension operators over a constructed RFC-6902
    `_ops` patch array: $jes-added/$jes-removed/$jes-changed/$jes-href
    (docs/aggregation_operators.md:1235-1307)."""
    return _pipe(spark, sf_dir, "orders", [
        {"$set": {"_ops": {"$cond": {
            "if": {"$eq": ["$o_orderstatus", "F"]},
            "then": [{"op": "add", "path": "/status"},
                     {"op": "remove", "path": "/draft"}],
            "else": [{"op": "replace", "path": "/status"}]}}}},
        {"$project": {
            "_id": 0, "o_orderkey": 1,
            "added": {"$jes-added": "/status"},
            "removed": {"$jes-removed": "/draft"},
            "changed_draft": {"$jes-changed": "/draft"},
            "changed_status": {"$jes-changed": "/status"},
            "href": {"$jes-href": {"app": "orders",
                                   "type": "$o_orderstatus",
                                   "id": {"$toString": "$o_orderkey"}}},
        }},
    ])


_ORACLE_JES = """
SELECT o_orderkey,
       o_orderstatus = 'F' AS added,
       o_orderstatus = 'F' AS removed,
       o_orderstatus = 'F' AS changed_draft,
       true AS changed_status,
       '/orders/' || o_orderstatus || '/' || o_orderkey AS href
FROM orders
"""


def q_sort_limit(spark, sf_dir):
    """Batch-order extension stages $sort/$skip/$limit (streams are
    unordered in the reference — these exist for batch/collection mode);
    tie-broken on the key for determinism."""
    return _pipe(spark, sf_dir, "orders", [
        {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
        {"$skip": 5},
        {"$limit": 10},
        {"$project": {"_id": 0, "o_orderkey": 1, "o_totalprice": 1}},
    ])


_ORACLE_SORT_LIMIT = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5
"""


def q_setkey_stage(spark, sf_dir):
    """$setKey re-keying stage (docs/aggregation_stages.md:571-589): the
    new key lands in _key and repartitions the stream."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 1000}}},
        {"$setKey": {"$toString": "$o_custkey"}},
        {"$project": {"_id": 0, "o_orderkey": 1, "key": "$_key"}},
    ])


_ORACLE_SETKEY = """
SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS key
FROM orders WHERE o_orderkey <= 1000
"""


def q_misc_ops(spark, sf_dir):
    """Remaining operator sweep: $exp/$log/$log10, $ifNull, $literal,
    $type, $toDouble, $stringToJson round-trip, and the query-side
    $ne/$nin/$nor/$comment/$bitsAllClear/$bitsAnySet."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {
            "o_orderstatus": {"$ne": "P"},
            "o_custkey": {"$nin": [1, 2, 3]},
            "$nor": [{"o_orderkey": {"$bitsAllClear": [0]}},
                     {"o_orderkey": {"$bitsAnySet": [3]}}],
            "$comment": "operator-sweep gallery",
        }},
        {"$project": {
            "_id": 0, "o_orderkey": 1,
            "e": {"$round": [{"$exp": {"$divide":
                                       ["$o_totalprice", 100000]}}, 6]},
            "lg2": {"$round": [{"$log": ["$o_totalprice", 2]}, 6]},
            "l10": {"$round": [{"$log10": "$o_totalprice"}, 6]},
            "ifn": {"$ifNull": [{"$first": {"$regexFindAll": {
                "input": "$o_orderpriority", "regex": "URGENT"}}},
                "none"]},
            "litv": {"$literal": "$notAField"},
            "typ": {"$type": "$o_totalprice"},
            "dbl": {"$toDouble": "$o_orderkey"},
            "jrt": {"$jsonToString": {"$stringToJson": {"$concat": [
                "{\"a\":", {"$toString": "$o_orderkey"}, "}"]}}},
        }},
    ])


_ORACLE_MISC = """
SELECT o_orderkey,
       round(exp(o_totalprice / 100000), 6) AS e,
       round(ln(o_totalprice) / ln(2), 6) AS lg2,
       round(log10(o_totalprice), 6) AS l10,
       CASE WHEN regexp_matches(o_orderpriority, 'URGENT')
            THEN 'URGENT' ELSE 'none' END AS ifn,
       '$notAField' AS litv,
       'double' AS typ,
       CAST(o_orderkey AS DOUBLE) AS dbl,
       '{"a":' || o_orderkey || '}' AS jrt
FROM orders
WHERE o_orderstatus != 'P' AND o_custkey NOT IN (1, 2, 3)
  AND NOT ((o_orderkey & 1) = 0 OR (o_orderkey & 8) != 0)
"""


def q_epoch_ops(spark, sf_dir):
    """Epoch<->ISO-8601 conversion extensions (docs/aggregation_operators
    .md:514-614): $fromEpochMillis/Seconds/Nanos (Instant.toString wire
    format, fractional part omitted when zero), $toEpochNanos,
    $toDecimal."""
    return _pipe(spark, sf_dir, "orders", [
        {"$set": {"ms": {"$toEpochMillis": "$o_orderdate"}}},
        {"$project": {
            "_id": 0, "o_orderkey": 1,
            "iso_ms": {"$fromEpochMillis": {"$add": ["$ms", 500]}},
            "iso_s": {"$fromEpochSeconds": {"$divide": ["$ms", 1000]}},
            "iso_ns": {"$fromEpochNanos": {"$multiply": ["$ms", 1000000]}},
            "ens": {"$toEpochNanos": "$o_orderdate"},
            # $toString wrapper makes the value a plain string on both
            # engines — driver-side Decimal repr differences can't bite.
            "dec": {"$toString": {"$toDecimal": "$o_totalprice"}},
        }},
    ])


# iso_ms is built with string math (dates are midnight, so +500 ms is
# always a ".500" fraction) — no strftime '%g', whose output varies by
# DuckDB version.
_ORACLE_EPOCH = """
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') || '.500Z' AS iso_ms,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso_s,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso_ns,
       epoch_ns(o_orderdate) AS ens,
       CAST(CAST(o_totalprice AS DECIMAL(38, 10)) AS VARCHAR) AS dec
FROM orders
"""


def q_jslt_stage(spark, sf_dir):
    """$jslt whole-message transform (docs/aggregation_stages.md:245-277)
    through the embedded JSLT-subset interpreter, typed output."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 2000}}},
        {"$jslt": {
            "script": '{"okey": .o_orderkey, '
                      '"pricy": if (.o_totalprice > 150000) "yes" '
                      'else "no", '
                      '"seg": split(.o_orderpriority, "-")[0]}',
            "schema": "okey bigint, pricy string, seg string"}},
    ])


_ORACLE_JSLT = """
SELECT o_orderkey AS okey,
       CASE WHEN o_totalprice > 150000 THEN 'yes' ELSE 'no' END AS pricy,
       string_split(o_orderpriority, '-')[1] AS seg
FROM orders WHERE o_orderkey <= 2000
"""


def q_dup_spans(spark, sf_dir):
    """Exact-substring duplicate detection (functions/text.py
    duplicate_spans — the Lee et al. 2022 dedup shape): hash every
    overlapping 8-token window, find windows shared across >=2 docs,
    merge each doc's duplicated starts into maximal spans.  Per-doc
    coverage stats.  Map-side window hashing (8-byte shuffle payload),
    one hash agg + one equi-join; span merge partitions by doc."""
    from pincette_json_streams_spark.functions.text import duplicate_spans
    docs = _t(spark, sf_dir, "documents")
    return duplicate_spans(docs, width=8, min_docs=2)


_ORACLE_DUP_SPANS = f"""
WITH norm AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS ws FROM documents
), wins AS (
  -- 0-based start positions; the final window truncates at the doc end
  -- exactly like Spark's slice(words, i, 8) + concat_ws
  SELECT doc_id, len(ws) AS n, i - 1 AS pos,
         array_to_string(ws[i:i+7], ' ') AS w
  FROM norm, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)
), dup AS (
  SELECT w FROM wins GROUP BY w HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT wi.doc_id, wi.n, wi.pos FROM wins wi JOIN dup USING (w)
), flagged AS (
  SELECT doc_id, n, pos,
         CASE WHEN pos > coalesce(max(pos + 8) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 1 ELSE 0 END AS new_island
  FROM marked
), islands AS (
  SELECT doc_id, n, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
), spans AS (
  SELECT doc_id, island, min(pos) AS s,
         least(max(pos) + 8, any_value(n)) AS e
  FROM islands GROUP BY doc_id, island
), per_doc_spans AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s) AS dup_tokens
  FROM spans GROUP BY doc_id
), per_doc_wins AS (
  SELECT doc_id, count(*) AS dup_windows FROM marked GROUP BY doc_id
), totals AS (
  SELECT doc_id, any_value(n) AS n_tokens, count(*) AS n_windows
  FROM wins GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens::BIGINT AS n_tokens,
       t.n_windows::BIGINT AS n_windows,
       coalesce(w.dup_windows, 0)::BIGINT AS dup_windows,
       coalesce(s.n_spans, 0)::BIGINT AS n_spans,
       coalesce(s.dup_tokens, 0)::BIGINT AS dup_tokens,
       round(coalesce(s.dup_tokens, 0) / t.n_tokens, 6) AS dup_ratio
FROM totals t
LEFT JOIN per_doc_wins w USING (doc_id)
LEFT JOIN per_doc_spans s USING (doc_id)
"""


def q_strip_spans(spark, sf_dir):
    """The exact-substring dedup ACTION (functions/text.py
    strip_duplicate_spans): the lowest doc_id containing a shared
    8-token window keeps it verbatim; every other doc has the merged
    duplicated spans stripped and its text rebuilt from the surviving
    tokens.  Covered positions explode into (doc, pos) pairs so the
    removal is a hash anti-join, never a range join."""
    from pincette_json_streams_spark.functions.text import (
        strip_duplicate_spans,
    )
    docs = _t(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, width=8)


_ORACLE_STRIP_SPANS = f"""
WITH norm AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS ws FROM documents
), wins AS (
  SELECT doc_id, len(ws) AS n, i - 1 AS pos,
         array_to_string(ws[i:i+7], ' ') AS w
  FROM norm, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)
), dup AS (
  SELECT w, min(doc_id) AS keeper FROM wins
  GROUP BY w HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT wi.doc_id, wi.n, wi.pos
  FROM wins wi JOIN dup USING (w) WHERE wi.doc_id != dup.keeper
), flagged AS (
  SELECT doc_id, n, pos,
         CASE WHEN pos > coalesce(max(pos + 8) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 1 ELSE 0 END AS new_island
  FROM marked
), islands AS (
  SELECT doc_id, n, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
), spans AS (
  SELECT doc_id, island, min(pos) AS s,
         least(max(pos) + 8, any_value(n)) AS e
  FROM islands GROUP BY doc_id, island
), covered AS (
  SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos FROM spans
), tokens AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS t
  FROM norm, unnest(generate_series(1, len(ws))) AS u(i)
), kept AS (
  SELECT tk.doc_id, tk.pos, tk.t FROM tokens tk
  ANTI JOIN covered c ON tk.doc_id = c.doc_id AND tk.pos = c.pos
), survived AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS text_clean,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT tt.doc_id, tt.n_tokens::BIGINT AS n_tokens,
       coalesce(sv.n_kept, 0)::BIGINT AS n_kept,
       coalesce(sv.text_clean, '') AS text_clean
FROM (SELECT doc_id, count(*) AS n_tokens FROM tokens GROUP BY doc_id) tt
LEFT JOIN survived sv USING (doc_id)
"""


def q_window_fields(spark, sf_dir):
    """$windowFields batch extension (operators/stages.py
    _stage_window_fields_ext — MongoDB $setWindowFields shape compiled
    to native Spark window functions): rank / rowNumber / shift /
    cumulative sum / moving average / whole-partition total, all over
    ONE shared window family (single exchange on the partition key)."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 5000}}},
        {"$windowFields": {
            "partitionBy": "$o_orderpriority",
            "sortBy": {"o_totalprice": -1, "o_orderkey": 1},
            "output": {
                "rnk": {"$rank": {}},
                "rn": {"$rowNumber": {}},
                "prev_price": {"$shift": {
                    "output": "$o_totalprice", "by": -1, "default": 0}},
                "cum_spend": {"$sum": "$o_totalprice",
                              "window": {"documents":
                                         ["unbounded", "current"]}},
                "ma3": {"$avg": "$o_totalprice",
                        "window": {"documents": [-2, 0]}},
                "part_total": {"$sum": "$o_totalprice"},
            }}},
        {"$project": {
            "_id": 0, "o_orderkey": 1, "o_orderpriority": 1,
            "rnk": 1, "rn": 1,
            "prev_price": {"$round": ["$prev_price", 2]},
            "cum_spend": {"$round": ["$cum_spend", 2]},
            "ma3": {"$round": ["$ma3", 4]},
            "part_total": {"$round": ["$part_total", 2]}}},
    ])


_ORACLE_WINDOW_FIELDS = """
SELECT o_orderkey, o_orderpriority,
       rank() OVER w AS rnk,
       row_number() OVER w AS rn,
       round(coalesce(lag(o_totalprice, 1) OVER w, 0), 2) AS prev_price,
       round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW), 2) AS cum_spend,
       round(avg(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING
             AND CURRENT ROW), 4) AS ma3,
       round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
             AND UNBOUNDED FOLLOWING), 2) AS part_total
FROM orders
WHERE o_orderkey <= 5000
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + URL-keyed dedup (functions/web.py): messy
    crawl URLs (mixed-case scheme/host, default port, trailing slash,
    utm/tracking params, unsorted query, fragments) synthesized
    deterministically from the documents table, canonicalized with
    native regexp+array expressions, deduped per canonical key (lowest
    doc_id kept), rolled up per source.  One hash agg on the canonical
    key — the Common-Crawl first-pass shape."""
    from pincette_json_streams_spark.functions.web import (
        host_of, url_dedup,
    )
    docs = _t(spark, sf_dir, "documents")
    messy = docs.withColumn(
        "url",
        F.concat(
            F.lit("HTTPS://News."), F.col("source"),
            F.lit(".Example.com:443/art//"),
            (F.col("doc_id") % 7).cast("string"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=feed&id="),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("&b=2&a=1"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("#sec"))
            .otherwise(F.lit("")),
        ),
    )
    kept = url_dedup(messy, url_col="url", id_col="doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_dups").cast("long").alias("n_raw"),
        F.count_distinct(host_of(F.col("canonical_url")))
        .cast("long").alias("n_hosts"),
    )


_ORACLE_URL_DEDUP = """
WITH messy AS (
  SELECT doc_id, source,
         'HTTPS://News.' || source || '.Example.com:443/art//' ||
         (doc_id % 7)::VARCHAR ||
         CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
         '?utm_source=feed&id=' || (doc_id % 40)::VARCHAR || '&b=2&a=1' ||
         CASE WHEN doc_id % 3 = 0 THEN '#sec' ELSE '' END AS url
  FROM documents
), parsed AS (
  SELECT doc_id, source,
         lower(regexp_extract(trim(url),
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$',
           1)) AS scheme,
         lower(regexp_extract(trim(url),
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$',
           2)) AS host0,
         regexp_extract(trim(url),
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$',
           3) AS path0,
         regexp_extract(trim(url),
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$',
           4) AS query0
  FROM messy
), canon AS (
  SELECT doc_id, source,
         scheme || '://' ||
         CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
              ELSE host0 END ||
         regexp_replace(path0, '/+$', '') ||
         CASE WHEN cq != '' THEN '?' || cq ELSE '' END AS canonical_url
  FROM (
    SELECT *, array_to_string(list_sort(list_filter(
             string_split(query0, '&'),
             p -> p != '' AND NOT (
               starts_with(split_part(p, '=', 1), 'utm_') OR
               split_part(p, '=', 1) IN
                 ('gclid','fbclid','msclkid','ref','mc_cid','mc_eid')))),
           '&') AS cq
    FROM parsed
  )
), keepers AS (
  SELECT canonical_url, min(doc_id) AS keep, count(*) AS n_dups
  FROM canon GROUP BY canonical_url
)
SELECT c.source, count(*)::BIGINT AS n_kept,
       sum(k.n_dups)::BIGINT AS n_raw,
       count(DISTINCT regexp_replace(
         lower(regexp_extract(c.canonical_url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\\?([^#]*))?(?:#.*)?$',
           2)), ':[0-9]+$', ''))::BIGINT AS n_hosts
FROM canon c JOIN keepers k
  ON c.canonical_url = k.canonical_url AND c.doc_id = k.keep
GROUP BY c.source
"""


def q_zorder_key(spark, sf_dir):
    """Z-order (Morton) write-layout key (functions/layout.py): min-max
    scale two columns to 8 bits each and interleave — the Delta
    OPTIMIZE ZORDER BY / Iceberg sort-order technique that makes
    parquet min/max pruning work for filters on EITHER column.  Stats
    row broadcast into the plan; the interleave is pure codegen."""
    from pincette_json_streams_spark.functions.layout import zorder_key
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 2000
    ).select("o_orderkey", "o_custkey", "o_totalprice")
    return zorder_key(
        orders, ["o_custkey", "o_totalprice"], bits=8
    ).select("o_orderkey", "zkey")


def _oracle_zorder():
    bits, k = 8, 2
    top = (1 << bits) - 1
    terms = " + ".join(
        f"(((s{i} >> {b}) & 1) << {b * k + i})"
        for b in range(bits) for i in range(k)
    )
    return f"""
WITH f AS (
  SELECT o_orderkey, o_custkey::DOUBLE AS c0, o_totalprice::DOUBLE AS c1
  FROM orders WHERE o_orderkey <= 2000
), st AS (
  SELECT min(c0) AS m0, max(c0) AS x0, min(c1) AS m1, max(c1) AS x1
  FROM f
), sc AS (
  SELECT o_orderkey,
         (CASE WHEN (x0 - m0) > 0
               THEN floor(((c0 - m0) / (x0 - m0)) * {top})
               ELSE 0 END)::BIGINT AS s0,
         (CASE WHEN (x1 - m1) > 0
               THEN floor(((c1 - m1) / (x1 - m1)) * {top})
               ELSE 0 END)::BIGINT AS s1
  FROM f, st
)
SELECT o_orderkey, ({terms})::BIGINT AS zkey FROM sc
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-shaped semantic dedup (functions/similarity.py
    semantic_dedup): nearest-centroid assignment (broadcast centroids,
    shuffle-free map) bounds the quadratic cosine check to within each
    cluster; min-id keeper at rounded-cosine >= 0.35.  Centroids are a
    deterministic selection (every 100th vector) so the oracle can
    replay the exact clustering; the production path feeds
    train_kmeans_centroids output instead.  Per-cluster rollup."""
    from pincette_json_streams_spark.functions.similarity import (
        semantic_dedup,
    )
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") / 100).cast("long").alias("cluster_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    out = semantic_dedup(emb, cent, threshold=0.35)
    return out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).cast("long")
        .alias("n_dropped"),
        F.round(F.avg("centroid_cos"), 6).alias("avg_centroid_cos"),
    )


_ORACLE_SEMANTIC_DEDUP = """
WITH cent AS (
  SELECT (vec_id // 100)::BIGINT AS cid, embedding::DOUBLE[] AS ce
  FROM embeddings WHERE vec_id % 100 = 0
), v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), scored AS (
  SELECT v.vec_id, cent.cid,
         round(list_dot_product(e, ce) /
               (sqrt(list_dot_product(e, e)) *
                sqrt(list_dot_product(ce, ce))), 6) AS cos
  FROM v, cent
), assigned AS (
  SELECT vec_id, cid, cos FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN v av ON av.vec_id = a.vec_id
  JOIN v bv ON bv.vec_id = b.vec_id
  WHERE round(list_dot_product(av.e, bv.e) /
              (sqrt(list_dot_product(av.e, av.e)) *
               sqrt(list_dot_product(bv.e, bv.e))), 6) >= 0.35
)
SELECT asg.cid AS cluster_id, count(*)::BIGINT AS n_members,
       sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_dropped,
       round(avg(asg.cos), 6) AS avg_centroid_cos
FROM assigned asg LEFT JOIN dropped d ON asg.vec_id = d.vec_id
GROUP BY asg.cid
"""


def q_densify_fill(spark, sf_dir):
    """$densify + $fill batch extensions (operators/stages.py — the
    MongoDB 5.x stage shapes): daily per-user averages densified to a
    gapless day grid (sequence-exploded holes, anti-join against
    existing rows) then LOCF-filled over one keyed window.  The day
    bucket uses the mod-subtract-round form so the long->double cast
    can never flip a floor at a bucket boundary."""
    day_ns = 86400 * 1_000_000_000
    return _pipe(spark, sf_dir, "events", [
        {"$match": {"user_id": {"$lt": 15}}},
        {"$group": {
            "_id": {"uid": "$user_id",
                    "day": {"$toLong": {"$round": [{"$divide": [
                        {"$subtract": ["$ts_nanos",
                                       {"$mod": ["$ts_nanos", day_ns]}]},
                        day_ns]}, 0]}}},
            "avg_v": {"$avg": "$value"},
        }},
        {"$project": {"_id": 0, "uid": "$_id.uid", "day": "$_id.day",
                      "avg_v": {"$round": ["$avg_v", 4]}}},
        {"$densify": {"field": "day", "partitionByFields": ["uid"],
                      "range": {"step": 1, "bounds": "partition"}}},
        {"$fill": {"partitionByFields": ["uid"], "sortBy": {"day": 1},
                   "output": {"avg_v": {"method": "locf"}}}},
    ])


_ORACLE_DENSIFY_FILL = """
WITH rolled AS (
  SELECT user_id AS uid,
         epoch_ns(ts) // (86400 * 1000000000::BIGINT) AS day,
         round(avg(value), 4) AS avg_v
  FROM events WHERE user_id < 15 GROUP BY 1, 2
), bounds AS (
  SELECT uid, min(day) AS lo, max(day) AS hi FROM rolled GROUP BY uid
), grid AS (
  SELECT uid, unnest(generate_series(lo, hi)) AS day FROM bounds
), dense AS (
  SELECT g.uid, g.day, r.avg_v
  FROM grid g LEFT JOIN rolled r ON g.uid = r.uid AND g.day = r.day
)
SELECT uid, day,
       last_value(avg_v IGNORE NULLS) OVER (
         PARTITION BY uid ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_v
FROM dense
"""


def q_facet(spark, sf_dir):
    """$facet batch extension (operators/stages.py _stage_facet_ext):
    three sub-pipelines over one orders scan collapse into a single row
    of sorted arrays — the multi-perspective summary page query.  Each
    facet is a one-column projection so the value-hash comparison stays
    engine-neutral (arrays of scalars, no nested-row repr drift)."""
    return _pipe(spark, sf_dir, "orders", [
        {"$facet": {
            "priorities": [
                {"$group": {"_id": "$o_orderpriority",
                            "n": {"$count": {}}}},
                {"$project": {"_id": 0, "s": {"$concat": [
                    "$_id", ":", {"$toString": "$n"}]}}},
            ],
            "statuses": [
                {"$group": {"_id": "$o_orderstatus",
                            "n": {"$count": {}}}},
                {"$project": {"_id": 0, "s": {"$concat": [
                    "$_id", ":", {"$toString": "$n"}]}}},
            ],
            "top_keys": [
                {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                {"$limit": 3},
                {"$project": {"_id": 0, "k": "$o_orderkey"}},
            ],
        }},
    ]).select(
        # driver contract: no array output columns — each sorted facet
        # array flattens to one pipe-joined string on BOTH sides
        F.array_join("priorities", "|").alias("priorities"),
        F.array_join("statuses", "|").alias("statuses"),
        F.array_join(
            F.transform("top_keys", lambda x: x.cast("string")), "|",
        ).alias("top_keys"),
    )


_ORACLE_FACET = """
WITH f1 AS (
  SELECT string_agg(s, '|' ORDER BY s) AS priorities FROM (
    SELECT o_orderpriority || ':' || count(*)::VARCHAR AS s
    FROM orders GROUP BY o_orderpriority)
), f2 AS (
  SELECT string_agg(s, '|' ORDER BY s) AS statuses FROM (
    SELECT o_orderstatus || ':' || count(*)::VARCHAR AS s
    FROM orders GROUP BY o_orderstatus)
), f3 AS (
  SELECT string_agg(k::VARCHAR, '|' ORDER BY k) AS top_keys FROM (
    SELECT o_orderkey AS k FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 3)
)
SELECT * FROM f1, f2, f3
"""


def q_cms_heavy(spark, sf_dir):
    """Count-min sketch heavy-hitter estimation (functions/profiling.py
    cms_sketch/cms_estimate): deterministic md5-bucketed CMS over the
    token stream (O(depth*width) state, cell-wise mergeable across
    shards/days), probed for every token with exact count >= 50.
    est >= exact always; the sketch is the bounded-memory path a 100 TB
    token census uses where exact per-token counts won't fit."""
    from pincette_json_streams_spark.functions.profiling import (
        cms_estimate, cms_sketch,
    )
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(BPE_TOKEN_RE), F.lit(0)
        )).alias("token")
    )
    sketch = cms_sketch(toks, "token", depth=4, width=512)
    heavy = toks.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    ).filter(F.col("exact") >= 50)
    est = cms_estimate(sketch, heavy.select("token"), "token",
                       depth=4, width=512)
    return heavy.join(est, "token").select("token", "exact", "est")


def _oracle_cms_heavy():
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}'))
    AS token
  FROM documents
), cells AS (
  SELECT t.d,
         ('0x' || substr(md5('cms' || t.d || ':' || token), 1, 15))
           ::BIGINT % 512 AS b,
         count(*) AS cnt
  FROM toks, unnest([0, 1, 2, 3]) AS t(d)
  GROUP BY 1, 2
), probe AS (
  SELECT token, count(*)::BIGINT AS exact FROM toks
  GROUP BY token HAVING count(*) >= 50
)
SELECT p.token, p.exact, min(c.cnt)::BIGINT AS est
FROM probe p, unnest([0, 1, 2, 3]) AS t(d)
JOIN cells c
  ON c.d = t.d
 AND c.b = ('0x' || substr(md5('cms' || t.d || ':' || p.token), 1, 15))
             ::BIGINT % 512
GROUP BY 1, 2
"""


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement
    (functions/sampling.py weighted_sample, Efraimidis-Spirakis A-ES):
    top-5 docs per language by the u^(1/n_chars) key with md5-derived
    u — rerun-stable across repartitions, one WindowGroupLimit-pruned
    window per group."""
    from pincette_json_streams_spark.functions.sampling import (
        weighted_sample,
    )
    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample(docs, "n_chars", k=5, group_col="lang")
    return out.select("lang", "doc_id", "sample_key")


_ORACLE_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT lang, doc_id,
         round(pow(greatest(
           ('0x' || substr(md5('ws' || doc_id::VARCHAR), 1, 8))::BIGINT
             / 4294967296.0, 1e-12), 1.0 / n_chars), 12) AS sample_key
  FROM documents WHERE n_chars > 0
)
SELECT lang, doc_id, sample_key FROM (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY sample_key DESC, doc_id ASC) AS rn
  FROM keyed) WHERE rn <= 5
"""


def q_decontaminate(spark, sf_dir):
    """Span-level benchmark DECONTAMINATION (functions/text.py
    decontaminate_spans — the removal action to `contamination`'s
    detection): every 6-token window of a training doc that also
    appears in the held-out set (doc_id % 50 == 0) marks a span;
    spans interval-merge and strip, text rebuilt.  Benchmark window
    hashes broadcast; the training side never shuffles its windows."""
    from pincette_json_streams_spark.functions.text import (
        decontaminate_spans,
    )
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return decontaminate_spans(train, bench, width=6)


_ORACLE_DECONTAMINATE = f"""
WITH norm AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS ws FROM documents
), wins AS (
  SELECT doc_id, len(ws) AS n, i - 1 AS pos,
         array_to_string(ws[i:i+5], ' ') AS w
  FROM norm, unnest(generate_series(1, greatest(len(ws) - 5, 1))) AS t(i)
), bench AS (
  SELECT DISTINCT w FROM wins WHERE doc_id % 50 = 0
), marked AS (
  SELECT wi.doc_id, wi.n, wi.pos
  FROM wins wi JOIN bench USING (w) WHERE wi.doc_id % 50 != 0
), flagged AS (
  SELECT doc_id, n, pos,
         CASE WHEN pos > coalesce(max(pos + 6) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  -1) THEN 1 ELSE 0 END AS new_island
  FROM marked
), islands AS (
  SELECT doc_id, n, pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
), spans AS (
  SELECT doc_id, island, min(pos) AS s,
         least(max(pos) + 6, any_value(n)) AS e
  FROM islands GROUP BY doc_id, island
), covered AS (
  SELECT doc_id, unnest(generate_series(s, e - 1)) AS pos FROM spans
), tokens AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS t
  FROM norm, unnest(generate_series(1, len(ws))) AS u(i)
  WHERE doc_id % 50 != 0
), kept AS (
  SELECT tk.doc_id, tk.pos, tk.t FROM tokens tk
  ANTI JOIN covered c ON tk.doc_id = c.doc_id AND tk.pos = c.pos
), survived AS (
  SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS text_clean,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT tt.doc_id, tt.n_tokens::BIGINT AS n_tokens,
       coalesce(sv.n_kept, 0)::BIGINT AS n_kept,
       coalesce(sv.text_clean, '') AS text_clean
FROM (SELECT doc_id, count(*) AS n_tokens FROM tokens GROUP BY doc_id) tt
LEFT JOIN survived sv USING (doc_id)
"""


def q_date_arith(spark, sf_dir):
    """MongoDB 5.0 date arithmetic extensions ($dateTrunc with binSize,
    $dateAdd/$dateSubtract, boundary-crossing $dateDiff incl. ISO
    weeks) — all native Column trees over the events stream; the base
    instant is second-truncated so the ISO wire format stays
    whole-second on both engines."""
    epoch = "2024-01-01T00:00:00Z"
    return _pipe(spark, sf_dir, "events", [
        {"$match": {"user_id": {"$lt": 40}}},
        {"$project": {
            "_id": 0, "event_id": 1,
            "base": {"$dateTrunc": {
                "date": {"$fromEpochNanos": "$ts_nanos"},
                "unit": "second"}}}},
        {"$project": {
            "event_id": 1, "base": 1,
            "day": {"$dateTrunc": {"date": "$base", "unit": "day"}},
            "bin15m": {"$dateTrunc": {"date": "$base",
                                      "unit": "minute", "binSize": 15}},
            "plus2h": {"$dateAdd": {"startDate": "$base",
                                    "unit": "hour", "amount": 2}},
            "minus1d": {"$dateSubtract": {"startDate": "$base",
                                          "unit": "day", "amount": 1}},
            "dd": {"$dateDiff": {"startDate": epoch,
                                 "endDate": "$base", "unit": "day"}},
            "dh": {"$dateDiff": {"startDate": epoch,
                                 "endDate": "$base", "unit": "hour"}},
            "dm": {"$dateDiff": {"startDate": epoch,
                                 "endDate": "$base", "unit": "month"}},
            "dw": {"$dateDiff": {"startDate": epoch,
                                 "endDate": "$base", "unit": "week"}},
        }},
    ])


_ORACLE_DATE_ARITH = """
WITH base AS (
  SELECT event_id, date_trunc('second', ts) AS b
  FROM events WHERE user_id < 40
)
SELECT event_id,
       strftime(b, '%Y-%m-%dT%H:%M:%SZ') AS base,
       strftime(date_trunc('day', b), '%Y-%m-%dT%H:%M:%SZ') AS day,
       strftime(to_timestamp((epoch_ms(b) // 900000) * 900000 / 1000.0),
                '%Y-%m-%dT%H:%M:%SZ') AS bin15m,
       strftime(b + INTERVAL 2 HOUR, '%Y-%m-%dT%H:%M:%SZ') AS plus2h,
       strftime(b - INTERVAL 1 DAY, '%Y-%m-%dT%H:%M:%SZ') AS minus1d,
       date_diff('day', TIMESTAMP '2024-01-01 00:00:00', b)::BIGINT
         AS dd,
       date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', b)::BIGINT
         AS dh,
       date_diff('month', TIMESTAMP '2024-01-01 00:00:00', b)::BIGINT
         AS dm,
       date_diff('week', TIMESTAMP '2024-01-01 00:00:00', b)::BIGINT
         AS dw
FROM base
"""


def q_topn_accumulators(spark, sf_dir):
    """MongoDB 5.2 N-accumulators ($topN/$bottomN/$minN/$maxN) in
    $group — one aggregation buffer per group (collect_list ->
    array_sort -> slice), no window, no second shuffle.  Unique
    o_orderkey in the sortBy makes the order total, so the arrays are
    engine-stable."""
    return _pipe(spark, sf_dir, "orders", [
        {"$group": {
            "_id": "$o_orderpriority",
            "top3_keys": {"$topN": {
                "n": 3,
                "sortBy": {"o_totalprice": -1, "o_orderkey": -1},
                "output": "$o_orderkey"}},
            "bottom2_keys": {"$bottomN": {
                "n": 2,
                "sortBy": {"o_totalprice": -1, "o_orderkey": -1},
                "output": "$o_orderkey"}},
            "min3_price": {"$minN": {"input": "$o_totalprice", "n": 3}},
            "max3_price": {"$maxN": {"input": "$o_totalprice", "n": 3}},
        }},
        {"$project": {"_id": 0, "priority": "$_id", "top3_keys": 1,
                      "bottom2_keys": 1, "min3_price": 1,
                      "max3_price": 1}},
    ]).select(
        # driver contract: no array output columns — every group is far
        # larger than N, so positional element_at splits the accumulator
        # arrays into scalars losslessly on BOTH sides
        "priority",
        F.element_at("top3_keys", 1).cast("long").alias("top1"),
        F.element_at("top3_keys", 2).cast("long").alias("top2"),
        F.element_at("top3_keys", 3).cast("long").alias("top3"),
        F.element_at("bottom2_keys", 1).cast("long").alias("bot1"),
        F.element_at("bottom2_keys", 2).cast("long").alias("bot2"),
        F.element_at("min3_price", 1).alias("min1"),
        F.element_at("min3_price", 2).alias("min2"),
        F.element_at("min3_price", 3).alias("min3"),
        F.element_at("max3_price", 1).alias("max1"),
        F.element_at("max3_price", 2).alias("max2"),
        F.element_at("max3_price", 3).alias("max3"),
    )


_ORACLE_TOPN_ACCUM = """
WITH l AS (
  SELECT o_orderpriority AS priority,
         list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey DESC)
           AS keys,
         list_sort(list(o_totalprice)) AS asc_p,
         list_reverse_sort(list(o_totalprice)) AS desc_p
  FROM orders GROUP BY o_orderpriority
)
SELECT priority,
       keys[1]::BIGINT AS top1, keys[2]::BIGINT AS top2,
       keys[3]::BIGINT AS top3,
       keys[-2]::BIGINT AS bot1, keys[-1]::BIGINT AS bot2,
       asc_p[1] AS min1, asc_p[2] AS min2, asc_p[3] AS min3,
       desc_p[1] AS max1, desc_p[2] AS max2, desc_p[3] AS max3
FROM l
"""


def q_percentile_accum(spark, sf_dir):
    """MongoDB 7.0 $percentile/$median accumulators in $group — exact
    linear-interpolation percentiles per group (F.percentile == DuckDB
    quantile_cont), aggregated without a global sort."""
    return _pipe(spark, sf_dir, "orders", [
        {"$group": {
            "_id": "$o_orderpriority",
            "price_pcts": {"$percentile": {
                "input": "$o_totalprice", "p": [0.25, 0.5, 0.9]}},
            "med": {"$median": {"input": "$o_totalprice"}},
        }},
        {"$project": {
            "_id": 0, "priority": "$_id",
            "p25": {"$round": [{"$arrayElemAt": ["$price_pcts", 0]}, 4]},
            "p50": {"$round": [{"$arrayElemAt": ["$price_pcts", 1]}, 4]},
            "p90": {"$round": [{"$arrayElemAt": ["$price_pcts", 2]}, 4]},
            "med": {"$round": ["$med", 4]}}},
    ])


_ORACLE_PERCENTILE_ACCUM = """
SELECT o_orderpriority AS priority,
       round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.5), 4) AS med
FROM orders GROUP BY o_orderpriority
"""


def q_modern_ops(spark, sf_dir):
    """MongoDB 5.x expression extensions gallery: $sortArray, array
    $minN/$firstN, $dateToString/$dateFromString with Mongo format
    specifiers — all native Column trees."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 3000}}},
        {"$project": {
            "_id": 0, "o_orderkey": 1,
            "sorted_desc": {"$sortArray": {
                "input": {"$split": ["$o_orderpriority", "-"]},
                "sortBy": -1}},
            "first1": {"$firstN": {
                "input": {"$split": ["$o_orderpriority", "-"]},
                "n": 1}},
            "min2": {"$minN": {
                "input": [{"$mod": ["$o_orderkey", 7]},
                          {"$mod": ["$o_orderkey", 5]},
                          {"$mod": ["$o_orderkey", 3]}],
                "n": 2}},
            "date_str": {"$dateToString": {
                "date": "$o_orderdate", "format": "%d/%m/%Y"}},
            "parsed": {"$dateFromString": {
                "dateString": {"$dateToString": {
                    "date": "$o_orderdate", "format": "%d/%m/%Y"}},
                "format": "%d/%m/%Y"}},
        }},
    ]).select(
        # driver contract: no array output columns — the operator arrays
        # flatten to joined strings / positional scalars on BOTH sides
        "o_orderkey",
        F.array_join("sorted_desc", ",").alias("sorted_desc"),
        F.element_at("first1", 1).alias("first1"),
        F.element_at("min2", 1).cast("long").alias("min2a"),
        F.element_at("min2", 2).cast("long").alias("min2b"),
        "date_str", "parsed",
    )


_ORACLE_MODERN_OPS = """
SELECT o_orderkey,
       array_to_string(
         list_reverse_sort(string_split(o_orderpriority, '-')), ',')
         AS sorted_desc,
       string_split(o_orderpriority, '-')[1] AS first1,
       list_sort([o_orderkey % 7, o_orderkey % 5, o_orderkey % 3])[1]
         ::BIGINT AS min2a,
       list_sort([o_orderkey % 7, o_orderkey % 5, o_orderkey % 3])[2]
         ::BIGINT AS min2b,
       strftime(o_orderdate, '%d/%m/%Y') AS date_str,
       strftime(strptime(strftime(o_orderdate, '%d/%m/%Y'),
                         '%d/%m/%Y'), '%Y-%m-%dT%H:%M:%SZ') AS parsed
FROM orders WHERE o_orderkey <= 3000
"""


def q_union_buckets(spark, sf_dir):
    """$unionWith + $bucketAuto: concatenate a transformed second
    collection onto the stream, then equal-population buckets via
    ntile (unique keys make the order total, so bucket boundaries are
    engine-stable)."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 5000}}},
        {"$project": {"_id": 0, "o_orderkey": 1}},
        {"$unionWith": {"coll": "customer", "pipeline": [
            {"$project": {"_id": 0, "o_orderkey": {
                "$add": ["$c_custkey", 10000000]}}}]}},
        {"$bucketAuto": {"groupBy": "$o_orderkey", "buckets": 4,
                         "output": {"n": {"$sum": 1}}}},
        {"$project": {"_id": 0, "lo": "$_id.min", "hi": "$_id.max",
                      "n": 1}},
    ], catalog_tables=("customer",))


_ORACLE_UNION_BUCKETS = """
WITH u AS (
  SELECT o_orderkey FROM orders WHERE o_orderkey <= 5000
  UNION ALL
  SELECT c_custkey + 10000000 FROM customer
), b AS (
  SELECT o_orderkey, ntile(4) OVER (ORDER BY o_orderkey) AS bk FROM u
)
SELECT min(o_orderkey)::BIGINT AS lo, max(o_orderkey)::BIGINT AS hi,
       count(*)::BIGINT AS n
FROM b GROUP BY bk
"""


def q_linear_fill(spark, sf_dir):
    """$fill method:linear (Mongo interpolation): daily per-user
    averages densified then linearly interpolated across the holes —
    prev + slope*dt over the day key, no extrapolation at the ends."""
    day_ns = 86400 * 1_000_000_000
    return _pipe(spark, sf_dir, "events", [
        {"$match": {"user_id": {"$lt": 12}}},
        {"$group": {
            "_id": {"uid": "$user_id",
                    "day": {"$toLong": {"$round": [{"$divide": [
                        {"$subtract": ["$ts_nanos",
                                       {"$mod": ["$ts_nanos", day_ns]}]},
                        day_ns]}, 0]}}},
            "avg_v": {"$avg": "$value"},
        }},
        {"$project": {"_id": 0, "uid": "$_id.uid", "day": "$_id.day",
                      "avg_v": {"$round": ["$avg_v", 4]}}},
        {"$densify": {"field": "day", "partitionByFields": ["uid"],
                      "range": {"step": 1, "bounds": "partition"}}},
        {"$fill": {"partitionByFields": ["uid"], "sortBy": {"day": 1},
                   "output": {"avg_v": {"method": "linear"}}}},
        {"$project": {"uid": 1, "day": 1,
                      "avg_v": {"$round": ["$avg_v", 6]}}},
    ])


_ORACLE_LINEAR_FILL = """
WITH rolled AS (
  SELECT user_id AS uid,
         epoch_ns(ts) // (86400 * 1000000000::BIGINT) AS day,
         round(avg(value), 4) AS avg_v
  FROM events WHERE user_id < 12 GROUP BY 1, 2
), bounds AS (
  SELECT uid, min(day) AS lo, max(day) AS hi FROM rolled GROUP BY uid
), grid AS (
  SELECT uid, unnest(generate_series(lo, hi)) AS day FROM bounds
), dense AS (
  SELECT g.uid, g.day, r.avg_v
  FROM grid g LEFT JOIN rolled r ON g.uid = r.uid AND g.day = r.day
), w AS (
  SELECT uid, day, avg_v,
         last_value(avg_v IGNORE NULLS) OVER (
           PARTITION BY uid ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         last_value(CASE WHEN avg_v IS NOT NULL THEN day END
                    IGNORE NULLS) OVER (
           PARTITION BY uid ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
         first_value(avg_v IGNORE NULLS) OVER (
           PARTITION BY uid ORDER BY day
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN avg_v IS NOT NULL THEN day END
                     IGNORE NULLS) OVER (
           PARTITION BY uid ORDER BY day
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
  FROM dense
)
SELECT uid, day,
       round(CASE WHEN avg_v IS NOT NULL THEN avg_v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                  THEN pv + (nv - pv) * (day - pt) / (nt - pt)
                  ELSE NULL END, 6) AS avg_v
FROM w
"""


def q_cms_merge(spark, sf_dir):
    """Count-min sketch MERGEABILITY under the oracle: sketch the even
    and odd document shards separately, cell-wise merge, and the result
    must equal the whole-corpus cells the oracle computes directly —
    the per-shard/per-day aggregation property a 100 TB token census
    depends on, hash-verified."""
    from pincette_json_streams_spark.functions.profiling import (
        cms_merge, cms_sketch,
    )
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(BPE_TOKEN_RE), F.lit(0)
        )).alias("token"),
    )
    even = cms_sketch(
        toks.filter(F.col("doc_id") % 2 == 0), "token", 4, 256)
    odd = cms_sketch(
        toks.filter(F.col("doc_id") % 2 == 1), "token", 4, 256)
    return cms_merge(even, odd).select(
        F.col("d").cast("long").alias("d"),
        F.col("b").cast("long").alias("b"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def _oracle_cms_merge():
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}'))
    AS token
  FROM documents
)
SELECT t.d::BIGINT AS d,
       (('0x' || substr(md5('cms' || t.d || ':' || token), 1, 15))
          ::BIGINT % 256)::BIGINT AS b,
       count(*)::BIGINT AS cnt
FROM toks, unnest([0, 1, 2, 3]) AS t(d)
GROUP BY 1, 2
"""


def q_graph_lookup(spark, sf_dir):
    """$graphLookup (operators/stages.py _stage_graph_lookup — MongoDB's
    recursive-traversal stage, completing the lookup family): ancestor
    chains over a synthetic reports-to tree derived from customer
    (parent = custkey // 10).  BFS runs per DISTINCT seed value — one
    equi-join + one visited anti-join per hop, frontier localCheckpoint
    keeping lineage flat — so traversal cost at 100 TB scales with the
    graph, not the input rows (scalar seeds join back by value; the
    input is never tagged or materialized)."""
    cust = _t(spark, sf_dir, "customer")
    graph = cust.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.floor(F.col("c_custkey") / 10).cast("long").alias("parent"),
    )
    seed = graph.filter(F.col("id") <= 50)
    out = compile_pipeline(seed, [
        {"$graphLookup": {
            "from": "g", "startWith": "$parent",
            "connectFromField": "parent", "connectToField": "id",
            "as": "chain", "depthField": "lvl"}},
    ], PipelineContext(catalog={"g": graph}))
    # driver contract: no array-typed output columns (the external
    # canonicalizer hashes cells — lists are unhashable), so the sorted
    # ancestor chain flattens to one comma-joined string on BOTH sides
    return out.select(
        F.col("id").alias("c_custkey"),
        F.size("chain").cast("long").alias("n_ancestors"),
        F.array_join(
            F.transform(
                F.array_sort(F.transform("chain", lambda d: d["id"])),
                lambda x: x.cast("string"),
            ), ",",
        ).alias("ancestor_ids"),
        F.coalesce(
            F.array_max(F.transform("chain", lambda d: d["lvl"])),
            F.lit(-1),
        ).cast("long").alias("max_lvl"),
    )


_ORACLE_GRAPH_LOOKUP = """
WITH RECURSIVE g AS (
  SELECT c_custkey::BIGINT AS id, (c_custkey // 10)::BIGINT AS parent
  FROM customer
), anc AS (
  SELECT s.id AS start_id, p.id AS anc_id, p.parent AS next_parent,
         0 AS lvl
  FROM g s JOIN g p ON p.id = s.parent
  WHERE s.id <= 50
  UNION
  -- custkey 0 is its own parent: the lvl column would keep such a
  -- self-loop "new" forever, so bound the recursion depth explicitly
  -- (the tree is <= 5 levels) and dedup to the MINIMAL lvl below —
  -- exactly the engine's visited-anti-join BFS semantics
  SELECT a.start_id, p.id, p.parent, a.lvl + 1
  FROM anc a JOIN g p ON p.id = a.next_parent
  WHERE a.lvl < 9
), dedup AS (
  SELECT start_id, anc_id, min(lvl) AS lvl
  FROM anc GROUP BY start_id, anc_id
), agg AS (
  SELECT start_id, count(*)::BIGINT AS n_ancestors,
         list_sort(list(anc_id)) AS ancestor_ids,
         max(lvl)::BIGINT AS max_lvl
  FROM dedup GROUP BY start_id
)
SELECT s.id AS c_custkey,
       coalesce(a.n_ancestors, 0)::BIGINT AS n_ancestors,
       coalesce(array_to_string(a.ancestor_ids, ','), '')
         AS ancestor_ids,
       coalesce(a.max_lvl, -1)::BIGINT AS max_lvl
FROM g s LEFT JOIN agg a ON a.start_id = s.id
WHERE s.id <= 50
"""


def q_sort_by_count(spark, sf_dir):
    """$sortByCount (operators/stages.py _stage_sort_by_count — MongoDB
    shape): one map-side-combining hash aggregate + a sort of the GROUP
    rows only; _id asc tie-break makes distributed order stable."""
    return _pipe(spark, sf_dir, "orders", [
        {"$sortByCount": "$o_orderpriority"},
    ]).select("_id", F.col("count").cast("long").alias("count"))


_ORACLE_SORT_BY_COUNT = """
SELECT o_orderpriority AS _id, count(*)::BIGINT AS count
FROM orders GROUP BY 1
"""


def q_bpe_pairs(spark, sf_dir):
    """BPE vocabulary induction, first-iteration statistics
    (functions/bpe.py): corpus word frequencies (ONE map-side-combining
    hash agg — the only pass that touches every byte at 100 TB), then
    frequency-weighted adjacent-symbol pair counts with the end-of-word
    marker, top 100 by (count desc, pair asc).  All native Columns, so
    the DuckDB oracle replays it exactly; train_bpe's first merge pick
    equals row 1 (property-tested in test_functions)."""
    from pincette_json_streams_spark.functions.bpe import (
        adjacent_pair_counts, word_frequencies,
    )
    docs = _t(spark, sf_dir, "documents")
    return (
        adjacent_pair_counts(word_frequencies(docs))
        .orderBy(F.desc("count"), "left", "right")
        .limit(100)
    )


def _oracle_bpe_pairs():
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    return f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}'))
    AS word
  FROM documents
), wf AS (
  SELECT word, count(*)::BIGINT AS freq FROM words GROUP BY word
), syms AS (
  SELECT freq, list_append(string_split(word, ''), '</w>') AS s
  FROM wf
), idx AS (
  SELECT freq, s, unnest(range(1, len(s))) AS i FROM syms
)
SELECT s[i] AS "left", s[i + 1] AS "right", sum(freq)::BIGINT AS count
FROM idx GROUP BY 1, 2
ORDER BY count DESC, "left", "right" LIMIT 100
"""


# Fixed merge table for the driver-facing encode query: trained once
# with train_bpe (n_merges=24) and frozen so the DuckDB oracle can
# replay the exact greedy encode.  Training itself stays covered by
# bpe_pairs (first-iteration statistics) and the unit tests (Sennrich
# example, round-trip property).
_BPE_FIXED_MERGES: list = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"), ("t", "</w>"),
    ("er", "</w>"), ("o", "w"), ("ow", "</w>"), ("l", "u"), ("i", "n"),
    ("y", "</w>"), ("a", "r"), ("p", "ar"), ("g", "</w>"), ("a", "s"),
    ("h", "</w>"), ("a", "</w>"), ("s", "t"), ("a", "t"), ("a", "n</w>"),
    ("c", "an</w>"), ("s", "can</w>"), ("c", "o"), ("co", "lu"),
]


def q_bpe_encode(spark, sf_dir):
    """Distributed BPE encode (functions/bpe.py bpe_encode): merge
    ranks broadcast in the Arrow UDF closure, greedy lowest-rank
    (leftmost on ties) merging with a per-batch word cache.  The merge
    table is FIXED (_BPE_FIXED_MERGES) so the oracle can replay the
    encode exactly: DuckDB runs the same greedy loop as a recursive CTE
    over the DISTINCT words (vocabulary-bounded, like the engine's word
    cache) and joins token counts back to (doc, word) multiplicities."""
    from pincette_json_streams_spark.functions.bpe import bpe_encode
    docs = _t(spark, sf_dir, "documents")
    return (
        bpe_encode(docs, _BPE_FIXED_MERGES)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.size("tokens").cast("long").alias("n_tokens"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
    )


def _oracle_bpe_encode():
    from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE
    sep = chr(31)
    keys = ", ".join(
        "'" + (l + sep + r).replace("'", "''") + "'"
        for l, r in _BPE_FIXED_MERGES
    )
    ranks = ", ".join(str(i) for i in range(len(_BPE_FIXED_MERGES)))
    # greedy encode as a recursive CTE: every step merges the leftmost
    # occurrence of the lowest-rank adjacent pair (exactly
    # bpe._encode_word); each step shortens the symbol list by one, so
    # the terminal segmentation per word is the min-length state
    return f"""
WITH RECURSIVE dw AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{BPE_TOKEN_RE}')) AS w
  FROM documents
), wc AS (
  SELECT doc_id, w, count(*) AS cnt FROM dw GROUP BY doc_id, w
), vocab AS (
  SELECT DISTINCT w FROM wc
), enc AS (
  SELECT w, list_append(string_split(w, ''), '</w>') AS s FROM vocab
  UNION ALL
  SELECT w, s[1:bi - 1] || [s[bi] || s[bi + 1]] || s[bi + 2:]
  FROM (
    SELECT w, s, list_position(rk, list_min(rk)) AS bi,
           list_min(rk) AS bmin
    FROM (
      SELECT w, s,
             [coalesce(map_extract(
                MAP([{keys}], [{ranks}]),
                s[i] || chr(31) || s[i + 1])[1], 999999)
              for i in range(1, len(s))] AS rk
      FROM enc WHERE len(s) > 1
    )
  ) WHERE bmin < 999999
), toks AS (
  SELECT w, min(len(s))::BIGINT AS n_toks FROM enc GROUP BY w
)
SELECT d.doc_id::BIGINT AS doc_id,
       coalesce(sum(t.n_toks * c.cnt), 0)::BIGINT AS n_tokens,
       d.n_chars::BIGINT AS n_chars
FROM documents d
LEFT JOIN wc c ON c.doc_id = d.doc_id
LEFT JOIN toks t ON t.w = c.w
GROUP BY d.doc_id, d.n_chars
"""


def q_bigram_lm(spark, sf_dir):
    """Interpolated bigram LM scoring (functions/text.py
    bigram_logprob): unigram vocab + pruned bigram table, positional
    token stream joining both, one doc-id shuffle for the mean.  The
    perplexity-proxy upgrade over lm_score that catches scrambled-word
    soup."""
    from pincette_json_streams_spark.functions.text import bigram_logprob
    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs, lam=0.75, min_count=2)


_ORACLE_BIGRAM_LM = f"""
WITH ws AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS s FROM documents
), pos AS (
  SELECT doc_id, s, unnest(range(1, len(s) + 1)) AS i FROM ws
), tok AS (
  SELECT doc_id, s[i] AS w,
         CASE WHEN i > 1 THEN s[i - 1] END AS p
  FROM pos
), uni AS (
  SELECT w, count(*) AS c FROM tok GROUP BY w
), tot AS (
  SELECT sum(c) AS t FROM uni
), bi AS (
  SELECT p, w, count(*) AS c_pw FROM tok WHERE p IS NOT NULL
  GROUP BY p, w HAVING count(*) >= 2
)
SELECT t.doc_id,
       round(avg(CASE WHEN t.p IS NULL
                 THEN ln(u.c::DOUBLE / (SELECT tt.t FROM tot tt))
                 ELSE ln(0.75 * coalesce(b.c_pw::DOUBLE / pu.c, 0)
                         + 0.25 * (u.c::DOUBLE
                                   / (SELECT tt.t FROM tot tt)))
                 END), 6) AS mean_logprob,
       count(*)::BIGINT AS n_tokens
FROM tok t
JOIN uni u ON u.w = t.w
LEFT JOIN uni pu ON pu.w = t.p
LEFT JOIN bi b ON b.p = t.p AND b.w = t.w
GROUP BY t.doc_id
"""


def q_geo_near(spark, sf_dir):
    """$geoNear (operators/stages.py _stage_geo_near): haversine-meters
    proximity search over synthesized [lon, lat] points, maxDistance
    scan-side filter, nearest-first sort of the filtered neighborhood
    only.  Pure codegen trig — the DuckDB oracle replays the exact
    formula; distances rounded to 10 m so libm ulp noise can't flip the
    hash."""
    cust = _t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.array(
            (F.col("c_custkey") % 360 - 180 + 0.5).cast("double"),
            (F.col("c_custkey") % 170 - 85 + 0.5).cast("double"),
        ).alias("location"),
    )
    out = compile_pipeline(pts, [
        {"$geoNear": {
            "near": [4.3517, 50.8466], "distanceField": "d",
            "key": "location", "maxDistance": 5_000_000}},
    ], PipelineContext())
    return out.select(
        "c_custkey",
        F.round(F.col("d") / 1000.0, 2).alias("km"),
    )


_ORACLE_GEO_NEAR = """
WITH pts AS (
  SELECT c_custkey::BIGINT AS c_custkey,
         (c_custkey % 360 - 180 + 0.5)::DOUBLE AS lon,
         (c_custkey % 170 - 85 + 0.5)::DOUBLE AS lat
  FROM customer
), d AS (
  SELECT c_custkey,
         2 * 6378137.0 * asin(sqrt(
             pow(sin(radians(lat - 50.8466) / 2), 2)
             + cos(radians(50.8466)) * cos(radians(lat))
               * pow(sin(radians(lon - 4.3517) / 2), 2))) AS m
  FROM pts
)
SELECT c_custkey, round(m / 1000.0, 2) AS km
FROM d WHERE m <= 5000000
"""


def q_date_parts(spark, sf_dir):
    """Canonical MongoDB date-part operator gallery ($year..$isoWeek,
    Sunday-based $week, ISO triple, $dateFromParts round-trip) over
    synthesized instants — all native Column date functions in one
    codegen pass."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 20000}}},
        {"$addFields": {"t": {"$dateAdd": {
            "startDate": "$o_orderdate", "unit": "second",
            "amount": {"$mod": ["$o_orderkey", 90061]}}}}},
        {"$project": {
            "_id": 0, "o_orderkey": 1,
            "y": {"$toLong": {"$year": "$t"}},
            "mo": {"$toLong": {"$month": "$t"}},
            "dm": {"$toLong": {"$dayOfMonth": "$t"}},
            "h": {"$toLong": {"$hour": "$t"}},
            "mi": {"$toLong": {"$minute": "$t"}},
            "s": {"$toLong": {"$second": "$t"}},
            "ms": {"$toLong": {"$millisecond": "$t"}},
            "dw": {"$toLong": {"$dayOfWeek": "$t"}},
            "dy": {"$toLong": {"$dayOfYear": "$t"}},
            "wk": {"$toLong": {"$week": "$t"}},
            "iw": {"$toLong": {"$isoWeek": "$t"}},
            "iwy": {"$toLong": {"$isoWeekYear": "$t"}},
            "idw": {"$toLong": {"$isoDayOfWeek": "$t"}},
            "rt": {"$dateFromParts": {
                "year": {"$year": "$t"}, "month": {"$month": "$t"},
                "day": {"$dayOfMonth": "$t"}, "hour": {"$hour": "$t"},
                "minute": {"$minute": "$t"},
                "second": {"$second": "$t"}}},
        }},
    ])


_ORACLE_DATE_PARTS = """
WITH t AS (
  SELECT o_orderkey,
         o_orderdate::TIMESTAMP
           + (o_orderkey % 90061) * INTERVAL 1 SECOND AS ts
  FROM orders WHERE o_orderkey <= 20000
), w AS (
  SELECT *,
         dayofyear(ts) - 1 AS doy0,
         (8 - (dayofweek(date_trunc('year', ts)) + 1)) % 7 AS off
  FROM t
)
SELECT o_orderkey,
       year(ts)::BIGINT AS y, month(ts)::BIGINT AS mo,
       day(ts)::BIGINT AS dm, hour(ts)::BIGINT AS h,
       minute(ts)::BIGINT AS mi,
       extract(second FROM ts)::BIGINT AS s,
       (epoch_ms(ts) % 1000)::BIGINT AS ms,
       (dayofweek(ts) + 1)::BIGINT AS dw,
       dayofyear(ts)::BIGINT AS dy,
       (CASE WHEN doy0 < off THEN 0
             ELSE (doy0 - off) // 7 + 1 END)::BIGINT AS wk,
       weekofyear(ts)::BIGINT AS iw,
       isoyear(ts)::BIGINT AS iwy,
       isodow(ts)::BIGINT AS idw,
       strftime(date_trunc('second', ts),
                '%Y-%m-%dT%H:%M:%S') || 'Z' AS rt
FROM w
"""


def q_window_modern(spark, sf_dir):
    """Mongo 5.x window-only operators in $windowFields
    (operators/stages.py _window_special): exact median/percentile,
    covariance pop/samp, $derivative over a 2-doc frame, trapezoidal
    $integral, recursive $expMovingAvg (codegen fold over the
    cumulative frame list — no UDF), $locf and no-extrapolation
    $linearFill.  One shared window family = a single hash-partition
    exchange; partitions are order dates (small, bounding the
    O(history) EMA fold)."""
    orders = _t(spark, sf_dir, "orders").where("o_orderkey <= 20000")
    df = orders.select(
        F.col("o_orderdate").alias("pd"),
        F.col("o_orderkey").cast("long").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderkey") % 3 == 2, None)
         .otherwise(F.col("o_totalprice")).alias("g"),
    )
    out = compile_pipeline(df, [
        {"$windowFields": {
            "partitionBy": "$pd", "sortBy": {"k": 1},
            "output": {
                "med": {"$median": {"input": "$v"}},
                "pct": {"$percentile": {"input": "$v",
                                        "p": [0.25, 0.75]}},
                "cov": {"$covariancePop": ["$k", "$v"]},
                "covs": {"$covarianceSamp": ["$k", "$v"]},
                "slope": {"$derivative": {"input": "$v"},
                          "window": {"documents": [-1, 0]}},
                "area": {"$integral": {"input": "$v"}},
                "ema": {"$expMovingAvg": {"input": "$v",
                                          "alpha": 0.5}},
                "f": {"$locf": "$g"},
                "lin": {"$linearFill": "$g"},
            }}},
    ], PipelineContext())
    # floor-based rounding: Spark's round() is exact BigDecimal while
    # DuckDB's scales in doubles — at half-way boundaries (e.g. an EMA
    # of ...41874999998 whose *1e4 lands exactly on .5) they disagree.
    # floor(x*1e4 + 0.5)/1e4 runs the SAME double ops in both engines.
    def r(c, s=10000.0):
        col = c if isinstance(c, F.Column) else F.col(c)
        return F.floor(col * s + 0.5) / s
    # covariance/integral magnitudes are ~1e8-1e9 and the two engines'
    # accumulation algorithms agree only to ~1e-12 relative — decimals
    # there are noise; report them floored to thousands (grid far above
    # the cross-engine noise floor)
    # driver contract: no array output columns — the $percentile pair
    # splits into p25/p75 scalars (same values, hashable cells)
    return out.select(
        F.col("k").alias("o_orderkey"),
        r("med").alias("med"),
        r(F.element_at("pct", 1)).alias("p25"),
        r(F.element_at("pct", 2)).alias("p75"),
        F.floor(F.col("cov") / 1000 + 0.5).cast("long").alias("cov_k"),
        F.floor(F.col("covs") / 1000 + 0.5).cast("long").alias("covs_k"),
        r("slope", 1e6).alias("slope"),
        F.floor(F.col("area") / 1000 + 0.5).cast("long").alias("area_k"),
        r("ema").alias("ema"),
        r("f").alias("f"), r("lin").alias("lin"),
    )


_ORACLE_WINDOW_MODERN = """
WITH d AS (
  SELECT o_orderdate AS pd, o_orderkey AS k, o_totalprice AS v,
         CASE WHEN o_orderkey % 3 = 2 THEN NULL
              ELSE o_totalprice END AS g
  FROM orders WHERE o_orderkey <= 20000
), l1 AS (
  SELECT pd, k, v, g,
    (v - lag(v) OVER o) / nullif(k - lag(k) OVER o, 0) AS slope,
    (k - lag(k) OVER o) * (v + lag(v) OVER o) / 2 AS trap,
    list_reduce(list(v) OVER (o ROWS UNBOUNDED PRECEDING),
                (acc, x) -> 0.5 * x + 0.5 * acc) AS ema,
    last_value(g IGNORE NULLS) OVER (o ROWS UNBOUNDED PRECEDING) AS pv,
    last_value(CASE WHEN g IS NOT NULL THEN k END IGNORE NULLS)
      OVER (o ROWS UNBOUNDED PRECEDING) AS pk,
    first_value(g IGNORE NULLS)
      OVER (o ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    first_value(CASE WHEN g IS NOT NULL THEN k END IGNORE NULLS)
      OVER (o ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nk
  FROM d WINDOW o AS (PARTITION BY pd ORDER BY k)
), l2 AS (
  SELECT pd, k, slope, ema, pv AS f,
    quantile_cont(v, 0.5) OVER p AS med,
    quantile_cont(v, [0.25, 0.75]) OVER p AS pct,
    covar_pop(k, v) OVER p AS cov,
    covar_samp(k, v) OVER p AS covs,
    coalesce(sum(trap) OVER p, 0) AS area,
    CASE WHEN g IS NOT NULL THEN g
         WHEN pv IS NOT NULL AND nv IS NOT NULL AND nk <> pk
         THEN pv + (nv - pv) * (k - pk) / (nk - pk)
         WHEN pv IS NOT NULL AND nv IS NOT NULL THEN pv END AS lin
  FROM l1 WINDOW p AS (PARTITION BY pd)
)
SELECT k AS o_orderkey,
       floor(med * 10000 + 0.5) / 10000 AS med,
       floor(pct[1] * 10000 + 0.5) / 10000 AS p25,
       floor(pct[2] * 10000 + 0.5) / 10000 AS p75,
       floor(cov / 1000 + 0.5)::BIGINT AS cov_k,
       floor(covs / 1000 + 0.5)::BIGINT AS covs_k,
       floor(slope * 1000000 + 0.5) / 1000000 AS slope,
       floor(area / 1000 + 0.5)::BIGINT AS area_k,
       floor(ema * 10000 + 0.5) / 10000 AS ema,
       floor(f * 10000 + 0.5) / 10000 AS f,
       floor(lin * 10000 + 0.5) / 10000 AS lin
FROM l2
"""


def q_json_schema(spark, sf_dir):
    """$jsonSchema query operator (operators/match.py — MongoDB's
    draft-4 subset): type keywords resolve statically from the Spark
    schema, value keywords compile to plain codegen predicates the
    oracle replays as a WHERE clause."""
    return _pipe(spark, sf_dir, "part", [
        {"$match": {"$jsonSchema": {
            "required": ["p_name", "p_retailprice"],
            "properties": {
                "p_retailprice": {"type": "number", "minimum": 950,
                                  "maximum": 1500,
                                  "exclusiveMaximum": True},
                "p_size": {"bsonType": "int", "multipleOf": 5},
                "p_name": {"type": "string", "minLength": 10,
                           "pattern": "^[a-n]"},
            },
            "anyOf": [
                {"properties": {"p_type": {"enum": ["ECONOMY",
                                                    "PROMO"]}},
                 "required": ["p_type"]},
                {"properties": {"p_brand": {"pattern": "#1[0-9]$"}},
                 "required": ["p_brand"]},
            ]}}},
        {"$project": {"_id": 0, "p_partkey": 1, "p_name": 1,
                      "p_size": 1, "p_type": 1, "p_brand": 1}},
    ])


_ORACLE_JSON_SCHEMA = """
SELECT p_partkey, p_name, p_size, p_type, p_brand
FROM part
WHERE p_name IS NOT NULL AND p_retailprice IS NOT NULL
  AND (p_retailprice IS NULL
       OR (p_retailprice >= 950 AND p_retailprice < 1500))
  AND (p_size IS NULL OR p_size % 5 = 0)
  AND (p_name IS NULL
       OR (len(p_name) >= 10 AND regexp_matches(p_name, '^[a-n]')))
  AND ((p_type IS NOT NULL AND p_type IN ('ECONOMY', 'PROMO'))
       OR (p_brand IS NOT NULL
           AND regexp_matches(p_brand, '#1[0-9]$')))
"""


def q_emb_moments(spark, sf_dir):
    """Embedding first/second moments (functions/similarity.py
    embedding_moments — the treeAggregate shape: one Arrow partial per
    partition, bounded driver reduce, no shuffle).  Output: per-dim
    mean (round 6) + count; the oracle replays it with unnest +
    avg.  The covariance half of the same pass is locked against
    numpy.cov in tests (eigendecomposition is not SQL)."""
    from pincette_json_streams_spark.functions.similarity import (
        embedding_moments,
    )
    emb = _t(spark, sf_dir, "embeddings")
    n, mean, _cov = embedding_moments(emb)
    return spark.createDataFrame(
        [(i + 1, int(n), round(float(m), 6))
         for i, m in enumerate(mean)],
        "dim long, n long, mean_r double",
    )


_ORACLE_EMB_MOMENTS = """
WITH u AS (
  SELECT unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings WHERE embedding IS NOT NULL
)
SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n,
       round(avg(x), 6) AS mean_r
FROM u GROUP BY dim
"""


def q_emb_pca(spark, sf_dir):
    """PCA projection correctness via rotation invariance
    (functions/similarity.py pca_project): moments -> driver eigh on
    the d x d covariance (model-bounded) -> broadcast projection in an
    Arrow map.  Eigenvectors themselves are not SQL-expressible, but
    the FULL-basis projection is an orthonormal change of basis around
    the mean, so per-vector ||proj(x)||^2 must equal
    ||x - mean||^2 — which DuckDB computes directly from the raw
    embeddings.  A wrong mean, a non-orthonormal eigh result, or a
    projection bug all break the identity per row.  The whitened /
    top-k numerical contract (numpy parity, identity covariance after
    whitening, deterministic signs) stays locked in test_functions
    TestPca."""
    from pincette_json_streams_spark.functions.similarity import (
        pca_project,
    )
    emb = _t(spark, sf_dir, "embeddings")
    # k >= d clips to the full basis; full precision so the norm
    # identity holds to ~1e-13 (floor-grid 1e-4 is far above the noise)
    out = pca_project(emb, 4096, whiten=False, round_decimals=None)
    return out.where(F.col("pca").isNotNull()).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.size("pca").cast("long").alias("n_dims"),
        F.floor(
            F.aggregate("pca", F.lit(0.0), lambda a, y: a + y * y)
            * 10000 + 0.5
        ).cast("long").alias("ss4"),
    )


_ORACLE_EMB_PCA = """
WITH u AS (
  SELECT vec_id,
         unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding)::DOUBLE AS x
  FROM embeddings WHERE embedding IS NOT NULL
), m AS (
  SELECT dim, avg(x) AS mu FROM u GROUP BY dim
)
SELECT u.vec_id::BIGINT AS vec_id,
       count(*)::BIGINT AS n_dims,
       floor(sum((x - mu) * (x - mu)) * 10000 + 0.5)::BIGINT AS ss4
FROM u JOIN m USING (dim)
GROUP BY u.vec_id
"""


def q_dedup_quality(spark, sf_dir):
    """Dedup index-quality measurement (the ann_recall analog for the
    MinHash family): exact hashed-shingle Jaccard pairs at >= 0.5 via a
    posting-list join vs the banded-LSH candidate pairs — one row of
    (n_exact, n_approx, n_common, precision, recall).  Verify-on-
    candidates makes precision 1.0 by construction; recall measures
    pure banding misses, the knob (bands x rows) every MinHash
    deployment tunes.  Both sides are deterministic md5 pipelines, so
    the oracle replays the whole measurement.  Ground truth is
    SAMPLED (doc_id < 1000): the exact side is an all-sharing-pairs
    posting join, quadratic in hot-shingle document frequency — the
    standard recall-measurement bound (measure on a sample, trust the
    estimator corpus-wide)."""
    from pincette_json_streams_spark.functions.dedup import (
        _hash_str, minhash_lsh_pairs,
    )
    from pincette_json_streams_spark.functions.text import shingles
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    sh = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(
            F.transform(shingles(F.col("text")), _hash_str)
        )).alias("s"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "s")
    b = sh.select(F.col("id").alias("id_b"), "s")
    inter = (
        a.join(b, "s").where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("i"))
    )
    exact = (
        inter.join(sizes.select(F.col("id").alias("id_a"),
                                F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("n").alias("nb")), "id_b")
        .where(
            F.round(F.col("i") / (F.col("na") + F.col("nb")
                                  - F.col("i")), 6) >= 0.5)
        .select("id_a", "id_b")
    )
    approx = minhash_lsh_pairs(docs, threshold=0.5) \
        .select("id_a", "id_b")
    common = exact.join(approx, ["id_a", "id_b"])
    ne, na_, nc = exact.count(), approx.count(), common.count()
    return spark.createDataFrame(
        [(int(ne), int(na_), int(nc),
          round(nc / na_, 4) if na_ else None,
          round(nc / ne, 4) if ne else None)],
        "n_exact long, n_approx long, n_common long, "
        "precision double, recall double",
    )


def _oracle_dedup_quality():
    from pincette_json_streams_spark.functions.dedup import _P
    k = 9
    return f"""
WITH norm AS (
  SELECT doc_id AS id, {_sql_norm()} AS nm FROM documents
  WHERE doc_id < 1000
), sh AS (
  SELECT id, unnest(list_distinct(
    [('0x' || substr(md5(x), 1, 8))::BIGINT % {_P}
     for x in list_distinct(
       [substr(nm, i, {k})
        for i in range(1, greatest(len(nm) - {k - 1}, 1) + 1)])]
  )) AS s FROM norm
), sizes AS (
  SELECT id, count(*) AS n FROM sh GROUP BY id
), inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY 1, 2
), exact AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE round(i::DOUBLE / (sa.n + sb.n - i), 6) >= 0.5
), approx AS (
  SELECT id_a, id_b FROM ({{minhash}})
  WHERE id_a < 1000 AND id_b < 1000
), common AS (
  SELECT id_a, id_b FROM exact INTERSECT SELECT id_a, id_b FROM approx
)
SELECT (SELECT count(*) FROM exact)::BIGINT AS n_exact,
       (SELECT count(*) FROM approx)::BIGINT AS n_approx,
       (SELECT count(*) FROM common)::BIGINT AS n_common,
       CASE WHEN (SELECT count(*) FROM approx) > 0 THEN
         round((SELECT count(*) FROM common)::DOUBLE
               / (SELECT count(*) FROM approx), 4) END AS precision,
       CASE WHEN (SELECT count(*) FROM exact) > 0 THEN
         round((SELECT count(*) FROM common)::DOUBLE
               / (SELECT count(*) FROM exact), 4) END AS recall
""".replace("{minhash}", _oracle_minhash())


def q_counter_rate(spark, sf_dir):
    """PromQL-style counter increase/rate with reset handling
    (functions/timeseries.py counter_increase): per-user lag steps
    (reset -> the full restarted value counts as growth), one window +
    one hash agg sharing a single exchange."""
    from pincette_json_streams_spark.functions.timeseries import (
        counter_increase,
    )
    ev = _t(spark, sf_dir, "events")
    out = counter_increase(ev, "user_id", "ts_nanos", "value",
                           tiebreak=("event_id",))
    return out.select(
        "user_id", "n_samples", "n_resets",
        F.round("increase", 4).alias("increase"),
        (F.col("span") / 1_000_000_000).cast("long").alias("span_s"),
        F.round(F.col("rate") * 1_000_000_000, 6).alias("rate_per_s"),
    )


_ORACLE_COUNTER_RATE = """
WITH s AS (
  SELECT user_id, epoch_ns(ts) AS tns, value,
         lag(value) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), stepped AS (
  SELECT user_id, tns,
         CASE WHEN prev IS NULL THEN NULL
              WHEN value >= prev THEN value - prev
              ELSE value END AS step,
         CASE WHEN prev IS NOT NULL AND value < prev
              THEN 1 ELSE 0 END AS reset
  FROM s
), agg AS (
  SELECT user_id, count(*)::BIGINT AS n_samples,
         sum(reset)::BIGINT AS n_resets,
         sum(step) AS increase,
         max(tns) - min(tns) AS span
  FROM stepped GROUP BY user_id
)
SELECT user_id, n_samples, n_resets,
       round(increase, 4) AS increase,
       (span // 1000000000)::BIGINT AS span_s,
       CASE WHEN span > 0 THEN
         round(increase / span * 1000000000, 6) END AS rate_per_s
FROM agg
"""


def q_lookup_topn(spark, sf_dir):
    """Mongo 5.0 concise \\$lookup (localField/foreignField + pipeline:
    leading \\$match + \\$sort + \\$limit): top-2 open orders per
    customer — decomposed to ONE window over the foreign side
    (WindowGroupLimit prunes below the shuffle), never a per-left-row
    regroup."""
    out = _pipe(spark, sf_dir, "customer", [
        {"$match": {"c_custkey": {"$lte": 300}}},
        {"$lookup": {
            "from": "orders", "localField": "c_custkey",
            "foreignField": "o_custkey", "as": "top",
            "pipeline": [
                {"$match": {"o_orderstatus": "O"}},
                {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                {"$limit": 2}]}},
    ], catalog_tables=("orders",))
    # driver contract: no array output columns — the ranked key list
    # flattens to one comma-joined string on BOTH sides
    return out.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.size("top").cast("long").alias("n_top"),
        F.array_join(
            F.transform("top", lambda d: d["o_orderkey"].cast("string")),
            ",",
        ).alias("top_keys"),
        F.round(
            F.coalesce(
                F.aggregate("top", F.lit(0.0),
                            lambda a, d: a + d["o_totalprice"]),
                F.lit(0.0)), 2).alias("top_total"),
    )


_ORACLE_LOOKUP_TOPN = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_orderstatus = 'O'
), top2 AS (
  SELECT o_custkey,
         count(*)::BIGINT AS n_top,
         list(o_orderkey ORDER BY rn) AS top_keys,
         round(sum(o_totalprice), 2) AS top_total
  FROM ranked WHERE rn <= 2 GROUP BY o_custkey
)
SELECT c.c_custkey::BIGINT AS c_custkey,
       coalesce(t.n_top, 0)::BIGINT AS n_top,
       coalesce(array_to_string(t.top_keys, ','), '') AS top_keys,
       coalesce(t.top_total, 0) AS top_total
FROM customer c LEFT JOIN top2 t ON t.o_custkey = c.c_custkey
WHERE c.c_custkey <= 300
"""


def q_rollup_revenue(spark, sf_dir):
    """$rollup ext (operators/stages.py — native Spark grouping sets
    exposed to the pipeline language): hierarchical subtotals over
    (priority, status) in ONE pass; `_grouping` discriminates levels."""
    out = _pipe(spark, sf_dir, "orders", [
        {"$rollup": {
            "_id": {"prio": "$o_orderpriority", "st": "$o_orderstatus"},
            "n": {"$count": {}},
            "rev": {"$sum": "$o_totalprice"}}},
    ])
    return out.select(
        F.col("_id.prio").alias("prio"), F.col("_id.st").alias("st"),
        "_grouping", F.col("n").cast("long").alias("n"),
        F.round("rev", 2).alias("rev"),
    )


_ORACLE_ROLLUP = """
SELECT o_orderpriority AS prio, o_orderstatus AS st,
       (2 * grouping(o_orderpriority)
        + grouping(o_orderstatus))::BIGINT AS _grouping,
       count(*)::BIGINT AS n,
       round(sum(o_totalprice), 2) AS rev
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_window_timerange(spark, sf_dir):
    """Mongo time-range windows ({"range": [-1, "current"], "unit":
    "hour"} in $setWindowFields — operators/stages.py frame_of): the
    trailing-hour count/sum per user, framed by wall-clock distance on
    the epoch-millis sort key (Spark rangeBetween).  The oracle frames
    on the SAME truncated millis (epoch_ns // 1e6) so a sub-millisecond
    nanosecond residue can never flip a boundary row between engines."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 40)
    df = ev.select("event_id", "user_id", "ts", "value")
    out = compile_pipeline(df, [
        {"$windowFields": {
            "partitionBy": "$user_id", "sortBy": {"ts": 1},
            "output": {
                "n_1h": {"$count": {}, "window": {
                    "range": [-1, "current"], "unit": "hour"}},
                "sum_1h": {"$sum": "$value", "window": {
                    "range": [-1, "current"], "unit": "hour"}},
            }}},
    ], PipelineContext())
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("n_1h").cast("long").alias("n_1h"),
        (F.floor(F.col("sum_1h") * 10000 + 0.5) / 10000)
        .alias("sum_1h"),
    )


_ORACLE_WINDOW_TIMERANGE = """
WITH e AS (
  SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS tms, value
  FROM events WHERE user_id < 40
)
SELECT event_id::BIGINT AS event_id, user_id::BIGINT AS user_id,
       (count(*) OVER w)::BIGINT AS n_1h,
       floor(sum(value) OVER w * 10000 + 0.5) / 10000 AS sum_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tms
             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
"""


def q_tz_gallery(spark, sf_dir):
    """Timezone-aware date operators (round 4): parts/format/add/trunc/
    diff computed on a zone's wall clock (operators/expressions.py
    _in_zone/_from_zone — Java zone rules) replayed by DuckDB's ICU
    timezone().  Instants pin to midday so no row lands in a DST gap or
    ambiguous hour, where engines may disambiguate differently; the
    zones transition at night."""
    return _pipe(spark, sf_dir, "orders", [
        {"$match": {"o_orderkey": {"$lte": 20000}}},
        {"$addFields": {"t": {"$dateAdd": {
            "startDate": {"$dateAdd": {
                "startDate": "$o_orderdate", "unit": "hour",
                "amount": 12}},
            "unit": "second",
            "amount": {"$mod": ["$o_orderkey", 3600]}}}}},
        {"$project": {
            "_id": 0, "o_orderkey": 1,
            "h_br": {"$toLong": {"$hour": {
                "date": "$t", "timezone": "Europe/Brussels"}}},
            "d_ny": {"$toLong": {"$dayOfMonth": {
                "date": "$t", "timezone": "America/New_York"}}},
            "s_kol": {"$dateToString": {
                "date": "$t", "format": "%Y-%m-%d %H:%M",
                "timezone": "Asia/Kolkata"}},
            "add1d": {"$dateAdd": {
                "startDate": "$t", "unit": "day", "amount": 1,
                "timezone": "Europe/Brussels"}},
            "trunc_ny": {"$dateTrunc": {
                "date": "$t", "unit": "day",
                "timezone": "America/New_York"}},
            "dd_br": {"$toLong": {"$dateDiff": {
                "startDate": "$t",
                "endDate": {"$dateFromString": {
                    "dateString": "1998-12-01T00:00:00Z"}},
                "unit": "day", "timezone": "Europe/Brussels"}}},
        }},
    ])


_ORACLE_TZ_GALLERY = """
WITH t AS (
  SELECT o_orderkey,
         timezone('UTC',
                  o_orderdate::TIMESTAMP + INTERVAL 12 HOUR
                  + (o_orderkey % 3600) * INTERVAL 1 SECOND) AS inst
  FROM orders WHERE o_orderkey <= 20000
), loc AS (
  SELECT o_orderkey, inst,
         timezone('Europe/Brussels', inst) AS br,
         timezone('America/New_York', inst) AS ny,
         timezone('Asia/Kolkata', inst) AS kol
  FROM t
)
SELECT o_orderkey,
       hour(br)::BIGINT AS h_br,
       day(ny)::BIGINT AS d_ny,
       strftime(kol, '%Y-%m-%d %H:%M') AS s_kol,
       strftime(timezone('UTC', timezone('Europe/Brussels',
                br + INTERVAL 1 DAY)),
                '%Y-%m-%dT%H:%M:%S') || 'Z' AS add1d,
       strftime(timezone('UTC', timezone('America/New_York',
                date_trunc('day', ny))),
                '%Y-%m-%dT%H:%M:%S') || 'Z' AS trunc_ny,
       date_diff('day', br,
                 timezone('Europe/Brussels',
                          timezone('UTC',
                                   TIMESTAMP '1998-12-01 00:00:00')))
         ::BIGINT AS dd_br
FROM loc
"""


def q_merge_modes(spark, sf_dir):
    """$merge whenMatched x whenNotMatched matrix (operators/stages.py
    _stage_merge — the Delta-MERGE-shaped batch path): one full-outer
    equi-join on the merge key per mode.  Target = customers 1..200
    (balance, seg); source = per-customer order totals for 101..300
    (balance, n) — so the matrix exercises matched overwrite
    (`replace`), matched keep (`keepExisting`), field-wise overlay
    (`merge`: source null/absent fields lose, e.g. seg survives, n
    lands), unmatched insert and unmatched discard.  All three
    post-merge tables union with a mode tag; the oracle replays each
    mode as CASE arms over the same FULL OUTER JOIN."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    tgt = cust.where(F.col("c_custkey") <= 200).select(
        F.col("c_custkey").cast("long").alias("_id"),
        F.col("c_acctbal").alias("balance"),
        F.col("c_mktsegment").alias("seg"),
    )
    src = (
        orders.where(F.col("o_custkey").between(101, 300))
        .groupBy(F.col("o_custkey").cast("long").alias("_id"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("balance"),
             F.count(F.lit(1)).cast("long").alias("n"))
    )
    outs = []
    for wm, wnm in (("replace", "insert"), ("keepExisting", "insert"),
                    ("merge", "discard")):
        pctx = PipelineContext(catalog={"tgt": tgt})
        compile_pipeline(src, [
            {"$merge": {"into": "tgt", "on": "_id",
                        "whenMatched": wm, "whenNotMatched": wnm}},
        ], pctx)
        outs.append(
            pctx.outputs["tgt"].withColumn("mode", F.lit(f"{wm}/{wnm}"))
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.select("mode", "_id", "balance", "seg",
                      F.col("n").cast("long").alias("n"))


_ORACLE_MERGE_MODES = """
WITH tgt AS (
  SELECT c_custkey::BIGINT AS _id, c_acctbal AS balance,
         c_mktsegment AS seg
  FROM customer WHERE c_custkey <= 200
), src AS (
  SELECT o_custkey::BIGINT AS _id,
         round(sum(o_totalprice), 2) AS balance, count(*)::BIGINT AS n
  FROM orders WHERE o_custkey BETWEEN 101 AND 300 GROUP BY o_custkey
), j AS (
  SELECT coalesce(s._id, t._id) AS _id,
         s._id IS NOT NULL AS sh, t._id IS NOT NULL AS th,
         s.balance AS sb, s.n AS sn, t.balance AS tb, t.seg AS tseg
  FROM src s FULL OUTER JOIN tgt t ON s._id = t._id
)
SELECT 'replace/insert' AS mode, _id,
       CASE WHEN sh AND th THEN sb WHEN th THEN tb ELSE sb END
         AS balance,
       CASE WHEN sh AND th THEN NULL WHEN th THEN tseg END AS seg,
       CASE WHEN th AND NOT sh THEN NULL ELSE sn END AS n
FROM j
UNION ALL
SELECT 'keepExisting/insert', _id,
       CASE WHEN th THEN tb ELSE sb END,
       CASE WHEN th THEN tseg END,
       CASE WHEN th THEN NULL ELSE sn END
FROM j
UNION ALL
SELECT 'merge/discard', _id,
       CASE WHEN sh AND th THEN coalesce(sb, tb)
            WHEN th THEN tb ELSE sb END,
       tseg,
       CASE WHEN sh THEN sn END
FROM j WHERE th
"""


def q_interval_join(spark, sf_dir):
    """Bucketed point-in-interval join (functions/timeseries.py
    interval_join): per-user maintenance windows (derived from
    customer) joined to events — interval side explodes to coarse
    buckets, events map to ONE bucket, equi-join + exact filter; no
    cartesian anywhere.  Oracle: DuckDB's native BETWEEN range join."""
    from pincette_json_streams_spark.functions.timeseries import (
        interval_join,
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        (F.col("ts_nanos") % 1_000_000).cast("long").alias("t"),
    )
    cust = _t(spark, sf_dir, "customer")
    iv = cust.where("c_custkey < 600").select(
        F.col("c_custkey").cast("long").alias("iid"),
        (F.col("c_custkey") % 150).cast("long").alias("user_id"),
        ((F.col("c_custkey") * 7919) % 900_000).cast("long").alias("s"),
    ).withColumn("e", F.col("s") + 120_000)
    out = interval_join(ev, iv, "t", "s", "e", by="user_id",
                        bucket=100_000)
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.countDistinct("iid").cast("long").alias("n_windows"),
        F.countDistinct("event_id").cast("long").alias("n_events"),
    )


_ORACLE_INTERVAL_JOIN = """
WITH ev AS (
  SELECT event_id, user_id, epoch_ns(ts) % 1000000 AS t FROM events
), iv AS (
  SELECT c_custkey AS iid, c_custkey % 150 AS user_id,
         (c_custkey * 7919) % 900000 AS s,
         (c_custkey * 7919) % 900000 + 120000 AS e
  FROM customer WHERE c_custkey < 600
)
SELECT ev.user_id, count(*)::BIGINT AS n_hits,
       count(DISTINCT iid)::BIGINT AS n_windows,
       count(DISTINCT event_id)::BIGINT AS n_events
FROM ev JOIN iv ON ev.user_id = iv.user_id AND ev.t BETWEEN s AND e
GROUP BY ev.user_id
"""


def q_winnow_pairs(spark, sf_dir):
    """Winnowing-fingerprint near-dup candidate pairs (Schleimer et al.
    SIGMOD 2003 / MOSS): char-8-gram hashes -> window-4 minima ->
    distinct fingerprint sets -> df-capped posting-list self-join.
    The fingerprint pass is map-only native Columns; only the
    doc-frequency agg and the fp equi-join shuffle."""
    from pincette_json_streams_spark.functions.text import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return winnow_pairs(
        docs, k=8, window=4, max_df=8, min_shared=3
    ).orderBy("doc_a", "doc_b")


_ORACLE_WINNOW_PAIRS = f"""
WITH d AS (
  SELECT doc_id, {_sql_norm()} AS norm FROM documents
), g AS (
  SELECT doc_id, norm, greatest(length(norm) - 7, 1) AS ng FROM d
), h AS (
  SELECT doc_id, ng, unnest(generate_series(1, ng)) AS i, norm FROM g
), hh AS (
  SELECT doc_id, ng, i,
         ('0x' || substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 15))::BIGINT AS h
  FROM h
), w AS (
  SELECT doc_id, i, ng,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
  FROM hh
), sel AS (
  SELECT DISTINCT doc_id, fp FROM w WHERE i <= greatest(ng - 3, 1)
), keep AS (
  SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 8
), p AS (
  SELECT s.doc_id, s.fp FROM sel s JOIN keep k USING (fp)
)
SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b,
       count(*)::BIGINT AS shared
FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
ORDER BY doc_a, doc_b
"""


_BM25_TERMS = ("spark", "table", "hash", "window", "merge")


def q_bm25_topk(spark, sf_dir):
    """BM25 ranking (Robertson probabilistic relevance, Lucene idf
    variant) of the documents table against a fixed query-term bag.
    Per-(doc,term) partials land on an integer 1e4 grid BEFORE the
    per-doc sum, so the float total is engine-order-independent; the
    corpus stats and term df frames are broadcast."""
    from pincette_json_streams_spark.functions.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    scored = bm25_scores(docs, list(_BM25_TERMS))
    return (
        scored.orderBy(F.col("score_e4").desc(), "doc_id")
        .limit(30)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "dl", "score_e4", "score",
        )
    )


def _bm25_sql_cte():
    """The WITH-body shared by the bm25_topk and hybrid_rrf oracles."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH d AS (
  SELECT doc_id, string_split({_sql_norm()}, ' ') AS ws FROM documents
), dl AS (
  SELECT doc_id, len(ws) AS dl FROM d
), corpus AS (
  SELECT count(*)::DOUBLE AS n_docs,
         sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl
  FROM dl
), tok AS (
  SELECT doc_id, unnest(ws) AS w FROM d
), tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok
  WHERE w IN ({terms}) GROUP BY doc_id, w
), dfreq AS (
  SELECT w, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY w
), parts AS (
  SELECT tf.doc_id,
         CAST(floor(
           ln(1.0 + (c.n_docs - f.df + 0.5) / (f.df + 0.5))
           * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / c.avgdl)))
           * 1e4 + 0.5) AS BIGINT) AS part_e4,
         dl.dl
  FROM tf JOIN dfreq f USING (w) JOIN dl USING (doc_id), corpus c
)"""


def _oracle_bm25():
    return _bm25_sql_cte() + """
SELECT doc_id::BIGINT AS doc_id, CAST(min(dl) AS BIGINT) AS dl,
       sum(part_e4)::BIGINT AS score_e4,
       sum(part_e4)::BIGINT / 1e4 AS score
FROM parts GROUP BY doc_id
ORDER BY score_e4 DESC, doc_id LIMIT 30
"""


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion (Cormack/Clarke/
    Buettcher SIGIR'09): the BM25 lexical top-50 for the fixed term bag
    and the exact-cosine vector top-50 around vec 7 fuse via
    rrf = sum(1e9 div (60 + rank)) — integer division, so the fusion is
    engine-exact.  Both rank lists are LIMIT-bounded BEFORE the window
    assigns ranks (the window only ever sees 50 rows — no global-sort
    scale hazard).  Output: top-10 fused docs + how many lists each hit."""
    from pincette_json_streams_spark.functions.similarity import (
        brute_force_topk, rrf_fuse,
    )
    from pincette_json_streams_spark.functions.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    lex50 = (
        bm25_scores(docs, list(_BM25_TERMS))
        .orderBy(F.col("score_e4").desc(), "doc_id").limit(50)
    )
    lex = lex50.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score_e4").desc(), "doc_id")),
    ).select(F.col("doc_id").alias("id"), "rank")
    qs = emb.filter(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("query_id"), "embedding")
    vec = brute_force_topk(emb, qs, k=50).select(
        F.col("vec_id").alias("id"), "rank")
    return (
        rrf_fuse([lex, vec])
        .orderBy(F.col("rrf").desc(), "id").limit(10)
        .select(F.col("id").cast("long").alias("id"),
                F.col("rrf").cast("long").alias("rrf"),
                F.col("n_lists").cast("long").alias("n_lists"))
    )


def _oracle_hybrid_rrf():
    return _bm25_sql_cte() + """
, scores AS (
  SELECT doc_id, sum(part_e4) AS score_e4 FROM parts GROUP BY doc_id
), lex AS (
  SELECT doc_id AS id,
         row_number() OVER (ORDER BY score_e4 DESC, doc_id) AS rank
  FROM (SELECT * FROM scores ORDER BY score_e4 DESC, doc_id LIMIT 50)
), q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 7
), vs AS (
  -- round to 6 dp like the Spark side (brute_force_topk) so near-tie
  -- cosines rank identically across engines — the standard brute-force
  -- oracle convention
  SELECT e.vec_id AS id,
         round(list_dot_product(q.qv, e.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]))), 6)
           AS cosine
  FROM embeddings e, q
), vec AS (
  SELECT id, row_number() OVER (ORDER BY cosine DESC, id) AS rank
  FROM (SELECT * FROM vs ORDER BY cosine DESC, id LIMIT 50)
), fused AS (
  SELECT id, sum(1000000000 // (60 + rank)) AS rrf,
         count(*) AS n_lists
  FROM (SELECT * FROM lex UNION ALL SELECT * FROM vec) GROUP BY id
)
SELECT id::BIGINT AS id, rrf::BIGINT AS rrf, n_lists::BIGINT AS n_lists
FROM fused ORDER BY rrf DESC, id LIMIT 10
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed-unigram
    distribution of the src0 slice vs the whole pool, per-doc
    importance log-ratio on an integer 1e4 grid (order-independent
    sum).  The 64-row bucket table is broadcast; top 40 docs by
    weight with doc_id tie-break."""
    from pincette_json_streams_spark.functions.sampling import (
        importance_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    w = importance_weights(docs, F.col("source") == "src0", buckets=64)
    return (
        w.orderBy(F.col("weight_e4").desc(), "doc_id")
        .limit(40)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_tokens", "weight_e4", "weight",
        )
    )


_ORACLE_DSIR = f"""
WITH d AS (
  SELECT doc_id, source = 'src0' AS t,
         string_split({_sql_norm()}, ' ') AS ws
  FROM documents
), tok AS (
  SELECT doc_id, t,
         ('0x' || substr(md5(w), 1, 8))::BIGINT % 64 AS b
  FROM (SELECT doc_id, t, unnest(ws) AS w FROM d)
), dist AS (
  SELECT b, sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct, count(*) AS cr
  FROM tok GROUP BY b
), tot AS (
  SELECT sum(ct)::DOUBLE AS tt, sum(cr)::DOUBLE AS tr FROM dist
), lr AS (
  SELECT b,
         CAST(floor((ln((ct + 1.0) / (tt + 64.0))
                     - ln((cr + 1.0) / (tr + 64.0))) * 1e4 + 0.5)
              AS BIGINT) AS lr_e4
  FROM dist, tot
)
SELECT doc_id::BIGINT AS doc_id, count(*)::BIGINT AS n_tokens,
       sum(lr_e4)::BIGINT AS weight_e4, sum(lr_e4)::BIGINT / 1e4 AS weight
FROM tok JOIN lr USING (b)
GROUP BY doc_id
ORDER BY weight_e4 DESC, doc_id LIMIT 40
"""


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007) per
    return flag, over two value columns at once: l_partkey lands in
    the raw alpha*m^2/Z estimator, l_suppkey (cardinality << 2.5m) in
    the linear-counting branch — both register layouts md5-derived so
    the DuckDB oracle reproduces every register.  Completes the
    mergeable-sketch family next to CMS and KMV."""
    from pincette_json_streams_spark.functions.profiling import (
        hll_distinct,
    )

    li = _t(spark, sf_dir, "lineitem")
    parts = hll_distinct(li, "l_returnflag", "l_partkey", p=9).select(
        F.lit("partkey").alias("metric"), "l_returnflag",
        "est_distinct", "sketch_m",
    )
    supps = hll_distinct(li, "l_returnflag", "l_suppkey", p=9).select(
        F.lit("suppkey").alias("metric"), "l_returnflag",
        "est_distinct", "sketch_m",
    )
    return parts.unionByName(supps).orderBy("metric", "l_returnflag")


def _oracle_hll(col: str, metric: str) -> str:
    est = "(0.7213/(1.0+1.079/512))*512*512/(zp+(512-used))"
    return f"""
  SELECT '{metric}' AS metric, g AS l_returnflag,
         CAST(floor(
           CASE WHEN {est} <= 2.5*512 AND used < 512
                THEN 512.0 * ln(512.0/(512-used))
                ELSE {est} END + 0.5) AS BIGINT) AS est_distinct,
         512 AS sketch_m
  FROM (
    SELECT g, sum(1.0/(1::BIGINT << m)) AS zp, count(*) AS used
    FROM (
      SELECT g, idx,
             max(CASE WHEN low = 0 THEN 40
                 ELSE least(51 - length(bin(low)) + 1, 40) END) AS m
      FROM (
        SELECT g, hv >> 51 AS idx, hv & ((1::BIGINT << 51) - 1) AS low
        FROM (
          SELECT l_returnflag AS g,
                 ('0x'||substr(md5(CAST({col} AS VARCHAR)),1,15))::BIGINT
                 AS hv
          FROM lineitem WHERE {col} IS NOT NULL)) GROUP BY g, idx)
    GROUP BY g)
"""


_ORACLE_HLL_DISTINCT = (
    _oracle_hll("l_partkey", "partkey")
    + " UNION ALL "
    + _oracle_hll("l_suppkey", "suppkey")
    + " ORDER BY metric, l_returnflag"
)


_PQ_SQL_BASE = """
WITH e AS (
  SELECT vec_id, i // 16 AS j, i % 16 AS t,
         CAST(floor(embedding[i+1]::DOUBLE * 1000 + 0.5) AS BIGINT) AS xe
  FROM embeddings, range(64) r(i)
), ids AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
), cb AS (
  SELECT ids.code, e.j, e.t, e.xe AS ce FROM e JOIN ids USING (vec_id)
), d AS (
  SELECT e.vec_id, e.j, cb.code,
         sum((e.xe - cb.ce) * (e.xe - cb.ce)) AS dist
  FROM e JOIN cb ON e.j = cb.j AND e.t = cb.t
  GROUP BY 1, 2, 3
), best AS (
  SELECT vec_id, j, code, dist,
         row_number() OVER (PARTITION BY vec_id, j
                            ORDER BY dist, code) AS rn
  FROM d
)
"""


def q_pq_cells(spark, sf_dir):
    """Product-quantization encode (Jegou/Douze/Schmid PAMI 2011):
    m=4 subspaces x k=16 codewords over the 64-d embeddings,
    deterministic init-from-data codebooks, every vector assigned its
    nearest codeword per subspace on an integer 1e-3 grid (engine-
    exact distances).  Output = codebook-cell occupancy (count +
    id-sum), a compact full-assignment check."""
    from pincette_json_streams_spark.functions.similarity import (
        pq_codebooks, pq_encode,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, m=4, k=16, dim=64)
    codes = pq_encode(emb, cb, m=4, dim=64)
    return (
        codes.groupBy("j", "code")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("id").cast("long").alias("sum_ids"))
        .orderBy("j", "code")
        .select(F.col("j").cast("long").alias("j"),
                F.col("code").cast("long").alias("code"), "n", "sum_ids")
    )


_ORACLE_PQ_CELLS = _PQ_SQL_BASE + """
SELECT j::BIGINT AS j, code::BIGINT AS code, count(*)::BIGINT AS n,
       sum(vec_id)::BIGINT AS sum_ids
FROM best WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_pq_adc(spark, sf_dir):
    """PQ asymmetric-distance top-20 around vec 0: corpus side touches
    only the code table, the m*k query-to-codeword distance table is
    broadcast, per-vector distance is an integer sum — the
    memory-bound ANN scan shape (codes are 4 bytes/vector here vs 256
    for raw float32)."""
    from pincette_json_streams_spark.functions.similarity import (
        pq_adc_topk, pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_codebooks(emb, m=4, k=16, dim=64)
    return pq_adc_topk(emb, cb, query_id=0, n=20, m=4, dim=64)


_ORACLE_PQ_ADC = _PQ_SQL_BASE + """
, qt AS (
  SELECT cb.j, cb.code, sum((q.xe - cb.ce) * (q.xe - cb.ce)) AS qd
  FROM e q JOIN cb ON q.j = cb.j AND q.t = cb.t
  WHERE q.vec_id = 0 GROUP BY 1, 2
)
SELECT b.vec_id::BIGINT AS vec_id, sum(qt.qd)::BIGINT AS adc
FROM best b JOIN qt ON b.j = qt.j AND b.code = qt.code
WHERE b.rn = 1
GROUP BY 1 ORDER BY adc, vec_id LIMIT 20
"""


def q_pq_refined(spark, sf_dir):
    """PQ codebook Lloyd refinement (2 fixed iterations) on top of the
    init-from-data seed, then a full re-encode: assignment is a
    broadcast map per iteration, the new codeword is the half-up
    integer mean of its members (order-independent bigint sums — the
    whole k-means loop is engine-exact), empty cells keep their old
    center.  Output = occupancy + id-sum + refined-center checksum per
    cell."""
    from pincette_json_streams_spark.functions.similarity import (
        pq_codebooks, pq_encode, pq_refine_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cb0 = pq_codebooks(emb, m=4, k=16, dim=64)
    cb = pq_refine_codebooks(emb, cb0, iters=2, m=4, dim=64)
    codes = pq_encode(emb, cb, m=4, dim=64)
    cks = cb.select(
        "j", "code",
        F.aggregate("center", F.lit(0).cast("bigint"),
                    lambda a, x: a + x).alias("sum_ce"),
    )
    return (
        codes.groupBy("j", "code")
        .agg(F.count(F.lit(1)).cast("long").alias("n"),
             F.sum("id").cast("long").alias("sum_ids"))
        .join(cks, ["j", "code"])
        .orderBy("j", "code")
        .select(F.col("j").cast("long").alias("j"),
                F.col("code").cast("long").alias("code"),
                "n", "sum_ids", F.col("sum_ce").cast("long").alias("sum_ce"))
    )


def _pq_lloyd_iter_sql(i: int) -> str:
    """One unrolled Lloyd iteration: assign against cb{i-1}, mean the
    members half-up on the integer grid, keep old centers for empty
    cells."""
    p, n = i - 1, i
    return f"""
, d{n} AS (
  SELECT e.vec_id, e.j, c.code,
         sum((e.xe - c.ce) * (e.xe - c.ce)) AS dist
  FROM e JOIN cb{p} c ON e.j = c.j AND e.t = c.t
  GROUP BY 1, 2, 3
), a{n} AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY dist, code) AS rn
    FROM d{n}) WHERE rn = 1
), m{n} AS (
  SELECT e.j, a.code, e.t,
         CAST(floor(sum(e.xe) * 1.0 / count(*) + 0.5) AS BIGINT) AS ce
  FROM e JOIN a{n} a ON e.vec_id = a.vec_id AND e.j = a.j
  GROUP BY 1, 2, 3
), cb{n} AS (
  SELECT c.j, c.code, c.t, coalesce(m.ce, c.ce) AS ce
  FROM cb{p} c LEFT JOIN m{n} m
    ON c.j = m.j AND c.code = m.code AND c.t = m.t
)"""


_ORACLE_PQ_REFINED = """
WITH e AS (
  SELECT vec_id, i // 16 AS j, i % 16 AS t,
         CAST(floor(embedding[i+1]::DOUBLE * 1000 + 0.5) AS BIGINT) AS xe
  FROM embeddings, range(64) r(i)
), ids AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
), cb0 AS (
  SELECT ids.code, e.j, e.t, e.xe AS ce FROM e JOIN ids USING (vec_id)
)""" + _pq_lloyd_iter_sql(1) + _pq_lloyd_iter_sql(2) + """
, denc AS (
  SELECT e.vec_id, e.j, c.code,
         sum((e.xe - c.ce) * (e.xe - c.ce)) AS dist
  FROM e JOIN cb2 c ON e.j = c.j AND e.t = c.t
  GROUP BY 1, 2, 3
), enc AS (
  SELECT vec_id, j, code FROM (
    SELECT vec_id, j, code,
           row_number() OVER (PARTITION BY vec_id, j
                              ORDER BY dist, code) AS rn
    FROM denc) WHERE rn = 1
), cks AS (
  SELECT j, code, sum(ce) AS sum_ce FROM cb2 GROUP BY 1, 2
)
SELECT enc.j::BIGINT AS j, enc.code::BIGINT AS code,
       count(*)::BIGINT AS n, sum(enc.vec_id)::BIGINT AS sum_ids,
       any_value(cks.sum_ce)::BIGINT AS sum_ce
FROM enc JOIN cks ON enc.j = cks.j AND enc.code = cks.code
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_bloom_prefilter(spark, sf_dir):
    """Bloom-filter join pruning (runtime-filter / sideways information
    passing — the classic 100 TB shuffle-avoidance move): build an
    m=2^18 / k=5 bloom over the keys of high-value orders, prefilter
    lineitem with k chained BROADCAST semi-joins (zero probe-side
    shuffle), then audit the filter — per returnflag: surviving rows,
    their quantity sum, and the exact false-positive row count.  The
    md5 hash family makes every false positive reproducible in SQL."""
    from pincette_json_streams_spark.functions.profiling import (
        bloom_prefilter, bloom_words,
    )

    mbits, k = 1 << 18, 5
    li = _t(spark, sf_dir, "lineitem")
    hot = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000)
    # word-folded build: one shuffle (bit_or needs no distinct pass)
    bits = bloom_words(hot, "o_orderkey", mbits=mbits, k=k)
    surv = bloom_prefilter(li, bits, "l_orderkey", mbits=mbits, k=k)
    truth = hot.select(F.col("o_orderkey").alias("l_orderkey"),
                       F.lit(1).alias("__member"))
    return (
        surv.join(F.broadcast(truth), "l_orderkey", "left")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
             F.sum(F.col("l_quantity").cast("long")).cast("long")
             .alias("sum_qty"),
             F.sum(F.when(F.col("__member").isNull(), 1).otherwise(0))
             .cast("long").alias("n_false_pos"))
        .orderBy("l_returnflag")
    )


_ORACLE_BLOOM_PREFILTER = """
WITH sel AS (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
), selh AS (
  SELECT ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT AS h
  FROM sel
), bits AS (
  SELECT DISTINCT ((h >> 30) + i * ((h % (1::BIGINT << 30)) | 1))
                  % 262144 AS pos
  FROM selh, range(5) r(i)
), keys AS (
  SELECT l_orderkey,
         ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::BIGINT AS h
  FROM (SELECT DISTINCT l_orderkey FROM lineitem)
), kp AS (
  SELECT l_orderkey,
         ((h >> 30) + i * ((h % (1::BIGINT << 30)) | 1)) % 262144 AS pos
  FROM keys, range(5) r(i)
), pass AS (
  SELECT l_orderkey FROM kp JOIN bits USING (pos)
  GROUP BY l_orderkey HAVING count(*) = 5
)
SELECT l.l_returnflag,
       count(*)::BIGINT AS n_rows,
       sum(l.l_quantity::BIGINT)::BIGINT AS sum_qty,
       sum(CASE WHEN l.l_orderkey IN (SELECT o_orderkey FROM sel)
                THEN 0 ELSE 1 END)::BIGINT AS n_false_pos
FROM lineitem l JOIN pass USING (l_orderkey)
GROUP BY 1 ORDER BY 1
"""


def q_pagerank(spark, sf_dir):
    """All-integer fixed-point PageRank (3 iterations, d=0.85) over the
    supplier<->customer bipartite multigraph induced by lineitem x
    orders — web-graph-style quality signal, the ranking sibling of the
    connected-components family.  Rank mass rides integer units of
    1e-12, damping is (85*x) div 100, dangling mass is a lazy 1-row
    broadcast — zero IEEE ops, zero per-iteration driver actions.
    Output: top-20 nodes (customers offset by 1e6)."""
    from pincette_json_streams_spark.functions.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_suppkey").alias("s"),
        (F.col("o_custkey") + 1000000).alias("c"))
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")) \
        .unionAll(pairs.select(F.col("c").alias("src"),
                               F.col("s").alias("dst")))
    pr = pagerank(edges, iters=3)
    return (
        pr.orderBy(F.col("rank").desc(), F.col("node").asc()).limit(20)
        .select(F.col("node").cast("long").alias("node"),
                F.col("rank").cast("long").alias("rank"))
    )


_PAGERANK_EDGES_SQL = """
SELECT l_suppkey AS src, o_custkey + 1000000 AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT o_custkey + 1000000 AS src, l_suppkey AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


def _oracle_pagerank() -> str:
    from pincette_json_streams_spark.functions.graph import (
        pagerank_oracle_sql,
    )

    return (
        pagerank_oracle_sql(_PAGERANK_EDGES_SQL, iters=3)
        + " ORDER BY rank DESC, node LIMIT 20"
    )


def q_ewma_drift(spark, sf_dir):
    """Per-user EWMA (half-life decay, trailing-8 frame) of the event
    value stream, reporting each user's final smoothed level — the
    engagement/metric-drift smoothing primitive.  Engine-exact: value
    on a 1e6 integer grid, powers-of-two weights, bigint sums; the one
    float op is the final division (functions/timeseries.py
    ewma_halflife)."""
    from pincette_json_streams_spark.functions.timeseries import (
        ewma_halflife,
    )

    ev = _t(spark, sf_dir, "events")
    sm = ewma_halflife(ev, order_by=["ts_nanos", "event_id"],
                       value_col="value", group_col="user_id", window=8)
    last = (
        sm.groupBy("user_id")
        .agg(F.max(F.struct("ts_nanos", "event_id", "n_in_frame",
                            "ewma_num", "ewma_den", "ewma")).alias("b"))
        .select(F.col("user_id").cast("long").alias("user_id"),
                F.col("b.n_in_frame").cast("long").alias("n_in_frame"),
                F.col("b.ewma_num").cast("long").alias("ewma_num"),
                F.col("b.ewma_den").cast("long").alias("ewma_den"),
                F.col("b.ewma").cast("long").alias("ewma"))
    )
    return last.orderBy("user_id").limit(50)


_ORACLE_EWMA = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS tns, event_id,
         CAST(floor(value::DOUBLE * 1000000 + 0.5) AS BIGINT) AS v
  FROM events
  WHERE NOT isnan(value::DOUBLE) AND abs(value::DOUBLE) != 'infinity'
), rn AS (
  SELECT user_id, tns, event_id, v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY tns, event_id) AS r
  FROM e
), terms AS (
  SELECT a.user_id, a.r,
         sum(b.v * (1::BIGINT << (b.r - greatest(1, a.r - 7))))
           AS ewma_num,
         (1::BIGINT << count(*)) - 1 AS ewma_den,
         count(*) AS n_in_frame
  FROM rn a JOIN rn b
    ON a.user_id = b.user_id AND b.r BETWEEN a.r - 7 AND a.r
  GROUP BY 1, 2
), last AS (
  SELECT user_id, max(r) AS r FROM rn GROUP BY 1
)
SELECT t.user_id::BIGINT AS user_id, t.n_in_frame::BIGINT AS n_in_frame,
       t.ewma_num::BIGINT AS ewma_num, t.ewma_den::BIGINT AS ewma_den,
       CAST(floor(t.ewma_num / t.ewma_den + 0.5) AS BIGINT) AS ewma
FROM terms t JOIN last USING (user_id, r)
ORDER BY user_id LIMIT 50
"""


def q_prefix_jaccard(spark, sf_dir):
    """Exact Jaccard similarity join with prefix filtering (PPJoin
    family, Xiao et al. WWW'08) over word-token sets: only the rarest
    |T| - ceil(t|T|) + 1 tokens of each doc are posted, so the exact
    join's candidate volume is pruned by the threshold itself — the
    zero-false-negative counterpart of MinHash-LSH.  Sets are word
    3-gram shingles (unigram Jaccard is uniformly high on a shared
    vocabulary); all threshold math is integer cross-multiplication
    (functions/dedup.py prefix_filter_pairs)."""
    from pincette_json_streams_spark.functions.dedup import (
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        prefix_filter_pairs(docs, threshold_pct=60, n=3)
        .orderBy("id_a", "id_b")
        .select(F.col("id_a").cast("long").alias("id_a"),
                F.col("id_b").cast("long").alias("id_b"),
                "inter", "uni", "jacc_e6")
    )


def _oracle_prefix_jaccard():
    return f"""
WITH w AS (
  SELECT doc_id AS id,
         list_filter(string_split({_sql_norm()}, ' '), x -> x != '')
           AS ws
  FROM documents
), toks AS (
  SELECT id,
         list_distinct(list_transform(
           range(greatest(len(ws) - 2, 0)),
           i -> array_to_string(ws[i + 1 : i + 3], ' '))) AS tok
  FROM w
  WHERE len(ws) >= 3
), ex AS (
  SELECT id, unnest(tok) AS w FROM toks
), freq AS (
  SELECT w, count(*) AS c FROM ex GROUP BY 1
), ordered AS (
  SELECT id, list(w ORDER BY c, w) AS arr, count(*) AS sz
  FROM ex JOIN freq USING (w) GROUP BY id
), pref AS (
  SELECT id, unnest(arr[1 : sz - ((60 * sz + 99) // 100) + 1]) AS w
  FROM ordered
), cand AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM pref a JOIN pref b ON a.w = b.w AND a.id < b.id
  GROUP BY 1, 2
), verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(oa.arr, ob.arr))::BIGINT AS inter,
         (oa.sz + ob.sz - len(list_intersect(oa.arr, ob.arr)))::BIGINT
           AS uni
  FROM cand c
  JOIN ordered oa ON c.id_a = oa.id
  JOIN ordered ob ON c.id_b = ob.id
)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, inter, uni,
       (inter * 1000000) // uni AS jacc_e6
FROM verified WHERE inter * 100 >= 60 * uni
ORDER BY id_a, id_b
"""


def q_hll_windowed(spark, sf_dir):
    """Time-windowed HLL rollup — the streaming distinct-count
    pattern: sketch distinct users per (event_type, day), then roll
    daily register tables up to the per-type total by register-max
    merge, WITHOUT rescanning the data.  sum(daily estimates) >=
    merged estimate (cross-day repeat visitors collapse in the merge)
    — the rollup law is in the gate because the oracle recomputes both
    levels from the same md5 registers."""
    from pincette_json_streams_spark.functions.profiling import (
        hll_estimate, hll_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts_nanos div 86400000000000")
    keyed = ev.select(
        F.concat_ws("#", "event_type", day.cast("string")).alias("g"),
        F.col("user_id").alias("u"))
    daily = hll_sketch(keyed, "g", "u", p=9)
    daily_est = hll_estimate(daily, "g", p=9).select(
        F.split("g", "#").getItem(0).alias("event_type"),
        F.col("est_distinct").alias("d_est"))
    merged = (
        daily.select(F.split("g", "#").getItem(0).alias("event_type"),
                     "idx", "m", "sketch_p")
        .groupBy("event_type", "idx")
        .agg(F.max("m").alias("m"), F.first("sketch_p").alias("sketch_p"))
    )
    merged_est = hll_estimate(merged, "event_type", p=9).select(
        "event_type", F.col("est_distinct").alias("merged_est"))
    return (
        daily_est.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
             F.sum("d_est").cast("long").alias("sum_daily_est"))
        .join(merged_est, "event_type")
        .orderBy("event_type")
        .select("event_type", "n_days", "sum_daily_est",
                F.col("merged_est").cast("long").alias("merged_est"))
    )


def _oracle_hll_windowed() -> str:
    est = ("CAST(floor(CASE WHEN "
           "(0.7213/(1.0+1.079/512))*512*512/(zp+(512-used)) <= 2.5*512 "
           "AND used < 512 THEN 512.0 * ln(512.0/(512-used)) "
           "ELSE (0.7213/(1.0+1.079/512))*512*512/(zp+(512-used)) END "
           "+ 0.5) AS BIGINT)")
    return f"""
WITH h AS (
  SELECT event_type AS et,
         epoch_ns(ts) // 86400000000000 AS day,
         ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15))::BIGINT AS hv
  FROM events WHERE user_id IS NOT NULL
), reg AS (
  SELECT et, day, hv >> 51 AS idx,
         max(CASE WHEN (hv & ((1::BIGINT << 51) - 1)) = 0 THEN 40
             ELSE least(51 - length(bin(hv & ((1::BIGINT << 51) - 1)))
                        + 1, 40) END) AS m
  FROM h GROUP BY 1, 2, 3
), daily AS (
  SELECT et, day, {est} AS d_est
  FROM (SELECT et, day, sum(1.0/(1::BIGINT << m)) AS zp,
               count(*) AS used
        FROM reg GROUP BY 1, 2)
), tot AS (
  SELECT et, {est} AS merged_est
  FROM (SELECT et, sum(1.0/(1::BIGINT << m)) AS zp, count(*) AS used
        FROM (SELECT et, idx, max(m) AS m FROM reg GROUP BY 1, 2)
        GROUP BY 1)
)
SELECT d.et AS event_type, count(*)::BIGINT AS n_days,
       sum(d.d_est)::BIGINT AS sum_daily_est,
       any_value(t.merged_est)::BIGINT AS merged_est
FROM daily d JOIN tot t USING (et)
GROUP BY 1 ORDER BY 1
"""


def q_graph_triangles(spark, sf_dir):
    """Exact triangle counting + local clustering coefficients over
    the co-ordered-parts graph (parts are adjacent when some order
    contains both): the degree-ordered 'forward' algorithm (Schank &
    Wagner 2005) enumerates each triangle once at its lowest-degree
    vertex, bounding the wedge self-join by arboricity — the shape
    that survives a power-law web graph.  All integer; coefficients on
    the 1e-6 grid (functions/graph.py).  The graph is thresholded to
    high-quantity line items (the usual co-purchase practice: the
    unthresholded graph is near-complete — avg degree 120, 41M wedges
    — and carries no signal)."""
    from pincette_json_streams_spark.functions.graph import (
        clustering_coefficients,
    )

    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity") >= 35).select("l_orderkey", "l_partkey")
    a, b = li.alias("ga"), li.alias("gb")
    edges = a.join(
        b, (F.col("ga.l_orderkey") == F.col("gb.l_orderkey"))
        & (F.col("ga.l_partkey") < F.col("gb.l_partkey"))
    ).select(F.col("ga.l_partkey").alias("src"),
             F.col("gb.l_partkey").alias("dst"))
    cc = clustering_coefficients(edges)
    return (
        cc.orderBy(F.col("triangles").desc(), "node").limit(20)
        .select(F.col("node").cast("long").alias("node"),
                F.col("deg").cast("long").alias("deg"),
                "triangles",
                F.col("coeff_e6").cast("long").alias("coeff_e6"))
    )


_ORACLE_TRIANGLES = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 35
), pe AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT a AS node FROM pe UNION ALL SELECT b FROM pe) GROUP BY 1
), o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND pe.a < pe.b)
              THEN pe.a ELSE pe.b END AS u,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND pe.a < pe.b)
              THEN pe.b ELSE pe.a END AS v
  FROM pe JOIN deg da ON pe.a = da.node JOIN deg db ON pe.b = db.node
), w AS (
  SELECT o1.u, o1.v AS x, o2.v AS y
  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v
), closing AS (
  SELECT u AS x, v AS y FROM o UNION ALL SELECT v AS x, u AS y FROM o
), tri AS (
  SELECT w.u AS n1, w.x AS n2, w.y AS n3
  FROM w JOIN closing ON w.x = closing.x AND w.y = closing.y
), tcnt AS (
  SELECT node, count(*) AS triangles FROM (
    SELECT n1 AS node FROM tri UNION ALL SELECT n2 FROM tri
    UNION ALL SELECT n3 FROM tri) GROUP BY 1
)
SELECT deg.node::BIGINT AS node, deg.d::BIGINT AS deg,
       coalesce(t.triangles, 0)::BIGINT AS triangles,
       ((2000000 * coalesce(t.triangles, 0))
        // (deg.d * (deg.d - 1)))::BIGINT AS coeff_e6
FROM deg LEFT JOIN tcnt t USING (node) WHERE deg.d >= 2
ORDER BY triangles DESC, node LIMIT 20
"""


def q_robust_outliers(spark, sf_dir):
    """Median/MAD robust z-scores over the event value stream per
    event type — the outlier gauge a corrupt spike cannot drag
    (mean/stddev have a 0% breakdown point).  Rank-based lower
    medians, sign-split integer division (Spark div truncates, DuckDB
    // floors — they disagree on negatives), everything on the 1e6
    grid (functions/profiling.py robust_zscores).  Top 20 by |z|."""
    from pincette_json_streams_spark.functions.profiling import (
        robust_zscores,
    )

    ev = _t(spark, sf_dir, "events")
    z = robust_zscores(ev, "value", "event_type", "event_id")
    return (
        z.orderBy(F.abs(F.col("z_e6")).desc(), "event_id").limit(20)
        .select("event_type",
                F.col("event_id").cast("long").alias("event_id"),
                "v", "z_e6")
    )


_ORACLE_ROBUST = """
WITH e AS (
  SELECT event_type AS g, event_id AS id,
         CAST(floor(value::DOUBLE * 1000000 + 0.5) AS BIGINT) AS v
  FROM events
  WHERE NOT isnan(value::DOUBLE) AND abs(value::DOUBLE) != 'infinity'
), rk AS (
  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS r,
         count(*) OVER (PARTITION BY g) AS n
  FROM e
), med AS (
  SELECT g, v AS med FROM rk WHERE r = (n + 1) // 2
), dev AS (
  SELECT e.g, e.id, e.v, e.v - m.med AS sd, abs(e.v - m.med) AS d
  FROM e JOIN med m ON e.g = m.g
), rk2 AS (
  SELECT g, d, row_number() OVER (PARTITION BY g ORDER BY d) AS r,
         count(*) OVER (PARTITION BY g) AS n
  FROM dev
), mad AS (
  SELECT g, d AS mad FROM rk2 WHERE r = (n + 1) // 2
)
SELECT dev.g AS event_type, dev.id::BIGINT AS event_id,
       dev.v::BIGINT AS v,
       ((CASE WHEN sd > 0 THEN 1 WHEN sd < 0 THEN -1 ELSE 0 END)
        * floor(abs(sd) * 1000000.0 / mad.mad))::BIGINT AS z_e6
FROM dev JOIN mad ON dev.g = mad.g
WHERE mad.mad > 0
ORDER BY abs(z_e6) DESC, event_id LIMIT 20
"""


def q_collocations(spark, sf_dir):
    """NPMI collocation mining (the word2vec phrase-detection pass):
    bigram + unigram hash-aggs, min_count pruning BEFORE the unigram
    joins, identically-ordered double ln on the 1e4 grid
    (functions/text.py collocations).  Top 30 phrases."""
    from pincette_json_streams_spark.functions.text import collocations

    docs = _t(spark, sf_dir, "documents")
    return (
        collocations(docs, min_count=5)
        .orderBy(F.col("npmi_e4").desc(), "w1", "w2").limit(30)
    )


_ORACLE_COLLOCATIONS = f"""
WITH ws AS (
  SELECT list_filter(string_split({_sql_norm()}, ' '), x -> x != '')
           AS w
  FROM documents
), pairs AS (
  SELECT p.w1 AS w1, p.w2 AS w2 FROM (
    SELECT unnest(list_transform(
      range(1, greatest(len(w), 1)),
      i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS p
    FROM ws)
), uni AS (
  SELECT t.w AS w, count(*) AS c
  FROM (SELECT unnest(w) AS w FROM ws) t GROUP BY 1
), totals AS (
  SELECT (SELECT sum(c) FROM uni)::BIGINT AS n,
         (SELECT count(*) FROM pairs)::BIGINT AS b
), big AS (
  SELECT w1, w2, count(*)::BIGINT AS cxy FROM pairs
  GROUP BY 1, 2 HAVING count(*) >= 5
)
SELECT big.w1, big.w2, big.cxy,
       CAST(floor(ln((big.cxy::DOUBLE * t.n * t.n)
                     / (t.b::DOUBLE * ux.c * uy.c)) * 1e4 + 0.5)
            AS BIGINT) AS pmi_e4,
       CAST(floor(ln((big.cxy::DOUBLE * t.n * t.n)
                     / (t.b::DOUBLE * ux.c * uy.c))
                  / ln(t.b::DOUBLE / big.cxy) * 1e4 + 0.5)
            AS BIGINT) AS npmi_e4
FROM big JOIN uni ux ON big.w1 = ux.w JOIN uni uy ON big.w2 = uy.w,
     totals t
ORDER BY npmi_e4 DESC, w1, w2 LIMIT 30
"""


def q_attribution(spark, sf_dir):
    """Last-touch marketing attribution: every purchase credits the
    user's most recent preceding click/view — the as-of join reused as
    a composition (one union-trick shuffle, no per-purchase range
    scan).  Touches pre-aggregated to one row per (user, instant) so
    the match is deterministic; purchase values on the cent grid."""
    from pincette_json_streams_spark.functions.timeseries import asof_join

    ev = _t(spark, sf_dir, "events")
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_nanos", "event_id",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("bigint").alias("v"))
    touch = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id", "ts_nanos")
        .agg(F.expr("max_by(event_type, event_id)").alias("channel"))
    )
    j = asof_join(purch, touch, on="ts_nanos", by="user_id",
                  as_field="touch")
    return (
        j.select(F.coalesce(F.col("touch.channel"),
                            F.lit("unattributed")).alias("channel"), "v")
        .groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_purchases"),
             F.sum("v").cast("long").alias("sum_value_e2"))
        .orderBy("channel")
    )


_ORACLE_ATTRIBUTION = """
WITH t AS (
  SELECT user_id, epoch_ns(ts) AS tns,
         arg_max(event_type, event_id) AS channel
  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2
), p AS (
  SELECT user_id, epoch_ns(ts) AS tns,
         CAST(floor(value::DOUBLE * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase'
)
SELECT coalesce(t.channel, 'unattributed') AS channel,
       count(*)::BIGINT AS n_purchases,
       sum(p.v)::BIGINT AS sum_value_e2
FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.tns >= t.tns
GROUP BY 1 ORDER BY 1
"""


def q_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per user: the median of all pairwise
    slopes over the (capped) value series — up to ~29% corrupt points
    cannot flip the trend, the regression sibling of the MAD z-score.
    Pair step bounded at max_points^2/2 per group; the median pair is
    selected by a total order, so both engines pick the identical pair
    (functions/timeseries.py theil_sen_slopes).  Top 25 rising users."""
    from pincette_json_streams_spark.functions.timeseries import (
        theil_sen_slopes,
    )

    ev = _t(spark, sf_dir, "events")
    s = theil_sen_slopes(ev, ts_col="ts_nanos", value_col="value",
                         group_col="user_id", id_col="event_id",
                         max_points=64)
    return (
        s.orderBy(F.col("slope_e6").desc(), "user_id").limit(25)
        .select(F.col("user_id").cast("long").alias("user_id"),
                "n_points", "n_pairs", "slope_e6")
    )


_ORACLE_THEIL_SEN = """
WITH e AS (
  SELECT user_id AS g, epoch_ns(ts) // 1000000000 AS t,
         CAST(floor(value::DOUBLE * 1000000 + 0.5) AS BIGINT) AS v,
         event_id AS id
  FROM events
  WHERE NOT isnan(value::DOUBLE) AND abs(value::DOUBLE) != 'infinity'
), pts AS (
  SELECT g, t, v,
         row_number() OVER (PARTITION BY g ORDER BY t, id) AS r
  FROM e QUALIFY r <= 64
), pairs AS (
  SELECT a.g, a.r AS r1, b.r AS r2,
         (b.v - a.v)::DOUBLE / (b.t - a.t) AS slope
  FROM pts a JOIN pts b
    ON a.g = b.g AND a.r < b.r AND a.t != b.t
), ranked AS (
  SELECT g, slope,
         row_number() OVER (PARTITION BY g ORDER BY slope, r1, r2)
           AS pr,
         count(*) OVER (PARTITION BY g) AS pn
  FROM pairs
), med AS (
  SELECT g, slope, pn FROM ranked WHERE pr = (pn + 1) // 2
), np AS (
  SELECT g, count(*) AS n_points FROM pts GROUP BY 1
)
SELECT med.g::BIGINT AS user_id, np.n_points::BIGINT AS n_points,
       med.pn::BIGINT AS n_pairs,
       CAST(floor(med.slope + 0.5) AS BIGINT) AS slope_e6
FROM med JOIN np ON med.g = np.g
ORDER BY slope_e6 DESC, user_id LIMIT 25
"""


def q_seasonal_profile(spark, sf_dir):
    """Seasonal baseline profile: expected event value per
    (event_type, hour-of-day) and the extreme deviations against it —
    the load/anomaly pattern behind ops dashboards and seasonal-naive
    forecasts.  All integer: values on the 1e6 grid, the baseline is
    ``sum div count`` (integer floor-mean, exact), deviations are
    plain subtractions."""
    ev = _t(spark, sf_dir, "events")
    vd = F.col("value").cast("double")
    base = ev.filter(~F.isnan(vd) & (F.abs(vd) != float("inf"))).select(
        "event_type",
        F.expr("(ts_nanos div 3600000000000) % 24").alias("hod"),
        F.floor(vd * 1e6 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    # sum(v) is non-negative here (values >= 0 by table contract), so
    # Spark's truncating div == DuckDB's flooring // ; a signed-value
    # variant would need the sign-split trick (see robust_zscores)
    prof = base.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("sum(v) div count(1)").cast("bigint").alias("baseline"))
    dev = base.join(prof, ["event_type", "hod"]).select(
        "event_type", "hod", "n", "baseline",
        (F.col("v") - F.col("baseline")).alias("__d"))
    return (
        dev.groupBy("event_type", "hod")
        .agg(F.first("n").alias("n"), F.first("baseline").alias("baseline"),
             F.max("__d").cast("long").alias("max_pos_dev"),
             F.min("__d").cast("long").alias("max_neg_dev"))
        .orderBy("event_type", "hod")
        .select("event_type", F.col("hod").cast("long").alias("hod"),
                "n", "baseline", "max_pos_dev", "max_neg_dev")
    )


_ORACLE_SEASONAL = """
WITH base AS (
  SELECT event_type,
         (epoch_ns(ts) // 3600000000000) % 24 AS hod,
         CAST(floor(value::DOUBLE * 1000000 + 0.5) AS BIGINT) AS v
  FROM events
  WHERE NOT isnan(value::DOUBLE) AND abs(value::DOUBLE) != 'infinity'
), prof AS (
  SELECT event_type, hod, count(*)::BIGINT AS n,
         (sum(v) // count(*))::BIGINT AS baseline
  FROM base GROUP BY 1, 2
)
SELECT b.event_type, b.hod::BIGINT AS hod,
       any_value(p.n) AS n, any_value(p.baseline) AS baseline,
       max(b.v - p.baseline)::BIGINT AS max_pos_dev,
       min(b.v - p.baseline)::BIGINT AS max_neg_dev
FROM base b JOIN prof p USING (event_type, hod)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_dedup_verify(spark, sf_dir):
    """Edit-distance verification of MinHash-LSH candidate pairs — the
    precision stage after the sketch recall stage (reference: near-dup
    pipelines verify candidates before acting on them).  Pairs are
    broadcast against the document scan; levenshtein runs JVM-side on
    cap-bounded normalized text (functions/dedup.py
    verify_pairs_editdist)."""
    from pincette_json_streams_spark.functions.dedup import (
        minhash_lsh_pairs, verify_pairs_editdist,
    )
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return verify_pairs_editdist(
        pairs, docs, cap=400, min_sim=0.3
    ).orderBy("id_a", "id_b")


def _oracle_dedup_verify():
    return f"""
WITH pairs AS ({_oracle_minhash()}),
n AS (
  SELECT doc_id AS id, substr({_sql_norm()}, 1, 400) AS t FROM documents
), scored AS (
  SELECT p.id_a, p.id_b,
         floor((CASE WHEN greatest(len(a.t), len(b.t)) = 0 THEN 1.0
                ELSE 1.0 - levenshtein(a.t, b.t)::DOUBLE /
                     greatest(len(a.t), len(b.t)) END) * 1e6 + 0.5) / 1e6
           AS sim
  FROM pairs p JOIN n a ON a.id = p.id_a JOIN n b ON b.id = p.id_b
)
SELECT id_a, id_b, sim FROM scored WHERE sim >= 0.3
ORDER BY id_a, id_b
"""


def q_hdr_quantiles(spark, sf_dir):
    """HDR-histogram mergeable quantile sketch (HdrHistogram bucketing:
    log-scaled buckets keyed by bit-length + top mantissa bits, bounded
    ~2^-sig_bits relative error): p50/p90/p99 of l_extendedprice per
    return flag from the sketch, all bucket math integer-exact on both
    engines (functions/profiling.py hdr_sketch/hdr_quantiles).
    Completes the mergeable sketch family: CMS = frequency, KMV/HLL =
    distinct, HDR = quantiles."""
    from pincette_json_streams_spark.functions.profiling import (
        hdr_quantiles, hdr_sketch,
    )
    li = _t(spark, sf_dir, "lineitem")
    sk = hdr_sketch(li, "l_extendedprice", group_col="l_returnflag",
                    sig_bits=6)
    return hdr_quantiles(sk, [0.5, 0.9, 0.99],
                         group_col="l_returnflag") \
        .orderBy("l_returnflag", "q")


_ORACLE_HDR_QUANTILES = """
WITH x AS (
  SELECT l_returnflag AS g,
         greatest(floor(l_extendedprice)::BIGINT, 0) AS iv
  FROM lineitem
), e AS (
  SELECT g, iv,
         CASE WHEN iv >= 1 THEN length(bin(iv)) ELSE 0 END AS e
  FROM x
), b AS (
  SELECT g, iv, pow(2.0, greatest(e - 1 - 6, 0))::BIGINT AS pw FROM e
), sk AS (
  SELECT g, (iv // pw) * pw AS lo, (iv // pw) * pw + pw AS hi,
         count(*)::BIGINT AS n
  FROM b GROUP BY 1, 2, 3
), c AS (
  SELECT g, lo, hi, n,
         sum(n) OVER (PARTITION BY g ORDER BY lo) AS cum,
         sum(n) OVER (PARTITION BY g) AS tot
  FROM sk
)
SELECT g AS l_returnflag, q, lo, hi
FROM c, (VALUES (0.5::DOUBLE), (0.9::DOUBLE), (0.99::DOUBLE)) t(q)
WHERE cum >= greatest(ceil(q * tot), 1)
  AND cum - n < greatest(ceil(q * tot), 1)
ORDER BY l_returnflag, q
"""


def q_hdr_merge(spark, sf_dir):
    """HDR sketch MERGE law as a driver-checked fact: sketch the even
    and odd order halves separately, hdr_merge them, and compare
    against the oracle's single whole-table sketch — counts add per
    bucket, so merged == whole (the property an incremental 100 TB
    profile builds on; same gate pattern as cms_merge/kmv sketches)."""
    from pincette_json_streams_spark.functions.profiling import (
        hdr_merge, hdr_sketch,
    )
    li = _t(spark, sf_dir, "lineitem")
    a = hdr_sketch(li.filter(F.col("l_orderkey") % 2 == 0),
                   "l_extendedprice", group_col="l_returnflag",
                   sig_bits=6)
    b = hdr_sketch(li.filter(F.col("l_orderkey") % 2 == 1),
                   "l_extendedprice", group_col="l_returnflag",
                   sig_bits=6)
    return hdr_merge(a, b, group_col="l_returnflag") \
        .orderBy("l_returnflag", "bucket_lo")


_ORACLE_HDR_MERGE = """
WITH x AS (
  SELECT l_returnflag AS g,
         greatest(floor(l_extendedprice)::BIGINT, 0) AS iv
  FROM lineitem
), e AS (
  SELECT g, iv,
         CASE WHEN iv >= 1 THEN length(bin(iv)) ELSE 0 END AS e
  FROM x
), b AS (
  SELECT g, iv, pow(2.0, greatest(e - 1 - 6, 0))::BIGINT AS pw FROM e
)
SELECT g AS l_returnflag, (iv // pw) * pw AS bucket_lo,
       (iv // pw) * pw + pw AS bucket_hi, count(*)::BIGINT AS n
FROM b GROUP BY 1, 2, 3
ORDER BY l_returnflag, bucket_lo
"""


def q_embedding_outliers(spark, sf_dir):
    """Centroid-distance outlier scan over the embedding corpus:
    cosine distance to the global mean vector, z-scored; z >= 1.5 rows
    survive (functions/similarity.py embedding_outliers — moments via
    per-partition numpy partials, no shuffle)."""
    from pincette_json_streams_spark.functions.similarity import (
        embedding_outliers,
    )
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, z_min=1.5).orderBy("id")


_ORACLE_EMBEDDING_OUTLIERS = """
WITH v AS (
  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
), m AS (
  SELECT list(a ORDER BY i) AS mv FROM (
    SELECT i, avg(e[i]) AS a FROM v, range(1, 65) t(i) GROUP BY i)
), d AS (
  SELECT vec_id AS id,
         1.0 - list_dot_product(e, mv) /
           (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(mv, mv)))
           AS dd
  FROM v, m
), s AS (
  SELECT avg(dd) AS mu, stddev_pop(dd) AS sd FROM d
)
SELECT id, floor(dd * 1e6 + 0.5) / 1e6 AS dist,
       floor((dd - mu) / sd * 1e3 + 0.5) / 1e3 AS z
FROM d, s
WHERE floor((dd - mu) / sd * 1e3 + 0.5) / 1e3 >= 1.5
ORDER BY id
"""


# ---------------------------------------------------------------------------
# round 12: web-crawl ingestion tier (functions/crawl.py)
# ---------------------------------------------------------------------------

def _synth_page_html(doc_id, lang, source, text):
    """Deterministic HTML page per document, built entirely from
    Catalyst string expressions: title with an entity, a script that
    must contribute nothing, a nav whose text is ~all anchor chars
    (link-density drop), two real content blocks, a sub-minimum
    block, and a link-only footer.  The DuckDB oracle replays the
    EXPECTED extraction directly from the raw columns — the same
    synthesis-controlled-oracle pattern as audio/video."""
    return F.concat(
        F.lit('<html><head><title>Doc '), doc_id, F.lit(' &amp; '),
        lang,
        F.lit('</title><script>var x="<p>junk</p>";</script>'
              '<style>p{color:red}</style></head><body>'
              '<nav><a href="/">Home</a> <a href="/about">About us'
              '</a> <a href="/contact">Contact</a></nav>'
              '<article><p>Summary &amp; source '), source,
        F.lit(' of record '), doc_id, F.lit('.</p><p>'), text,
        F.lit('</p><p>tiny</p></article>'
              '<footer><a href="/terms">Terms</a> '
              '<a href="/privacy">Privacy</a></footer></body></html>'))


def q_html_extract(spark, sf_dir):
    """HTML main-content extraction (functions/crawl.py
    html_extract): Arc90-style block filter — script/style subtrees
    contribute nothing, blocks under 15 collapsed chars or over 0.4
    link density drop, survivors join by newline; title decoded with
    entities.  Per-row Arrow map, zero shuffle (plan-shape-locked).
    Extends the reference pipeline language (no crawl tier there);
    stage twin $htmlExtract."""
    from pincette_json_streams_spark.functions.crawl import (
        html_extract,
    )
    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        _synth_page_html(F.col("doc_id"), F.col("lang"),
                         F.col("source"), F.col("text")).alias("html"))
    return html_extract(
        pages, "html", title_col="page_title", text_col="main_text",
    ).select("doc_id", "page_title", "main_text", "n_blocks")


_ORACLE_HTML_EXTRACT = """
SELECT doc_id,
       'Doc ' || doc_id || ' & ' || lang AS page_title,
       'Summary & source ' || source || ' of record ' || doc_id
         || '.' || chr(10) || text AS main_text,
       CAST(2 AS BIGINT) AS n_blocks
FROM documents
"""


def q_warc_extract(spark, sf_dir):
    """WARC demux -> HTTP response filter -> main-content extraction
    (functions/crawl.py warc_records + html_extract): documents pack
    into multi-record WARC files (one warcinfo + a request AND a
    response per doc, ISO 28500 framing with byte-exact
    Content-Length), demux back out, and only the response payloads
    reach the extractor.  The demux is a stateless Arrow flat-map —
    the only Exchange in the plan is the test-side file assembly
    groupBy, locked in tests/test_plan_shapes.py.  Stage twin
    $warcRecords; gzip (member-per-record and whole-file) covered in
    tests/test_functions.py."""
    from pincette_json_streams_spark.functions.crawl import (
        html_extract, warc_records,
    )
    docs = _t(spark, sf_dir, "documents")
    html = _synth_page_html(F.col("doc_id"), F.col("lang"),
                            F.col("source"), F.col("text"))
    http = F.concat(
        F.lit('HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n'),
        html)
    rec = F.concat(
        F.lit('WARC/1.0\r\nWARC-Type: response\r\n'
              'WARC-Record-ID: <urn:uuid:'), F.col("doc_id"),
        F.lit('>\r\nWARC-Target-URI: https://crawl.example/doc/'),
        F.col("doc_id"),
        F.lit('\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n'
              'Content-Type: application/http; msgtype=response\r\n'
              'Content-Length: '),
        F.octet_length(http).cast("string"),
        F.lit('\r\n\r\n'), http, F.lit('\r\n\r\n'))
    req = F.concat(
        F.lit('WARC/1.0\r\nWARC-Type: request\r\n'
              'WARC-Target-URI: https://crawl.example/doc/'),
        F.col("doc_id"),
        F.lit('\r\nContent-Length: 18\r\n\r\n'
              'GET / HTTP/1.1\r\n\r\n\r\n\r\n'))
    files = (
        docs.select(
            (F.col("doc_id") % 25).alias("file_id"),
            F.struct("doc_id",
                     F.concat(req, rec).alias("rec")).alias("s"))
        .groupBy("file_id")
        .agg(F.concat(
            F.lit('WARC/1.0\r\nWARC-Type: warcinfo\r\n'
                  'Content-Length: 9\r\n\r\nfoo: bar\n\r\n\r\n'),
            F.concat_ws("", F.transform(
                F.array_sort(F.collect_list("s")),
                lambda x: x["rec"]))).alias("w"))
        .select("file_id", F.encode("w", "UTF-8").alias("warc")))
    resp = warc_records(files, "warc").filter(
        F.col("warc_type") == "response")
    return html_extract(
        resp.select(
            F.regexp_extract("target_uri", r"doc/(\d+)$", 1)
            .cast("long").alias("doc_id"),
            "http_status",
            F.decode("payload", "UTF-8").alias("html")),
        "html", title_col="page_title", text_col="main_text",
    ).select("doc_id", "http_status", "page_title", "main_text",
             "n_blocks")


_ORACLE_WARC_EXTRACT = """
SELECT doc_id,
       CAST(200 AS BIGINT) AS http_status,
       'Doc ' || doc_id || ' & ' || lang AS page_title,
       'Summary & source ' || source || ' of record ' || doc_id
         || '.' || chr(10) || text AS main_text,
       CAST(2 AS BIGINT) AS n_blocks
FROM documents
"""


def q_robots_filter(spark, sf_dir):
    """Robots Exclusion Protocol filter (functions/robots.py, RFC
    9309): even-numbered source hosts publish a robots.txt
    (Disallow: /doc/ overridden by the longer Allow: /doc/pub/ —
    exercising the longest-match rule), odd hosts publish none (RFC
    default allow).  robots_rules parses in one Arrow map; the
    decision is all-native: broadcast rules join on host +
    regexp_like + max_by argmax (plan-shape-locked).  The oracle
    replays the expected decision from the synthesis directly."""
    from pincette_json_streams_spark.functions.robots import (
        robots_rules, url_allowed,
    )
    docs = _t(spark, sf_dir, "documents")
    robots = (
        docs.select("source").distinct()
        .filter(F.substring("source", 4, 10).cast("long") % 2 == 0)
        .select(
            F.concat(F.col("source"), F.lit(".example")).alias("host"),
            F.lit("User-agent: evilbot\nDisallow: /\n\n"
                  "User-agent: *\nDisallow: /doc/\n"
                  "Allow: /doc/pub/\n").alias("robots")))
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("pub/"))
            .otherwise(F.lit("")),
            F.col("doc_id")).alias("url"))
    return url_allowed(urls, robots_rules(robots)).select(
        "doc_id", "url", F.col("allowed").cast("long").alias("allowed"))


_ORACLE_ROBOTS_FILTER = """
SELECT doc_id,
       'https://' || source || '.example/doc/' ||
         CASE WHEN doc_id % 3 = 0 THEN 'pub/' ELSE '' END || doc_id
         AS url,
       CAST(CASE WHEN CAST(substr(source, 4) AS BIGINT) % 2 = 0
                 THEN CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                 ELSE 1 END AS BIGINT) AS allowed
FROM documents
"""


def q_sitemap_urls(spark, sf_dir):
    """Sitemap protocol parsing (functions/crawl.py sitemap_urls,
    sitemaps.org): per source host, one <urlset> file (every doc a
    <url> with XML-escaped query string, lastmod, changefreq,
    priority) plus one <sitemapindex> file pointing at it — the demux
    must distinguish leaf URLs from index entries by kind.  Stateless
    Arrow flat-map like warc_records; the oracle replays the expected
    rows from documents (entity &amp; decodes back to &; priority
    N/10 parses to the identical nearest-double both engines)."""
    from pincette_json_streams_spark.functions.crawl import (
        sitemap_urls,
    )
    docs = _t(spark, sf_dir, "documents")
    entry = F.concat(
        F.lit("<url><loc>https://"), F.col("source"),
        F.lit(".example/doc/"), F.col("doc_id"),
        F.lit("?a=1&amp;b=2</loc><lastmod>2026-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("</lastmod><changefreq>weekly</changefreq>"
              "<priority>0."),
        (F.col("doc_id") % 10).cast("string"),
        F.lit("</priority></url>"))
    urlsets = (
        docs.select("source",
                    F.struct("doc_id", entry.alias("e")).alias("s"))
        .groupBy("source")
        .agg(F.concat(
            F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset '
                  'xmlns="http://www.sitemaps.org/schemas/'
                  'sitemap/0.9">'),
            F.concat_ws("", F.transform(
                F.array_sort(F.collect_list("s")), lambda x: x["e"])),
            F.lit("</urlset>")).alias("sitemap")))
    indexes = docs.select("source").distinct().select(
        "source",
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://"),
            F.col("source"),
            F.lit(".example/sitemap-docs.xml</loc><lastmod>"
                  "2026-02-01</lastmod></sitemap>"
                  "</sitemapindex>")).alias("sitemap"))
    return sitemap_urls(
        urlsets.unionByName(indexes), "sitemap",
    ).select("source", "kind", "loc", "lastmod", "changefreq",
             "priority")


_ORACLE_SITEMAP_URLS = """
SELECT source, 'url' AS kind,
       'https://' || source || '.example/doc/' || doc_id
         || '?a=1&b=2' AS loc,
       '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
         AS lastmod,
       'weekly' AS changefreq,
       CAST(doc_id % 10 AS DOUBLE) / 10 AS priority
FROM documents
UNION ALL
SELECT DISTINCT source, 'sitemap' AS kind,
       'https://' || source || '.example/sitemap-docs.xml' AS loc,
       '2026-02-01' AS lastmod,
       CAST(NULL AS VARCHAR) AS changefreq,
       CAST(NULL AS DOUBLE) AS priority
FROM documents
"""


# ===========================================================================
# driver contract
# ===========================================================================

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: the driver samples a 50-query prefix of this
    # dict, so the least-recently-driver-checked queries must come
    # first.  GENERATED by scripts/rotate_queries.py from the committed
    # CORRECTNESS_r*.json files (r10..r13 at derivation time):
    # never-sampled newcomers first, then cohorts by latest checked
    # round ascending, relative order preserved inside each cohort.
    return {
        # -- latest driver check r10 (19 queries) --
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_ngram": q_dedup_ngram,
        "dedup_simhash": q_dedup_simhash,
        "dedup_embedding": q_dedup_embedding,
        "ann_lsh": q_ann_lsh,
        "ann_topk": q_ann_topk,
        "quality_filter": q_quality_filter,
        "aggregate_unique": q_aggregate_unique,
        "aggregate_jslt_reducer": q_aggregate_jslt_reducer,
        "aggregate_validate": q_aggregate_validate,
        "pricing_summary": q_pricing_summary,
        "segment_revenue": q_segment_revenue,
        "match_query_ops": q_match_query_ops,
        "project_compute": q_project_compute,
        "switch_let": q_switch_let,
        "group_mergeobjects": q_group_mergeobjects,
        "unwind_words": q_unwind_words,
        "group_accumulators": q_group_accumulators,
        # -- latest driver check r11 (50 queries) --
        "audio_windows": q_audio_windows,
        "audio_near_pairs": q_audio_near_pairs,
        "audio_clusters": q_audio_clusters,
        "video_frames": q_video_frames,
        "video_near_dups": q_video_near_dups,
        "video_clusters": q_video_clusters,
        "bucket_prices": q_bucket_prices,
        "count_stage": q_count_stage,
        "lookup_array": q_lookup_array,
        "lookup_pipeline": q_lookup_pipeline,
        "join_part": q_join_part,
        "merge_part": q_merge_part,
        "semantic_dedup": q_semantic_dedup,
        "theil_sen_trend": q_theil_sen,
        "winnow_pairs": q_winnow_pairs,
        "ann_hamming": q_ann_hamming,
        "changepoint_scan": q_changepoint_scan,
        "curation_funnel": q_curation_funnel,
        "hll_distinct": q_hll_distinct,
        "pq_cells": q_pq_cells,
        "pq_adc": q_pq_adc,
        "bm25_topk": q_bm25_topk,
        "dsir_weights": q_dsir_weights,
        "jq_formats": q_jq_formats,
        "string_ops": q_string_ops,
        "datetime_ops": q_datetime_ops,
        "arith_ops": q_arith_ops,
        "array_ops": q_array_ops,
        "type_convert": q_type_convert,
        "validate": q_validate,
        "events_funnel": q_events_funnel,
        "redact": q_redact,
        "redact_nested": q_redact_nested,
        "replace_root": q_replace_root,
        "array_setops": q_array_setops,
        "match_arrays": q_match_arrays,
        "jq_stage": q_jq_stage,
        "jslt_stage": q_jslt_stage,
        "epoch_ops": q_epoch_ops,
        "misc_ops": q_misc_ops,
        "trig_ops": q_trig_ops,
        "bitwise_match": q_bitwise_match,
        "encode_ops": q_encode_ops,
        "array_ops2": q_array_ops2,
        "jes_ops": q_jes_ops,
        "sort_limit": q_sort_limit,
        "setkey_stage": q_setkey_stage,
        "region_revenue": q_region_revenue,
        "top_customers": q_top_customers,
        "text_stats": q_text_stats,
        # -- latest driver check r12 (50 queries) --
        "sitemap_urls": q_sitemap_urls,
        "robots_filter": q_robots_filter,
        "html_extract": q_html_extract,
        "warc_extract": q_warc_extract,
        "pii_scrub": q_pii_scrub,
        "token_vocab": q_token_vocab,
        "dedup_stage": q_dedup_stage,
        "bpe_pairs": q_bpe_pairs,
        "sort_by_count": q_sort_by_count,
        "bigram_lm": q_bigram_lm,
        "geo_near": q_geo_near,
        "date_parts": q_date_parts,
        "json_schema": q_json_schema,
        "emb_moments": q_emb_moments,
        "dedup_quality": q_dedup_quality,
        "counter_rate": q_counter_rate,
        "rollup_revenue": q_rollup_revenue,
        "interval_hits": q_interval_join,
        "dup_spans": q_dup_spans,
        "ann_hamming_lsh": q_ann_hamming_lsh,
        "dup_containment": q_dup_containment,
        "hard_negatives": q_hard_negatives,
        "balanced_sample": q_balanced_sample,
        "hamming_pairs": q_hamming_pairs,
        "strip_spans": q_strip_spans,
        "window_fields": q_window_fields,
        "hybrid_rrf": q_hybrid_rrf,
        "dedup_verify": q_dedup_verify,
        "embedding_outliers": q_embedding_outliers,
        "pq_refined": q_pq_refined,
        "bloom_prefilter": q_bloom_prefilter,
        "pagerank_top": q_pagerank,
        "ewma_drift": q_ewma_drift,
        "prefix_jaccard": q_prefix_jaccard,
        "hll_windowed": q_hll_windowed,
        "graph_triangles": q_graph_triangles,
        "robust_outliers": q_robust_outliers,
        "collocations_npmi": q_collocations,
        "attribution_lasttouch": q_attribution,
        "seasonal_profile": q_seasonal_profile,
        "hdr_quantiles": q_hdr_quantiles,
        "hdr_merge": q_hdr_merge,
        "url_dedup": q_url_dedup,
        "zorder_key": q_zorder_key,
        "densify_fill": q_densify_fill,
        "cms_heavy": q_cms_heavy,
        "weighted_sample": q_weighted_sample,
        "decontaminate": q_decontaminate,
        "date_arith": q_date_arith,
        "percentile_accum": q_percentile_accum,
        # -- latest driver check r13 (50 queries) --
        "union_buckets": q_union_buckets,
        "linear_fill": q_linear_fill,
        "cms_merge": q_cms_merge,
        "domain_mix": q_domain_mix,
        "pack_sequences": q_pack_sequences,
        "dedup_incremental": q_dedup_incremental,
        "token_drift": q_token_drift,
        "salted_revenue": q_salted_revenue,
        "kmv_distinct": q_kmv_distinct,
        "retention_cohorts": q_retention_cohorts,
        "asof_join": q_asof_join,
        "sessionize_events": q_sessionize_events,
        "contamination": q_contamination,
        "lm_score": q_lm_score,
        "ann_ivf": q_ann_ivf,
        "ann_recall": q_ann_recall,
        "events_gapfill": q_events_gapfill,
        "profile_table": q_profile_table,
        "tfidf_terms": q_tfidf_terms,
        "dedup_ngram_capped": q_dedup_ngram_capped,
        "dup_containment_capped": q_dup_containment_capped,
        "audio_fingerprint": q_audio_fingerprint,
        "hamming_probe": q_hamming_probe,
        "ivf_probe": q_ivf_probe,
        "graph_lookup": q_graph_lookup,
        "window_modern": q_window_modern,
        "lookup_topn": q_lookup_topn,
        "facet_summary": q_facet,
        "topn_accumulators": q_topn_accumulators,
        "kmv_overlap": q_kmv_overlap,
        "modern_ops": q_modern_ops,
        "bpe_encode": q_bpe_encode,
        "emb_pca": q_emb_pca,
        "aggregate_fold": q_aggregate_fold,
        "per_batching": q_per_batching,
        "merge_modes": q_merge_modes,
        "tz_gallery": q_tz_gallery,
        "window_timerange": q_window_timerange,
        "corpus_stats": q_corpus_stats,
        "sample_split": q_sample_split,
        "chunk_docs": q_chunk_docs,
        "passage_dedup": q_passage_dedup,
        "quantize_embeddings": q_quantize_embeddings,
        "quality_trim": q_quality_trim,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "dedup_canonical": q_dedup_canonical,
        "split_leakfree": q_split_leakfree,
        "repetition_stats": q_repetition_stats,
        "aggregate_acl": q_aggregate_acl,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "sitemap_urls": _ORACLE_SITEMAP_URLS,
        "robots_filter": _ORACLE_ROBOTS_FILTER,
        "html_extract": _ORACLE_HTML_EXTRACT,
        "warc_extract": _ORACLE_WARC_EXTRACT,
        "ann_hamming": _oracle_ann_hamming(),
        "ann_hamming_lsh": _oracle_ann_hamming_lsh(),
        "dup_containment": _ORACLE_DUP_CONTAINMENT,
        "hard_negatives": _ORACLE_HARD_NEGATIVES,
        "balanced_sample": _ORACLE_BALANCED_SAMPLE,
        "hamming_pairs": _oracle_hamming_pairs(),
        "changepoint_scan": _ORACLE_CHANGEPOINT,
        "hll_distinct": _ORACLE_HLL_DISTINCT,
        "pq_cells": _ORACLE_PQ_CELLS,
        "pq_adc": _ORACLE_PQ_ADC,
        "pq_refined": _ORACLE_PQ_REFINED,
        "bloom_prefilter": _ORACLE_BLOOM_PREFILTER,
        "pagerank_top": _oracle_pagerank(),
        "hybrid_rrf": _oracle_hybrid_rrf(),
        "ewma_drift": _ORACLE_EWMA,
        "prefix_jaccard": _oracle_prefix_jaccard(),
        "hll_windowed": _oracle_hll_windowed(),
        "graph_triangles": _ORACLE_TRIANGLES,
        "robust_outliers": _ORACLE_ROBUST,
        "collocations_npmi": _ORACLE_COLLOCATIONS,
        "attribution_lasttouch": _ORACLE_ATTRIBUTION,
        "theil_sen_trend": _ORACLE_THEIL_SEN,
        "seasonal_profile": _ORACLE_SEASONAL,
        "winnow_pairs": _ORACLE_WINNOW_PAIRS,
        "dedup_verify": _oracle_dedup_verify(),
        "embedding_outliers": _ORACLE_EMBEDDING_OUTLIERS,
        "hdr_quantiles": _ORACLE_HDR_QUANTILES,
        "hdr_merge": _ORACLE_HDR_MERGE,
        "bm25_topk": _oracle_bm25(),
        "dsir_weights": _ORACLE_DSIR,
        "jq_formats": _ORACLE_JQ_FORMATS,
        "graph_lookup": _ORACLE_GRAPH_LOOKUP,
        "bpe_pairs": _oracle_bpe_pairs(),
        "bpe_encode": _oracle_bpe_encode(),
        "sort_by_count": _ORACLE_SORT_BY_COUNT,
        "bigram_lm": _ORACLE_BIGRAM_LM,
        "geo_near": _ORACLE_GEO_NEAR,
        "date_parts": _ORACLE_DATE_PARTS,
        "window_modern": _ORACLE_WINDOW_MODERN,
        "json_schema": _ORACLE_JSON_SCHEMA,
        "emb_moments": _ORACLE_EMB_MOMENTS,
        "emb_pca": _ORACLE_EMB_PCA,
        "dedup_quality": _oracle_dedup_quality(),
        "counter_rate": _ORACLE_COUNTER_RATE,
        "lookup_topn": _ORACLE_LOOKUP_TOPN,
        "rollup_revenue": _ORACLE_ROLLUP,
        "merge_modes": _ORACLE_MERGE_MODES,
        "tz_gallery": _ORACLE_TZ_GALLERY,
        "window_timerange": _ORACLE_WINDOW_TIMERANGE,
        "interval_hits": _ORACLE_INTERVAL_JOIN,
        "dup_spans": _ORACLE_DUP_SPANS,
        "strip_spans": _ORACLE_STRIP_SPANS,
        "window_fields": _ORACLE_WINDOW_FIELDS,
        "url_dedup": _ORACLE_URL_DEDUP,
        "zorder_key": _oracle_zorder(),
        "semantic_dedup": _ORACLE_SEMANTIC_DEDUP,
        "densify_fill": _ORACLE_DENSIFY_FILL,
        "facet_summary": _ORACLE_FACET,
        "cms_heavy": _oracle_cms_heavy(),
        "weighted_sample": _ORACLE_WEIGHTED_SAMPLE,
        "decontaminate": _ORACLE_DECONTAMINATE,
        "date_arith": _ORACLE_DATE_ARITH,
        "topn_accumulators": _ORACLE_TOPN_ACCUM,
        "percentile_accum": _ORACLE_PERCENTILE_ACCUM,
        "modern_ops": _ORACLE_MODERN_OPS,
        "union_buckets": _ORACLE_UNION_BUCKETS,
        "linear_fill": _ORACLE_LINEAR_FILL,
        "cms_merge": _oracle_cms_merge(),
        "pricing_summary": _ORACLE_PRICING,
        "segment_revenue": _ORACLE_SEGMENT,
        "match_query_ops": _ORACLE_MATCH_OPS,
        "project_compute": _ORACLE_PROJECT,
        "switch_let": _ORACLE_SWITCH,
        "group_mergeobjects": _ORACLE_MERGEOBJECTS,
        "unwind_words": _ORACLE_UNWIND,
        "group_accumulators": _ORACLE_ACCUM,
        "bucket_prices": _ORACLE_BUCKET,
        "count_stage": _ORACLE_COUNT,
        "dedup_stage": _ORACLE_DEDUP_STAGE,
        "lookup_array": _ORACLE_LOOKUP_ARRAY,
        "lookup_pipeline": _ORACLE_LOOKUP_PIPE,
        "join_part": _ORACLE_JOIN_PART,
        "merge_part": _ORACLE_MERGE_PART,
        "string_ops": _ORACLE_STRINGS,
        "datetime_ops": _ORACLE_DATETIME,
        "arith_ops": _ORACLE_ARITH,
        "array_ops": _ORACLE_ARRAYS,
        "type_convert": _ORACLE_CONVERT,
        "validate": _ORACLE_VALIDATE,
        "events_funnel": _ORACLE_EVENTS,
        "redact": _ORACLE_REDACT,
        "redact_nested": _ORACLE_REDACT_NESTED,
        "replace_root": _ORACLE_REPLACE_ROOT,
        "array_setops": _ORACLE_SETOPS,
        "match_arrays": _ORACLE_MATCH_ARRAYS,
        "jq_stage": _ORACLE_JQ,
        "jslt_stage": _ORACLE_JSLT,
        "epoch_ops": _ORACLE_EPOCH,
        "misc_ops": _ORACLE_MISC,
        "trig_ops": _ORACLE_TRIG,
        "bitwise_match": _ORACLE_BITWISE,
        "encode_ops": _ORACLE_ENCODE,
        "array_ops2": _ORACLE_ARRAY2,
        "jes_ops": _ORACLE_JES,
        "sort_limit": _ORACLE_SORT_LIMIT,
        "setkey_stage": _ORACLE_SETKEY,
        "region_revenue": _ORACLE_REGION_REVENUE,
        "top_customers": _ORACLE_TOP_CUSTOMERS,
        "aggregate_fold": _ORACLE_AGG_FOLD,
        "aggregate_acl": _ORACLE_AGG_ACL,
        "aggregate_unique": _ORACLE_AGG_UNIQUE,
        "aggregate_jslt_reducer": _ORACLE_AGG_JSLT,
        "aggregate_validate": _ORACLE_AGG_VALIDATE,
        "text_stats": _oracle_text_stats(),
        "pii_scrub": _oracle_pii_scrub(),
        "token_vocab": _oracle_token_vocab(),
        "corpus_stats": _ORACLE_CORPUS_STATS,
        "sample_split": _ORACLE_SAMPLE_SPLIT,
        "domain_mix": _ORACLE_DOMAIN_MIX,
        "pack_sequences": _ORACLE_PACK_SEQUENCES,
        "dedup_incremental": _oracle_dedup_incremental(),
        "token_drift": _oracle_token_drift(),
        "salted_revenue": _ORACLE_SALTED_REVENUE,
        "kmv_distinct": _oracle_kmv_distinct(),
        "kmv_overlap": _oracle_kmv_overlap(),
        "curation_funnel": _oracle_curation_funnel(),
        "retention_cohorts": _ORACLE_RETENTION,
        "repetition_stats": _ORACLE_REPETITION,
        "contamination": _ORACLE_CONTAMINATION,
        "lm_score": _ORACLE_LM_SCORE,
        "asof_join": _ORACLE_ASOF,
        "sessionize_events": _ORACLE_SESSIONIZE,
        "chunk_docs": _ORACLE_CHUNK,
        "quantize_embeddings": _ORACLE_QUANTIZE,
        "quality_trim": _ORACLE_QUALITY_TRIM,
        "tfidf_terms": _ORACLE_TFIDF,
        "passage_dedup": _ORACLE_PASSAGE,
        "profile_table": _oracle_profile(),
        "events_gapfill": _ORACLE_GAPFILL,
        "dedup_exact": _ORACLE_DEDUP_EXACT,
        "dedup_minhash": _oracle_minhash(),
        "dedup_clusters": _oracle_dedup_clusters(),
        "dedup_clusters_star": _oracle_dedup_clusters(),
        "dedup_canonical": _oracle_dedup_canonical(),
        "split_leakfree": _oracle_split_leakfree(),
        "dedup_ngram": _ORACLE_NGRAM,
        "dedup_ngram_capped": _ORACLE_NGRAM_CAPPED,
        "dup_containment_capped": _ORACLE_CONTAINMENT_CAPPED,
        "audio_fingerprint": _ORACLE_AUDIO_FP,
        "audio_windows": _ORACLE_AUDIO_WINDOWS,
        "audio_near_pairs": _ORACLE_AUDIO_NEAR_PAIRS,
        "audio_clusters": _oracle_audio_clusters(),
        "video_frames": _ORACLE_VIDEO_FRAMES,
        "video_near_dups": _ORACLE_VIDEO_NEAR_DUPS,
        "video_clusters": _oracle_video_clusters(),
        "hamming_probe": _oracle_hamming_probe(),
        "ivf_probe": _ORACLE_IVF_PROBE,
        "dedup_simhash": _oracle_simhash(),
        "dedup_embedding": _ORACLE_DEDUP_EMBEDDING,
        "ann_lsh": _oracle_ann_lsh(),
        "ann_ivf": _ORACLE_ANN_IVF,
        "ann_recall": _oracle_ann_recall(),
        "per_batching": _ORACLE_PER_BATCHING,
        "ann_topk": _ORACLE_ANN,
        "quality_filter": _oracle_quality_filter(),
    }
