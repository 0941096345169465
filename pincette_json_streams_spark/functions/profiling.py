"""Table profiling: per-column null/distinct/min/max statistics in ONE
scan — the data-quality pass (DuckDB ``SUMMARIZE``, Deequ profiles) a
pipeline runs before trusting a new data drop.

Scale design: every statistic is an aggregate over the same scan, so the
whole profile is a single hash-agg job regardless of column count; the
unpivot to long form happens on the one-row result.  Numeric and
timestamp extremes surface as doubles (timestamps as epoch seconds,
timezone-proof), string extremes as strings — no engine-specific value
formatting in the output.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

__all__ = [
    "profile_table", "kmv_distinct", "kmv_sketch", "kmv_merge",
    "kmv_estimate", "kmv_overlap", "cms_sketch", "cms_merge",
    "cms_estimate",
    "hll_sketch", "hll_merge", "hll_estimate", "hll_distinct",
    "hdr_sketch", "hdr_merge", "hdr_quantiles",
    "bloom_bits", "bloom_words", "bloom_prefilter", "robust_zscores",
]


def _epoch_seconds(col):
    # NTZ-safe epoch: never routes through the session timezone, matching
    # a SQL engine's naive-timestamp epoch()
    return (
        F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            f"cast({col} as timestamp_ntz))"
        ) / F.lit(1_000_000.0)
    )


def profile_table(
    df: DataFrame, columns: Optional[Sequence[str]] = None
) -> DataFrame:
    """One row per profiled column: ``column, n_nulls, n_distinct,
    min_num, max_num, min_str, max_str`` (the num/str pair that doesn't
    apply is NULL)."""
    cols = list(columns or df.columns)
    aggs = []
    specs = []
    for c in cols:
        dt = df.schema[c].dataType
        aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
        if isinstance(dt, NumericType):
            lo, hi = F.min(c).cast("double"), F.max(c).cast("double")
            kind = "num"
        elif isinstance(dt, (TimestampType, TimestampNTZType, DateType)):
            e = _epoch_seconds(c)
            lo, hi = F.min(e), F.max(e)
            kind = "num"
        elif isinstance(dt, StringType):
            lo, hi = F.min(c), F.max(c)
            kind = "str"
        else:
            lo, hi, kind = F.lit(None), F.lit(None), "skip"
        aggs.append(lo.alias(f"{c}__min"))
        aggs.append(hi.alias(f"{c}__max"))
        specs.append((c, kind))

    one = df.agg(*aggs)
    parts = []
    for c, kind in specs:
        mn = F.col(f"`{c}__min`")
        mx = F.col(f"`{c}__max`")
        parts.append(F.struct(
            F.lit(c).alias("column"),
            F.col(f"`{c}__nulls`").cast("long").alias("n_nulls"),
            F.col(f"`{c}__distinct`").cast("long").alias("n_distinct"),
            (mn if kind == "num" else F.lit(None)).cast("double")
            .alias("min_num"),
            (mx if kind == "num" else F.lit(None)).cast("double")
            .alias("max_num"),
            (mn if kind == "str" else F.lit(None)).cast("string")
            .alias("min_str"),
            (mx if kind == "str" else F.lit(None)).cast("string")
            .alias("max_str"),
        ))
    return one.select(
        F.explode(F.array(*parts)).alias("p")
    ).select("p.*")


def kmv_distinct(
    df,
    group_col: str,
    value_col: str,
    k: int = 64,
):
    """Deterministic k-minimum-values distinct-count sketch per group.

    The 100 TB cardinality estimator you can actually ORACLE-CHECK:
    unlike HLL (engine-specific register layouts), KMV over an md5-
    derived uniform hash is exactly reproducible on any engine — the
    estimate is (k-1) / h_(k) where h_(k) is the k-th smallest
    normalized hash of the group's distinct values, and groups with
    fewer than k distinct values report the exact count.

    Plan shape: one distinct on (group, value) — map-side combine
    collapses repeats before the shuffle — then a per-group top-k
    window on the hash.  Sketch state is O(k) per group; merging
    sketches across partitions/snapshots = union the hash sets and
    re-take the k smallest (associative, the reason KMV composes with
    incremental corpus growth)."""
    from pyspark.sql.window import Window

    # drop null values BEFORE ranking: Spark windows order NULLS FIRST,
    # DuckDB NULLS LAST — a null hash would silently skew the k-set on
    # one engine only
    distinct = df.select(
        F.col(group_col).alias("group"), F.col(value_col).alias("v")
    ).filter(F.col("v").isNotNull()).distinct().withColumn(
        "__h",
        F.conv(F.substring(F.md5(F.col("v").cast("string")), 1, 8),
               16, 10).cast("double") / F.lit(float(1 << 32)),
    )
    w = Window.partitionBy("group").orderBy(F.col("__h").asc())
    topk = distinct.withColumn("__rn", F.row_number().over(w)) \
        .filter(F.col("__rn") <= k)
    return (
        topk.groupBy("group")
        .agg(F.count(F.lit(1)).alias("__n"), F.max("__h").alias("__kth"))
        .select(
            F.col("group").alias(group_col),
            F.when(F.col("__n") < k, F.col("__n").cast("long"))
            .otherwise(F.round((k - 1) / F.col("__kth"), 0).cast("long"))
            .alias("est_distinct"),
            F.lit(int(k)).alias("sketch_k"),
        )
    )


def kmv_sketch(df, group_col: str, value_col: str, k: int = 64):
    """Mergeable form of :func:`kmv_distinct`: per group, the k
    SMALLEST normalized hashes as a sorted array — the sketch STATE a
    snapshot persists.  Sketches from different snapshots/partitions
    merge with :func:`kmv_merge` (union the sets, re-take the k
    smallest: associative and idempotent), which is how the estimate
    composes with incremental corpus growth without rescanning old
    snapshots."""
    from pyspark.sql.window import Window

    distinct = df.select(
        F.col(group_col).alias("group"), F.col(value_col).alias("v")
    ).filter(F.col("v").isNotNull()).distinct().withColumn(
        "__h",
        F.conv(F.substring(F.md5(F.col("v").cast("string")), 1, 8),
               16, 10).cast("double") / F.lit(float(1 << 32)),
    )
    w = Window.partitionBy("group").orderBy(F.col("__h").asc())
    return (
        distinct.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("group")
        .agg(F.sort_array(F.collect_list("__h")).alias("hashes"))
        .select(F.col("group").alias(group_col), "hashes",
                F.lit(int(k)).alias("sketch_k"))
    )


def kmv_merge(*sketches, group_col: str = "lang", k: int = 64):
    """Union sketches from several snapshots and re-take the k
    smallest hashes per group; -> same schema as :func:`kmv_sketch`.
    Estimate from a merged sketch with :func:`kmv_estimate`."""
    from functools import reduce

    from pyspark.sql.window import Window

    unioned = reduce(
        lambda a, b: a.unionByName(b),
        [s.select(F.col(group_col).alias("group"),
                  F.explode("hashes").alias("__h")) for s in sketches],
    ).dropDuplicates(["group", "__h"])
    w = Window.partitionBy("group").orderBy(F.col("__h").asc())
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy("group")
        .agg(F.sort_array(F.collect_list("__h")).alias("hashes"))
        .select(F.col("group").alias(group_col), "hashes",
                F.lit(int(k)).alias("sketch_k"))
    )


def kmv_overlap(sketch, group_col: str, k: int = 64):
    """Pairwise set-operation estimates between every two groups'
    KMV sketches ("On synopses for distinct-value estimation under
    multiset operations", Beyer et al., SIGMOD 2007) — the corpus
    question every multi-source training pipeline asks: how much does
    slice A overlap slice B, WITHOUT a distinct-join over the raw data.

    From the two k-min hash sets K_A, K_B: the combined k-min set
    K = smallest k of K_A ∪ K_B estimates the union as (k-1)/max(K);
    the fraction ρ = |K ∩ K_A ∩ K_B| / |K| is an unbiased Jaccard
    estimate, and ρ * union estimates the intersection.  When the
    combined set has fewer than k hashes both slices were seen WHOLE,
    so the counts are exact.

    Determinism: hashes are exact dyadic doubles (i / 2^32), set ops
    are integer counts, and the two rounded estimates divide on the
    same grid — the SQL oracle replays everything bit-for-bit.  Plan
    shape: the sketch table is one row per group (O(k) each), so the
    all-pairs self-join is over a frame that fits in one broadcast no
    matter the corpus size.

    Returns (group_a, group_b, est_union, est_intersection,
    jaccard_e6) for group_a < group_b; jaccard_e6 =
    est_intersection * 1e6 div est_union (0 when the union is 0)."""
    a = sketch.select(F.col(group_col).alias("group_a"),
                      F.col("hashes").alias("__ha"))
    b = sketch.select(F.col(group_col).alias("group_b"),
                      F.col("hashes").alias("__hb"))
    pairs = a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
    comb = F.slice(F.array_sort(F.array_union("__ha", "__hb")), 1, k)
    both = F.array_intersect("__ha", "__hb")
    est = (
        pairs
        .withColumn("__k", comb)
        .withColumn("__n", F.size("__k"))
        .withColumn("__hk", F.element_at(F.col("__k"), F.col("__n")))
        .withColumn("__c", F.size(F.array_intersect(F.col("__k"), both)))
        .withColumn(
            "est_union",
            F.when(F.col("__n") < k, F.col("__n").cast("long"))
            .otherwise(F.round((k - 1) / F.col("__hk"), 0).cast("long")),
        )
        .withColumn(
            "est_intersection",
            F.when(F.col("__n") < k, F.size(both).cast("long"))
            .otherwise(
                F.floor(F.col("__c") * (k - 1)
                        / (k * F.col("__hk")) + F.lit(0.5))
                .cast("long")),
        )
    )
    return est.select(
        "group_a", "group_b", "est_union", "est_intersection",
        F.when(F.col("est_union") > 0,
               F.expr("(est_intersection * 1000000) div est_union"))
        .otherwise(F.lit(0)).cast("long").alias("jaccard_e6"),
    )


def kmv_estimate(sketch, group_col: str = "lang", k: int = 64):
    """(group, est_distinct, sketch_k) from a (merged) sketch: exact
    count below k, (k-1)/h_(k) at k."""
    n = F.size("hashes")
    return sketch.select(
        group_col,
        F.when(n < k, n.cast("long"))
        .otherwise(F.round((k - 1) / F.element_at("hashes", k), 0)
                   .cast("long")).alias("est_distinct"),
        F.lit(int(k)).alias("sketch_k"),
    )


def _cms_bucket(value, d: int, width: int):
    """Deterministic CMS row-``d`` bucket of a value: md5-derived, so
    any engine (and the DuckDB oracle) reproduces it exactly."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"cms{d}:"), value.cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("bigint")
    return F.pmod(h, F.lit(width))


def cms_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) of a column:
    ``depth`` hash rows x ``width`` buckets, each cell the count of
    values hashing there.  Returns (d, b, cnt) — O(depth*width) rows
    no matter the input size.

    The sketch is MERGEABLE (cms_merge is cell-wise addition), which is
    the 100 TB property: per-shard/per-day sketches aggregate without
    touching raw data again.  Deterministic md5 bucket hashing keeps it
    oracle-checkable, unlike engine-native approximate aggregates.
    One map-side-combining aggregation over a ``depth``-way explode."""
    rows = F.explode(
        F.array(*[F.lit(d) for d in range(depth)])
    ).alias("d")
    v = F.col(value_col)
    exploded = df.select(v.alias("__v"), rows)
    # per-row bucket expression dispatched on d (static fan, no UDF)
    b = F.lit(None).cast("bigint")
    for d in range(depth - 1, -1, -1):
        b = F.when(
            F.col("d") == d, _cms_bucket(F.col("__v"), d, width)
        ).otherwise(b)
    return (
        exploded.select("d", b.alias("b"))
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise union of count-min sketches (same depth/width)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "b").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    values: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Point-frequency estimates: min over the ``depth`` cells each
    value hashes to.  Guarantees est >= true and, with probability
    1 - (1/2)^depth, est <= true + 2N/width.  The sketch side is tiny
    (broadcast); the probe is ``depth`` equi-joins worth of work
    expressed as one exploded join."""
    probes = values.select(
        F.col(value_col).alias("__v"),
        F.explode(
            F.array(*[F.lit(d) for d in range(depth)])
        ).alias("d"),
    )
    b = F.lit(None).cast("bigint")
    for d in range(depth - 1, -1, -1):
        b = F.when(
            F.col("d") == d, _cms_bucket(F.col("__v"), d, width)
        ).otherwise(b)
    probed = probes.withColumn("b", b).join(
        F.broadcast(sketch), ["d", "b"], "left"
    ).fillna(0, ["cnt"])
    return (
        probed.groupBy("__v")
        .agg(F.min("cnt").cast("long").alias("est"))
        .select(F.col("__v").alias(value_col), "est")
    )


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) — deterministic, oracle-checkable
# ---------------------------------------------------------------------------

_HLL_RHO_CAP = 40  # keeps every 2^-rho term >= 2^-40 so the register
#                    sum is EXACT in doubles regardless of add order
#                    (span <= 40 + log2(m) < 52 mantissa bits); the
#                    truncated tail contributes < m * 2^-40 to Z.


def _hll_parts(value, p: int):
    """(register index, rho) of a value under a 60-bit md5 hash: the
    top ``p`` bits pick the register, rho = leading zeros of the
    remaining ``60 - p`` bits + 1 (capped).  ``bin()`` drops leading
    zeros identically in Spark and DuckDB, which makes the
    leading-zero count pure integer/string arithmetic — no log2
    float boundary risk."""
    w = 60 - p
    h = F.conv(F.substring(F.md5(value.cast("string")), 1, 15), 16, 10) \
        .cast("bigint")
    idx = F.shiftright(h, w)
    low = h - F.shiftleft(idx, w)
    rho = F.when(low == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.least(F.lit(w) - F.length(F.bin(low)) + F.lit(1),
                F.lit(_HLL_RHO_CAP))
    )
    return idx, rho


def hll_sketch(df, group_col: str, value_col: str, p: int = 9):
    """Per-group HyperLogLog register table — the mergeable sketch
    STATE: one row per (group, register) with the max rho seen.  Empty
    registers are implicit (the estimator fills them as zeros), so the
    state is at most ``2^p`` rows per group no matter how many values
    stream through — the property that makes HLL the 100 TB
    cardinality sketch: registers from any partitioning/snapshot merge
    by max (associative, idempotent, commutative).

    Deterministic md5 hashing (same convention as ``kmv_*``/``cms_*``)
    means a DuckDB oracle reproduces every register exactly — unlike
    engine-native approx_count_distinct layouts.

    Plan shape: one hash-agg on (group, idx) with map-side combine —
    repeats of a value collapse to the same (idx, rho) before the
    shuffle; no distinct pass needed at all (max absorbs duplicates).
    """
    idx, rho = _hll_parts(F.col("v"), p)
    return (
        df.select(F.col(group_col).alias("group"),
                  F.col(value_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .select("group", idx.alias("idx"), rho.alias("rho"))
        .groupBy("group", "idx")
        .agg(F.max("rho").alias("m"))
        .select(F.col("group").alias(group_col), "idx", "m",
                F.lit(int(p)).alias("sketch_p"))
    )


def hll_merge(*sketches, group_col: str = "lang"):
    """Union register tables from several snapshots and re-max per
    (group, register) — the HLL merge.  Output schema = hll_sketch."""
    from functools import reduce

    unioned = reduce(
        lambda a, b: a.unionByName(b),
        [s.select(F.col(group_col).alias("group"), "idx", "m",
                  "sketch_p") for s in sketches],
    )
    return (
        unioned.groupBy("group", "idx")
        .agg(F.max("m").alias("m"), F.first("sketch_p").alias("sketch_p"))
        .select(F.col("group").alias(group_col), "idx", "m", "sketch_p")
    )


def hll_estimate(sketch, group_col: str = "lang", p: int = 9):
    """(group, est_distinct) from a (merged) register table: the
    standard estimator alpha_m * m^2 / Z with linear counting below
    2.5m (Flajolet et al. 2007 fig. 3).

    Float contract: every 2^-rho term is an exact power of two and
    rho <= 40, so Z is bit-identical on any engine in any order; the
    one ln() in the linear-counting branch is rounded onto the integer
    grid (flip probability ~1 ulp at a .5 boundary — the same accepted
    risk as kmv's final division)."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    per = sketch.groupBy(group_col).agg(
        F.sum(F.lit(1.0)
              / F.expr("shiftleft(1L, m)").cast("double")).alias("__zp"),
        F.count(F.lit(1)).alias("__used"),
    )
    z = F.col("__zp") + (F.lit(m) - F.col("__used")).cast("double")
    v = F.lit(m) - F.col("__used")  # registers still zero
    raw = F.lit(alpha * m * m) / z
    lc = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (v > 0), lc).otherwise(raw)
    return per.select(
        group_col,
        F.floor(est + F.lit(0.5)).cast("long").alias("est_distinct"),
        F.lit(int(m)).alias("sketch_m"),
    )


def hll_distinct(df, group_col: str, value_col: str, p: int = 9):
    """One-shot per-group HLL distinct-count estimate: sketch +
    estimate fused.  Standard error ~= 1.04/sqrt(2^p) (~4.6 % at
    p=9).  Complements ``kmv_distinct``: KMV keeps k hashes and is
    exact below k; HLL keeps 2^p 6-bit registers and merges by max —
    at 100 TB the register table per group is bounded at 2^p rows
    independent of cardinality."""
    return hll_estimate(
        hll_sketch(df, group_col, value_col, p), group_col, p
    ).select(
        F.col(group_col), "est_distinct", "sketch_m",
    )


def hdr_sketch(
    df,
    value_col: str,
    group_col: str | None = None,
    sig_bits: int = 5,
) -> DataFrame:
    """HDR-histogram-style mergeable quantile sketch (Gil Tene's
    HdrHistogram bucketing, public domain): each non-negative value
    lands in a log-scaled bucket keyed by (bit-length of floor(v),
    top ``1 + sig_bits`` bits) — relative bucket width 2^-sig_bits,
    so quantile estimates carry a bounded ~1/2^sig_bits relative
    error at any magnitude.  Completes the mergeable-sketch family
    (CMS = frequency, KMV/HLL = distinct, HDR = quantiles): counts
    merge by plain addition (:func:`hdr_merge`), which is what a
    snapshot/incremental corpus profile needs.

    INTEGER-exact bucket math on BOTH engines: the exponent is the
    length of the base-2 string (Spark `bin` / DuckDB `bin`),
    the power of two goes through pow(2.0, shift) — exact in IEEE
    doubles for any shift < 62 — and mantissa/bounds are long
    arithmetic, so a SQL oracle reproduces the sketch hash-exactly.
    Values < 1 (including negatives) fall into the [0, 1) bucket.

    One hash-agg, pre-aggregated map-side; the sketch is at most
    ~64 * 2^sig_bits rows per group regardless of input size."""
    gcols = [group_col] if group_col else []
    # domain clamp: null/NaN/negatives/-inf -> the [0, 1) bucket,
    # +inf/values above 2^62 -> the top bucket.  Without it ANSI mode
    # kills the job on the long cast/bucket arithmetic (2^62 keeps
    # bucket_hi = lo + pw under 2^63 for any sig_bits).
    v = F.col(value_col).cast("double")
    clamped = (
        F.when(v.isNull() | F.isnan(v), F.lit(0.0))
        .otherwise(F.least(F.greatest(v, F.lit(0.0)),
                           F.lit(float(1 << 62))))
    )
    iv = F.floor(clamped).cast("long")
    keyed = df.select(
        *gcols,
        iv.alias("__iv"),
    ).withColumn(
        "__e",
        # bin(iv) == conv(iv, 10, 2) for iv >= 0, via the direct
        # Long.toBinaryString path instead of generic base conversion
        # (r13: measured 2x on the sketch projection; equality
        # verified over the full sf0.1 value domain)
        F.when(F.col("__iv") >= 1,
               F.length(F.bin(F.col("__iv")))).otherwise(F.lit(0)),
    ).withColumn(
        "__pw",
        F.pow(F.lit(2.0),
              F.greatest(F.col("__e") - 1 - F.lit(sig_bits), F.lit(0)))
        .cast("long"),
    ).withColumn(
        "__m", F.expr("__iv div __pw"),
    )
    return (
        keyed.groupBy(
            *gcols,
            (F.col("__m") * F.col("__pw")).alias("bucket_lo"),
            (F.col("__m") * F.col("__pw") + F.col("__pw"))
            .alias("bucket_hi"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def hdr_merge(*sketches: DataFrame, group_col: str | None = None
              ) -> DataFrame:
    """Merge HDR sketches from several snapshots/partitions: counts
    add per bucket — associative and commutative, the property that
    lets a 100 TB profile build incrementally."""
    gcols = [group_col] if group_col else []
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return (
        merged.groupBy(*gcols, "bucket_lo", "bucket_hi")
        .agg(F.sum("n").cast("long").alias("n"))
    )


def hdr_quantiles(
    sketch: DataFrame,
    qs: list[float],
    group_col: str | None = None,
) -> DataFrame:
    """Quantile estimates from an HDR sketch: per group, the bucket
    containing rank ceil(q * n_total) — reported as (q, lo, hi), the
    guaranteed enclosing range (width = 2^-sig_bits relative).  All
    rank math is integer, so the oracle matches exactly.

    The window cum-sum runs on the SKETCH (bounded rows per group),
    not the data."""
    from pyspark.sql.window import Window

    gcols = [group_col] if group_col else []
    w = Window.partitionBy(*gcols).orderBy("bucket_lo")
    tot = Window.partitionBy(*gcols)
    cum = (
        sketch.withColumn("__cum", F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__tot", F.sum("n").over(tot))
    )
    # the quantile list is a handful of LITERALS: explode them as a
    # projection instead of broadcast-cross-joining a 3-row frame —
    # same rows, one BroadcastExchange + BroadcastNestedLoopJoin
    # deleted from the plan (r13; the broadcast build was the largest
    # first-use cost of the whole query)
    rank = F.greatest(F.ceil(F.col("q") * F.col("__tot")), F.lit(1))
    return (
        cum.withColumn(
            "q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
        .filter((F.col("__cum") >= rank)
                & (F.col("__cum") - F.col("n") < rank))
        .select(*gcols, "q",
                F.col("bucket_lo").alias("lo"),
                F.col("bucket_hi").alias("hi"))
    )


def bloom_bits(
    df: DataFrame,
    key,
    mbits: int = 1 << 17,
    k: int = 5,
) -> DataFrame:
    """Bloom filter BUILD: the set-bit positions of an m-bit / k-hash
    bloom filter over ``key`` — as a (pos bigint) table, bounded at
    ``mbits`` rows by construction, i.e. always tiny no matter how big
    the build side is.

    Hash family: ONE md5 per key (first-15-hex = 60 bits), split into
    Kirsch-Mitzenmacher double hashes h1 = h >> 30 and
    h2 = (h & (2^30-1)) | 1 (odd), position_i = (h1 + i*h2) mod mbits
    — the standard way to get k independent-enough probes from one
    hash ("Less hashing, same performance", Kirsch & Mitzenmacher,
    ESA 2006).  One md5 per KEY instead of k keeps the scan cost flat
    in k; everything after the digest is integer math, replayable in
    any SQL engine with md5.  One hash-agg (distinct) is the only
    shuffle, map-side combinable.

    This is the classic 100 TB join-pruning move (runtime filter /
    sideways information passing): build on the small/filtered side,
    ship the bits, drop non-matching probe rows BEFORE the real
    join's shuffle."""
    kc = key if not isinstance(key, str) else F.col(key)
    i = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i")
    return (
        # SQL membership semantics: NULL is never a member (a null key
        # would also produce a null position and crash the bitmap fold)
        df.filter(kc.isNotNull())
        .select(_bloom_h1(kc).alias("__h1"), _bloom_h2(kc).alias("__h2"))
        .select("__h1", "__h2", i)
        .select(((F.col("__h1") + F.col("__i") * F.col("__h2")) % mbits)
                .alias("pos"))
        .distinct()
    )


def bloom_words(
    df: DataFrame,
    key,
    mbits: int = 1 << 17,
    k: int = 5,
) -> DataFrame:
    """Bloom filter BUILD, word-folded: the (w, bits) 64-bit-word table
    of the same m-bit / k-hash filter :func:`bloom_bits` describes —
    but in ONE shuffle instead of two.  ``bit_or`` is idempotent, so
    the positions need no distinct pass first: the n*k raw position
    rows map-side-combine straight into <= mbits/64 words.  Use this
    as the build side of :func:`bloom_prefilter`; keep
    :func:`bloom_bits` when the individual set-bit positions are the
    product (e.g. the SQL-oracle replay)."""
    kc = key if not isinstance(key, str) else F.col(key)
    i = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i")
    return (
        df.filter(kc.isNotNull())
        .select(_bloom_h1(kc).alias("__h1"), _bloom_h2(kc).alias("__h2"))
        .select("__h1", "__h2", i)
        .select(((F.col("__h1") + F.col("__i") * F.col("__h2")) % mbits)
                .alias("pos"))
        .select(F.expr("pos div 64").alias("w"),
                F.expr("shiftleft(1L, int(pos % 64))").alias("b"))
        .groupBy("w").agg(F.expr("bit_or(b)").alias("bits"))
    )


def _bloom_h1(kc):
    h = F.conv(F.substring(F.md5(kc.cast("string")), 1, 15), 16, 10) \
        .cast("bigint")
    return F.shiftright(h, 30)


def _bloom_h2(kc):
    h = F.conv(F.substring(F.md5(kc.cast("string")), 1, 15), 16, 10) \
        .cast("bigint")
    return (h % F.lit(1 << 30)).bitwiseOR(F.lit(1))


def bloom_prefilter(
    probe: DataFrame,
    bits: DataFrame,
    key,
    mbits: int = 1 << 17,
    k: int = 5,
) -> DataFrame:
    """Bloom filter PROBE: keep the rows of ``probe`` whose ``key``
    might be in the set behind ``bits`` (from :func:`bloom_bits` with
    the SAME mbits/k) — all true members survive, plus the bloom's
    false positives (~(1-e^{-kn/m})^k).

    Plan shape: the position table is folded into a REAL bitmap
    (mbits/64 uint64 words) that rides to every executor in the Arrow
    kernel's closure (the broadcast-variable pattern of _assign_udf /
    _shingle_band_vec) — the probe is then a PURE MAP: one md5 per row,
    k integer double-hash probes against the in-memory bitmap, zero
    joins, zero shuffles, zero re-evaluations of the build side.  This
    mirrors what Spark's own runtime bloom filters
    (InjectRuntimeFilter) materialize; the bounded driver collect
    (<= mbits rows) is the same class as the IVF seed or moments
    collects.  A Column-expression probe was tried first and rejected:
    CollapseProject inlines h1/h2 into every one of the k conjuncts,
    so the plan evaluates 4k md5 calls per row (measured 9 s vs the
    kernel's sub-second at sf0.1).  The false-positive rows are
    exactly reproducible from the hash math, so an exact-SQL oracle
    verifies the filter bit-for-bit."""
    if mbits > (1 << 26):
        raise ValueError(
            f"mbits {mbits} > 2^26: the closure bitmap would exceed "
            "8 MB — shard the filter or raise the threshold")
    import numpy as np

    kc = key if not isinstance(key, str) else F.col(key)
    # fold positions into 64-bit words JVM-SIDE (bit_or agg): the
    # driver then pulls <= mbits/64 rows instead of every set bit —
    # collecting the raw position table through py4j dominated the
    # build cost before this.  A (w, bits) frame from bloom_words is
    # accepted directly (one build shuffle instead of distinct + fold).
    if set(bits.columns) == {"w", "bits"}:
        word_rows = bits.collect()
    else:
        word_rows = (
            bits.select(F.expr("pos div 64").alias("w"),
                        F.expr("shiftleft(1L, int(pos % 64))").alias("b"))
            .groupBy("w").agg(F.expr("bit_or(b)").alias("bits"))
            .collect()
        )
    words = np.zeros(mbits // 64, dtype=np.uint64)
    for r in word_rows:
        words[int(r["w"])] = np.uint64(int(r["bits"]) & ((1 << 64) - 1))

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def might_contain(keys: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        # NULL keys are never contained (pandas would otherwise render
        # None as the literal string 'None' and hash it — an engine
        # divergence the SQL twin cannot reproduce)
        null_mask = keys.isna().to_numpy()
        vals = keys.fillna("").astype(str).to_numpy()
        h = np.fromiter(
            (int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
             for v in vals),
            dtype=np.uint64, count=len(vals))
        h1 = h >> np.uint64(30)
        h2 = (h & np.uint64((1 << 30) - 1)) | np.uint64(1)
        ok = np.ones(len(vals), dtype=bool)
        for i in range(k):
            p = (h1 + np.uint64(i) * h2) % np.uint64(mbits)
            bit = (words[(p >> np.uint64(6)).astype(np.int64)]
                   >> (p & np.uint64(63))) & np.uint64(1)
            ok &= bit.astype(bool)
        ok &= ~null_mask
        return pd.Series(ok)

    return probe.filter(might_contain(kc.cast("string")))


def robust_zscores(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    id_col: str = "event_id",
    scale: int = 10 ** 6,
) -> DataFrame:
    """Median/MAD robust z-score per group — the outlier gauge that one
    corrupt spike cannot drag (unlike mean/stddev, whose breakdown
    point is 0%): z = (x - median) / MAD with MAD = median(|x - med|).

    Rank-based and engine-exact: values land on the ``scale`` grid,
    both medians are LOWER medians (the element at rank
    ``(n+1) div 2`` of the sorted sequence — no interpolation), and
    the z is ``sign * floor(|x - med| * 1e6 / mad)`` computed in
    DOUBLE with the same operation order on both engines — integer
    ``div`` would ANSI-overflow on a hostile spike (|d| * 1e6 > 2^63
    kills the whole job), while the double path stays engine-identical
    at any magnitude (beyond 2^53 grid units it loses exactness to the
    SAME IEEE rounding on both sides).  Sign-split because Spark's
    ``div``/DuckDB's ``//`` disagree on negatives anyway.

    Non-finite values are dropped up front (ANSI audit).  Scale shape
    (r12): everything rides ONE exchange on the group key — the rank
    window establishes the partitioning, and each median is spread
    back per-row by ``first(when(rank == target, v), ignorenulls)``
    over the unbounded same-partition frame (exactly one row matches,
    so the unordered frame is deterministic), instead of filtering
    the median out into a 1-row-per-group frame and joining it back.
    The previous two-join shape paid a second exchange plus a
    SortMergeJoin; the r12 interleaved A/B (full 100k-row output
    asserted identical) won all 8 gated rounds, min 0.97 s vs 1.64,
    median 1.29 vs 1.98 at sf0.1 — and at scale the win is the same
    argument as any shared-exchange window chain (guide §2.4).

    Returns (group, id, v, z_e6) for rows with MAD > 0."""
    from pyspark.sql.window import Window

    vd = F.col(value_col).cast("double")
    v = F.floor(vd * scale + F.lit(0.5)).cast("bigint")
    fin = df.filter(~F.isnan(vd) & (F.abs(vd) != float("inf"))).select(
        F.col(group_col).alias("g"), F.col(id_col).alias("id"),
        v.alias("v"),
    )
    wg = Window.partitionBy("g")
    full = wg.rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing)
    w = Window.partitionBy("g").orderBy("v")
    ranked = fin.withColumn("__r", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(wg))
    dev = ranked.withColumn(
        "__med",
        F.first(F.when(F.col("__r") == F.expr("(__n + 1) div 2"),
                       F.col("v")), ignorenulls=True).over(full),
    ).withColumn("__d", F.abs(F.col("v") - F.col("__med")))
    wd = Window.partitionBy("g").orderBy("__d")
    out = dev.withColumn("__rd", F.row_number().over(wd)).withColumn(
        "__mad",
        F.first(F.when(F.col("__rd") == F.expr("(__n + 1) div 2"),
                       F.col("__d")), ignorenulls=True).over(full),
    )
    return (
        out.filter(F.col("__mad") > 0)
        .select(
            F.col("g").alias(group_col), F.col("id").alias(id_col),
            "v",
            (F.signum(F.col("v") - F.col("__med")).cast("bigint")
             * F.expr("floor(abs(v - __med) * 1000000.0 / __mad)"))
            .cast("bigint").alias("z_e6"),
        )
    )
