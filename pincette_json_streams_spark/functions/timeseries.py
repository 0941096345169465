"""Time-series operators: as-of join and gap-based sessionization.

Neither exists as a Spark built-in; both are classic needs of event-log /
feature-engineering pipelines (and both are native in DuckDB/kdb, which
gives the correctness gate an exact oracle).

Scale design: each operator is ONE shuffle on the entity key followed by a
per-partition sort — the same cost envelope as any keyed window function.
No UDFs, no per-row subqueries, no broadcast of the big side; skewed
entity keys are the usual mitigation territory (AQE skew handling / key
salting upstream).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "asof_join", "counter_increase", "ewma_halflife", "forward_fill",
    "interval_join", "mean_shift_changepoints", "retention_cohorts",
    "sessionize", "sessionize_stream", "theil_sen_slopes",
    "time_bucket_gapfill",
]


def mean_shift_changepoints(
    df,
    by: str = "event_type",
    ts: str = "ts_nanos",
    value_col: str = "value",
    id_col: str = "event_id",
    window: int = 50,
    top: int = 5,
    scale: int = 10 ** 6,
):
    """Changepoint scan: per group, the ``top`` timestamps where the
    mean of the next ``window`` observations shifts most against the
    mean of the previous ``window`` (the sliding two-sample test that
    approximates offline changepoint detection without CUSUM's
    sequential recursion — which no SQL window can express and no
    oracle could replay).

    Determinism/scale contract:
      * values collapse to the ``scale`` integer grid first;
      * only FULL windows compete (count == window on both sides), so
        the two sides have identical weight and the mean shift is
        proportional to the raw SUM difference — the score
        ``shift = sum_after - sum_before`` is pure int64, no division,
        no floats, engine-identical;
      * ranking is (|shift| desc, ts, id) — a total order.

    One keyed exchange: both frames and the rank window share the
    (group, ts, id) sort, so Spark plans a single shuffle + sort and
    reuses it for all three window functions.

    -> (group, rank, id, shift_e6) with shift in grid units.
    """
    from pyspark.sql.window import Window as _W

    vd = F.col(value_col).cast("double")
    base = df.filter(
        ~F.isnan(vd) & (F.abs(vd) != float("inf"))
    ).select(
        F.col(by).alias("g"), F.col(ts).alias("t"),
        F.col(id_col).alias("id"),
        F.floor(vd * scale + F.lit(0.5)).cast("bigint").alias("v"),
    )
    order = _W.partitionBy("g").orderBy("t", "id")
    before = order.rowsBetween(-window, -1)
    after = order.rowsBetween(_W.currentRow, window - 1)
    scored = base.select(
        "g", "t", "id",
        (F.sum("v").over(after) - F.sum("v").over(before))
        .alias("shift_e6"),
        F.count(F.lit(1)).over(before).alias("__cb"),
        F.count(F.lit(1)).over(after).alias("__ca"),
    ).filter((F.col("__cb") == window) & (F.col("__ca") == window))
    rank_w = _W.partitionBy("g").orderBy(
        F.abs(F.col("shift_e6")).desc(), F.col("t").asc(),
        F.col("id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(rank_w)
                          .cast("long"))
        .filter(F.col("rank") <= top)
        .select(F.col("g").alias(by), "rank", F.col("id").alias(id_col),
                "shift_e6")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_on: Optional[str] = None,
    right_by: Optional[str] = None,
    as_field: str = "matched",
    tiebreak: Optional[str] = None,
    bucket_span: Optional[int] = None,
) -> DataFrame:
    """Backward as-of join: for every left row, the right row with the
    greatest ``right_on`` <= ``on`` within the same ``by`` group (the
    match is inclusive, like DuckDB ``ASOF JOIN`` with ``>=``).  Right
    columns arrive in a struct column ``as_field`` (NULL when nothing
    precedes the left row).

    Implementation is the union trick: tag both sides, union them, sort
    each ``by`` partition on (time, side) and carry the last-seen right
    row forward with ``last(ignorenulls)`` over an unbounded-preceding
    running window — then keep only left rows.  One shuffle total (the
    window's partitionBy), versus the naive per-left-row range join
    which is O(left x right) within each key.

    **Skew**: with the plain form a hot entity key sorts in ONE task.
    Pass ``bucket_span`` (time units per bucket; e.g. a day of epoch
    nanos) to partition each key's timeline into
    ``floor(ts / bucket_span)`` buckets: the running window then works
    per (key, bucket) — a hot key spreads over its buckets — and
    bucket-boundary matches are restored from a per-(key, bucket)
    carry table (one row per non-empty bucket) whose prefix scan is
    tiny.  Output is identical to the unbucketed form (property-
    tested).

    ``on``/``right_on`` must be mutually comparable (use epoch longs
    across mixed timestamp flavors).  With ``tiebreak`` (a right-side
    column), equal-timestamp right rows resolve to the greatest tiebreak
    value; otherwise ties are arbitrary — pre-aggregate the right side
    to one row per (key, time) for fully deterministic output.
    """
    right_on = right_on or on
    right_by = right_by or by
    l_struct = F.struct(*[F.col(c) for c in left.columns])
    r_struct = F.struct(*[F.col(c) for c in right.columns])
    l_type = left.select(l_struct.alias("s")).schema[0].dataType
    r_type = right.select(r_struct.alias("s")).schema[0].dataType

    l2 = left.select(
        F.col(by).alias("__by"),
        F.col(on).alias("__ts"),
        F.lit(1).alias("__side"),
        l_struct.alias("__l"),
        F.lit(None).cast(r_type).alias("__r"),
    )
    r2 = right.select(
        F.col(right_by).alias("__by"),
        F.col(right_on).alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(l_type).alias("__l"),
        r_struct.alias("__r"),
    )
    order: list[Column] = [F.col("__ts"), F.col("__side")]
    if tiebreak is not None:
        # after (__ts, __side): right rows of the same instant sort among
        # themselves by tiebreak (greatest wins the running last());
        # left rows still sort after all of them
        order.append(F.col("__r")[tiebreak])

    if bucket_span is None:
        w = (
            Window.partitionBy("__by")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        matched = (
            l2.unionByName(r2)
            .withColumn("__m", F.last("__r", ignorenulls=True).over(w))
            .filter(F.col("__side") == 1)
        )
        return matched.select("__l.*", F.col("__m").alias(as_field))

    u = l2.unionByName(r2).withColumn(
        "__b", F.floor(F.col("__ts") / F.lit(int(bucket_span)))
    )
    w_in = (
        Window.partitionBy("__by", "__b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    in_bucket = u.withColumn(
        "__m", F.last("__r", ignorenulls=True).over(w_in)
    )
    # carry table: the latest right row of each non-empty (key, bucket),
    # then for every bucket in the spine the latest right row of any
    # STRICTLY EARLIER bucket — tiny (one row per key-bucket), so its
    # key-partitioned prefix window is never the skew bottleneck
    rank = F.struct(
        F.col("__ts"),
        F.col("__r")[tiebreak] if tiebreak is not None else F.lit(0),
    )
    rb = (
        u.filter(F.col("__side") == 0)
        .groupBy("__by", "__b")
        .agg(F.max_by("__r", rank).alias("__last"))
    )
    spine = u.select("__by", "__b").distinct()
    w_seed = (
        Window.partitionBy("__by")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seeds = (
        spine.join(rb, ["__by", "__b"], "left")
        .withColumn("__seed", F.last("__last", ignorenulls=True)
                    .over(w_seed))
        .select("__by", "__b", "__seed")
    )
    matched = (
        in_bucket.filter(F.col("__side") == 1)
        .join(seeds, ["__by", "__b"], "left")
        .withColumn("__m2", F.coalesce(F.col("__m"), F.col("__seed")))
    )
    return matched.select("__l.*", F.col("__m2").alias(as_field))


def sessionize(
    df: DataFrame,
    by: str,
    ts: str,
    gap: int,
    tiebreak: Optional[Sequence[str]] = None,
    out: str = "session_id",
    bucket_span: Optional[int] = None,
) -> DataFrame:
    """Gap-based sessionization: within each ``by`` group ordered by
    ``ts``, a new session starts when the gap to the previous row is
    STRICTLY greater than ``gap`` (same units as ``ts`` — use epoch
    longs).  Adds ``out``: the 1-based session index per group.

    lag + running sum over one keyed window — a single shuffle; session
    aggregation afterwards groups on (by, session_id) and reuses the
    same partitioning.

    **Skew**: as with ``asof_join``, pass ``bucket_span`` to split each
    key's timeline into time buckets.  Rows get LOCAL session ids per
    (key, bucket); a per-bucket summary (first/last ts, session count —
    one row per non-empty bucket) is prefix-scanned per key to derive
    each bucket's global offset and whether its first session continues
    the previous bucket's last session.  Output is identical to the
    plain form (property-tested)."""
    order = [F.col(ts)] + [F.col(c) for c in (tiebreak or [])]

    if bucket_span is None:
        w = Window.partitionBy(by).orderBy(*order)
        new_session = (
            F.when(
                (F.col(ts) - F.lag(ts).over(w) > gap)
                | F.lag(ts).over(w).isNull(),
                1,
            )
            .otherwise(0)
        )
        running = (
            Window.partitionBy(by)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn("__new", new_session).withColumn(
            out, F.sum("__new").over(running)
        ).drop("__new")

    b = F.floor(F.col(ts) / F.lit(int(bucket_span)))
    w_local = Window.partitionBy(by, "__b").orderBy(*order)
    run_local = w_local.rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = (
        df.withColumn("__b", b)
        .withColumn(
            "__new",
            F.when(
                (F.col(ts) - F.lag(ts).over(w_local) > gap)
                | F.lag(ts).over(w_local).isNull(),
                1,
            ).otherwise(0),
        )
        .withColumn("__lsid", F.sum("__new").over(run_local))
    )
    summary = local.groupBy(by, "__b").agg(
        F.min(ts).alias("__first"),
        F.max(ts).alias("__last"),
        F.max("__lsid").alias("__n"),
    )
    w_key = Window.partitionBy(by).orderBy("__b")
    # first local session merges into the previous bucket's last session
    # when the cross-boundary gap is within `gap`
    merged = summary.withColumn(
        "__merge",
        F.when(
            F.col("__first") - F.lag("__last").over(w_key) <= gap, 1
        ).otherwise(0),
    ).withColumn(
        "__offset",
        F.coalesce(
            F.sum(F.col("__n") - F.col("__merge")).over(
                w_key.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    return (
        local.join(
            merged.select(by, "__b", "__merge", "__offset"), [by, "__b"]
        )
        .withColumn(
            out, F.col("__offset") + F.col("__lsid") - F.col("__merge")
        )
        .drop("__b", "__new", "__lsid", "__merge", "__offset")
    )


def forward_fill(
    df: DataFrame,
    cols: Sequence[str],
    by: str,
    order: Sequence[str],
) -> DataFrame:
    """LOCF forward fill: each NULL in ``cols`` takes the latest
    preceding non-null value within its ``by`` group under ``order`` —
    the standard sensor/event gap repair.  One keyed window shuffle for
    all filled columns together."""
    w = (
        Window.partitionBy(by)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def time_bucket_gapfill(
    df: DataFrame,
    by: str,
    ts: str,
    bucket: int,
    aggs: dict[str, Column],
    fill_zero: Sequence[str] = (),
    max_buckets: int = 10_000_000,
) -> DataFrame:
    """Time-bucketed rollup WITH gap rows (TimescaleDB's
    ``time_bucket_gapfill``): aggregate per (key, floor(ts / bucket)),
    then emit every bucket between each key's first and last — empty
    buckets appear with NULLs (or 0 for ``fill_zero`` columns).

    Two hash aggs (rollup + per-key bounds, both map-side combining) and
    one join back; the grid explode generates only (key, bucket) pairs,
    never touches the raw rows again.  A key spanning more than
    ``max_buckets`` (one corrupt epoch — e.g. millis where seconds were
    expected — would otherwise explode a multi-hundred-million-row grid
    and OOM the executor) fails fast with an actionable error."""
    b = F.floor(F.col(ts) / F.lit(int(bucket)))
    rolled = df.groupBy(F.col(by), b.alias("bucket")).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    bounds = rolled.groupBy(by).agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    # the guard lives INSIDE the sequence bound: a when/otherwise
    # evaluates its condition before either branch, so the error fires
    # before sequence() can allocate (a detached assert column has no
    # evaluation-order guarantee against the explode)
    hi_checked = F.when(
        F.col("__hi") - F.col("__lo") < F.lit(int(max_buckets)),
        F.col("__hi"),
    ).otherwise(F.raise_error(F.concat(
        F.lit("time_bucket_gapfill: key "),
        F.col(by).cast("string"),
        F.lit(f" spans over {int(max_buckets)} buckets — "
              "corrupt timestamp or wrong bucket width"),
    )).cast("long"))
    grid = bounds.select(
        F.col(by),
        F.explode(F.sequence(F.col("__lo"), hi_checked)).alias("bucket"),
    )
    out = grid.join(rolled, [by, "bucket"], "left")
    for c in fill_zero:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


def sessionize_stream(
    df: DataFrame,
    by: str,
    ts: str,
    gap_duration: str,
    watermark: str = "1 hour",
    aggs: Optional[dict[str, Column]] = None,
) -> DataFrame:
    """Streaming sessionization over Spark's NATIVE session window —
    state management, session merging and late-data expiry come from
    the engine (no custom ``applyInPandasWithState`` needed).  ``ts``
    must be a timestamp column; ``gap_duration`` e.g. ``"8 hours"``.

    Emits one row per closed session (watermark passed) with
    ``session_start``/``session_end`` plus ``aggs`` (default: event
    count).  Boundary nuance vs the batch ``sessionize``: the native
    window starts a new session when the gap is >= gap_duration, while
    the batch twin uses strictly-greater — equal-to-gap events land in
    the previous session there."""
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    win = F.session_window(F.col(ts), gap_duration)
    return (
        df.withWatermark(ts, watermark)
        .groupBy(F.col(by), win)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(
            F.col(by),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *aggs.keys(),
        )
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_nanos_col: str = "ts_nanos",
    period_ns: int = 86_400_000_000_000,
) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    cohort by their first-activity period; each (cohort, offset) cell
    counts the cohort's users active `offset` periods later, plus the
    retention rate against the cohort size.

    Plan shape at scale: one distinct over (user, period) — map-side
    combine kills repeat events per user-period before the shuffle —
    a per-user min for the cohort (same shuffled key, reused), one
    equi-join on user, one final (cohort, offset) aggregation.  No
    window over the raw event stream, nothing quadratic."""
    per = (F.col(ts_nanos_col) / F.lit(int(period_ns))).cast("long")
    active = (
        df.select(F.col(user_col).alias("u"), per.alias("p"))
        .distinct()
    )
    first = active.groupBy("u").agg(F.min("p").alias("cohort"))
    cells = (
        active.join(first, "u")
        .groupBy("cohort", (F.col("p") - F.col("cohort")).alias("offset"))
        .agg(F.count_distinct("u").cast("long").alias("n_users"))
    )
    sizes = cells.filter(F.col("offset") == 0).select(
        "cohort", F.col("n_users").alias("__size"))
    return (
        cells.join(sizes, "cohort")
        .select(
            "cohort", "offset", "n_users",
            F.round(F.col("n_users") / F.col("__size"), 4)
            .alias("retention"),
        )
    )


def counter_increase(
    df: DataFrame,
    by: str,
    ts: str,
    value: str,
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """PromQL-style ``increase``/``rate`` over monotonic counters with
    resets: per key ordered by ``ts``, each step contributes
    ``v - prev`` when the counter grew and ``v`` after a reset (the
    counter restarted from ~0, so its whole current value is new
    growth) — exactly Prometheus's extrapolation-free reset rule.

    -> one row per key: ``n_samples, n_resets, increase, span,
    rate`` (increase / span of the ``ts`` column's units; NULL for a
    single sample).  One keyed window + one hash aggregate; at scale
    the window and the aggregate share the same hash partitioning, so
    Catalyst plans a single exchange."""
    w = Window.partitionBy(by).orderBy(
        F.col(ts), *[F.col(c) for c in tiebreak])
    prev = F.lag(value).over(w)
    step = F.when(prev.isNull(), F.lit(None)).when(
        F.col(value) >= prev, F.col(value) - prev
    ).otherwise(F.col(value))
    reset = F.when(prev.isNotNull() & (F.col(value) < prev), 1) \
        .otherwise(0)
    stepped = df.select(
        F.col(by), F.col(ts).alias("__ts"), step.alias("__step"),
        reset.alias("__reset"),
    )
    agg = stepped.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum("__reset").cast("long").alias("n_resets"),
        F.sum("__step").alias("increase"),
        (F.max("__ts") - F.min("__ts")).alias("span"),
    )
    return agg.withColumn(
        "rate",
        F.when(F.col("span") > 0, F.col("increase") / F.col("span")),
    )


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    ts: str,
    start: str,
    end: str,
    by: "str | None" = None,
    bucket: "int | None" = None,
    how: str = "inner",
) -> DataFrame:
    """Point-in-interval join (event ts within [start, end], inclusive)
    — the range join Spark would otherwise plan as a cartesian product
    with a post-filter.

    Bucketed decomposition: each event maps to ONE coarse bucket
    (floor(ts / bucket)); each interval EXPLODES to the buckets it
    covers (rows proportional to interval length / bucket, the knob).
    The join is then a pure equi-join on ([by,] bucket) + an exact
    range filter on the candidates — no cross product anywhere, skew
    bounded by events-per-bucket.  ``bucket`` defaults to the median
    interval length estimated from a bounded sample (the classic
    range-join bin sizing); pass it explicitly in production.
    ``how='left_outer'`` keeps unmatched events with NULL interval
    columns (one row per event via a matched anti-join union)."""
    if bucket is None:
        sample = intervals.select(
            (F.col(end) - F.col(start)).alias("len")
        ).limit(10_000)
        med = sample.agg(
            F.percentile_approx("len", 0.5).alias("m")).first()["m"]
        bucket = max(int(med or 1), 1)
    b = int(bucket)
    if how not in ("inner", "left_outer"):
        raise ValueError(f"interval_join how={how!r}")
    # left_outer needs a surrogate event key: anti-joining on the full
    # event column list is null-UNSAFE (a matched event carrying a NULL
    # in any non-join column fails the anti-join equality and would be
    # emitted twice — once matched, once as unmatched).  The tagged
    # frame is localCheckpoint-ed (lazy): monotonically_increasing_id
    # depends on partition layout and the subtree is evaluated TWICE
    # (candidates + anti-join) — without materialization a recompute
    # under a different layout could re-key rows between the sides.
    tagged = (events if how == "inner"
              else events.withColumn(
                  "__eid", F.monotonically_increasing_id())
              .localCheckpoint(eager=False))
    ev = tagged.withColumn("__b", F.floor(F.col(ts) / b).cast("long"))
    # guard inside the sequence bound (see time_bucket_gapfill): an
    # interval spanning an absurd bucket count fails fast instead of
    # exploding the bucket join
    __end_checked = F.when(
        F.floor(F.col(end) / b) - F.floor(F.col(start) / b)
        < F.lit(10_000_000),
        F.floor(F.col(end) / b).cast("long"),
    ).otherwise(F.raise_error(F.concat(
        F.lit("interval spans over 10000000 join buckets — corrupt "
              "bound or wrong bucket width: "),
        F.col(start).cast("string"), F.lit(".."),
        F.col(end).cast("string"),
    )).cast("long"))
    iv = intervals.withColumn(
        "__b",
        F.explode(F.sequence(
            F.floor(F.col(start) / b).cast("long"),
            __end_checked,
        )),
    )
    on = ["__b"] if by is None else [by, "__b"]
    cand = ev.join(iv, on, "inner").where(
        (F.col(ts) >= F.col(start)) & (F.col(ts) <= F.col(end))
    ).drop("__b")
    if how == "inner":
        return cand
    unmatched = tagged.join(
        cand.select("__eid").dropDuplicates(["__eid"]),
        "__eid", "left_anti")
    return cand.drop("__eid").unionByName(
        unmatched.drop("__eid"), allowMissingColumns=True)


def ewma_halflife(
    df: DataFrame,
    order_by: "Sequence[str]",
    value_col: str = "value",
    group_col: str = "user_id",
    window: int = 8,
    scale: int = 10 ** 6,
) -> DataFrame:
    """Exponentially-weighted moving average with decay 1/2 per step
    over a bounded trailing window — the smoothing primitive of metric
    drift detectors and per-entity engagement scores.

    Engine-exact by construction: the input lands on an integer
    ``scale`` grid, the weights are powers of two (element j of the
    trailing frame weighs 2^j, so the newest point weighs 2^(L-1)),
    and both the weighted numerator and the denominator (2^L - 1 for a
    full frame) are bigint sums — the ONLY float op is the final
    division, one IEEE op both engines perform on identical integers.
    Non-finite values are dropped up front (ANSI-mode audit: one NaN
    row must never poison a window).

    Scale shape: one shuffle on ``group_col``, a per-partition sort,
    and a ``collect_list`` over a frame of at most ``window`` rows —
    the same cost envelope as any keyed window function; the frame
    bound keeps state O(window) per row at any data size.

    Returns (group, ordering cols, n_in_frame, ewma_num, ewma_den,
    ewma) per input row."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(*[F.col(c).asc() for c in order_by])
        .rowsBetween(-(window - 1), 0)
    )
    v = F.floor(F.col(value_col).cast("double") * scale + F.lit(0.5)) \
        .cast("bigint")
    fin = df.filter(
        ~F.isnan(F.col(value_col).cast("double"))
        & (F.abs(F.col(value_col).cast("double")) != float("inf"))
    ).withColumn("__v", v)
    framed = fin.withColumn("__frame", F.collect_list("__v").over(w))
    # SQL expr: the PySpark shiftleft wrapper only takes literal ints,
    # but the SQL function accepts the per-element index column
    num = F.expr(
        "aggregate(zip_with(__frame, sequence(0, size(__frame) - 1),"
        " (x, j) -> x * shiftleft(1L, j)), 0L, (acc, t) -> acc + t)"
    )
    den = F.expr("shiftleft(1L, size(__frame)) - 1")
    out = framed.select(
        group_col, *order_by,
        F.size("__frame").alias("n_in_frame"),
        num.alias("ewma_num"),
        den.alias("ewma_den"),
    )
    return out.withColumn(
        "ewma",
        F.floor(F.col("ewma_num") / F.col("ewma_den") + F.lit(0.5))
        .cast("bigint"),
    )


def theil_sen_slopes(
    df: DataFrame,
    ts_col: str = "ts_nanos",
    value_col: str = "value",
    group_col: str = "user_id",
    id_col: str = "event_id",
    max_points: int = 64,
    scale: int = 10 ** 6,
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes — up to ~29% corrupt points cannot flip the trend estimate
    (the regression sibling of the median/MAD z-score).

    Determinism/scale contract:
      * each group keeps its ``max_points`` earliest rows by (ts, id)
        — the cap bounds the quadratic pair step at
        max_points^2/2 pairs per group no matter the data size;
      * timestamps collapse to integer SECONDS and values to the
        ``scale`` grid, so every slope is the SAME IEEE division on
        both engines; equal-time pairs are excluded (vertical slope);
      * the median is the LOWER median of the sorted slope VALUES.
        Slope ties cannot change the selected value, and the slope set
        itself is engine-identical (same integer subtractions, same
        IEEE division; t strictly increases within a pair so -0.0
        cannot arise), so sorting plain doubles — a native, codegen
        sort — replaces the old (slope, i, j) struct sort whose
        comparator does not codegen; the slope is computed over grid
        values, so it is ALREADY in 1e-6 value-units per second — the
        output just rounds it half-up to an integer.

    Measurement lesson: a bare ``.count()`` on this aggregate lets
    Catalyst PRUNE the collect_list/array_sort work, so any A/B that
    counts the unsorted aggregate measures a skeleton plan — time the
    full consumer (the top-k wrapper or ``.collect()``).  Honest
    wrapped interleaved timings at sf0.1: a generator shape 3.6-4.4 s
    (its 0.7 s record was the pruned skeleton), a struct-sort self-join
    1.8-3.1 s, this shape (self-join pairs + plain-double median)
    1.25-1.66 s.  A one-shuffle ``applyInPandas`` numpy kernel measured
    slower still (2.93 s against 2.17 s at max_points=64, local[32]):
    the Python-worker launch and Arrow transfer outweigh the join it
    saves.

    Returns (group, n_points, n_pairs, slope_e6)."""
    from pyspark.sql.window import Window

    vd = F.col(value_col).cast("double")
    base = df.filter(~F.isnan(vd) & (F.abs(vd) != float("inf"))).select(
        F.col(group_col).alias("g"),
        F.expr(f"{ts_col} div 1000000000").alias("t"),
        F.floor(vd * scale + F.lit(0.5)).cast("bigint").alias("v"),
        F.col(id_col).alias("id"),
    )
    w = Window.partitionBy("g").orderBy("t", "id")
    # pts feeds both pair sides; the lazy lineage cut materializes the
    # cap-bounded frame once instead of running the window sort twice
    pts = base.withColumn("r", F.row_number().over(w)) \
        .filter(F.col("r") <= max_points) \
        .localCheckpoint(eager=False)
    a = pts.select("g", F.col("t").alias("t1"), F.col("v").alias("v1"),
                   F.col("r").alias("r1"))
    b = pts.select(F.col("g").alias("g2"), F.col("t").alias("t2"),
                   F.col("v").alias("v2"), F.col("r").alias("r2"))
    pairs = (
        a.join(b, (F.col("g") == F.col("g2"))
               & (F.col("r1") < F.col("r2")))
        .filter(F.col("t1") != F.col("t2"))
        .select("g", "r2",
                ((F.col("v2") - F.col("v1")).cast("double")
                 / (F.col("t2") - F.col("t1")).cast("double"))
                .alias("slope"))
    )
    # n_points folds into the SAME aggregation as max(r2): a group only
    # appears here if it has >= 1 distinct-time pair, and then its last
    # point (row_number n) always partners some earlier point — t is
    # sort-ascending, so "every earlier t equals t_n" would mean ALL
    # timestamps are equal and the group has no pairs at all.
    med = (
        pairs.groupBy("g")
        .agg(
            F.array_sort(F.collect_list("slope")).alias("__ps"),
            F.max("r2").alias("n_points"),
        )
        .select(
            "g",
            "n_points",
            F.size("__ps").alias("pn"),
            F.expr(
                "element_at(__ps, int((size(__ps) + 1) div 2))"
            ).alias("slope"),
        )
    )
    return med.select(
        F.col("g").alias(group_col),
        F.col("n_points").cast("long").alias("n_points"),
        F.col("pn").cast("long").alias("n_pairs"),
        F.floor(F.col("slope") + F.lit(0.5)).cast("bigint")
        .alias("slope_e6"),
    )
