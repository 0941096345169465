"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall times.

Numbers are compared against BASELINE.md (the reference's design-capacity
envelope — it publishes no benchmarks, SURVEY.md §6), so the headline
metric is total seconds over the suite plus derived rows/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# the heavier, scale-relevant subset: full-table aggregations, joins,
# dedup family, ANN, text analysis.  Cheap per-row galleries are covered by
# the correctness gate; benchmarking them would just measure Spark startup.
BENCH_QUERIES = [
    "pricing_summary",
    "segment_revenue",
    "region_revenue",
    "top_customers",
    "lookup_array",
    "lookup_pipeline",
    "join_part",
    "events_funnel",
    "unwind_words",
    "group_accumulators",
    "dedup_stage",
    "text_stats",
    "dedup_exact",
    "dedup_minhash",
    "dedup_ngram",
    "dedup_simhash",
    "ann_topk",
    "ann_ivf",
    "quality_filter",
    "repetition_stats",
    "contamination",
    "lm_score",
    "asof_join",
    "sessionize_events",
    "chunk_docs",
    "domain_mix",
    "pack_sequences",
    "dedup_incremental",
    "token_drift",
    "kmv_distinct",
    "salted_revenue",
    "retention_cohorts",
    # round-3 additions
    "dup_spans",
    "strip_spans",
    "window_fields",
    "url_dedup",
    "zorder_key",
    "semantic_dedup",
    "densify_fill",
    "facet_summary",
    "cms_heavy",
    "weighted_sample",
    "decontaminate",
    "graph_lookup",
    "bpe_pairs",
    "bpe_encode",
    "window_modern",
    "date_parts",
    "json_schema",
    "bigram_lm",
    "counter_rate",
    "emb_pca",
    "lookup_topn",
    "rollup_revenue",
    "interval_hits",
    # round-4 additions
    "merge_modes",
    "tz_gallery",
    # the dedup keystone: LSH pairs -> connected components -> survivor
    # selection (Spark's iterative joins beat the oracle's recursive CTE
    # ~4.5x at sf0.1 — the most scale-relevant query in the suite)
    "dedup_canonical",
    # round-5 additions: sketch + fingerprint + ranking + PQ families
    "hll_distinct",
    "winnow_pairs",
    "bm25_topk",
    "dsir_weights",
    "pq_adc",
    # round-6 addition: LSH pair verification (real join+DP work; the
    # embedding_outliers query is correctness-gated but NOT benched —
    # at sf0.1's 2k vectors it is pure fixed job overhead vs an
    # in-process engine, i.e. it would measure Spark startup, the same
    # policy that excludes the per-row galleries)
    "dedup_verify",
    # HDR quantile sketch: one hash-agg over the biggest table
    "hdr_quantiles",
    # round-6 additions: join pruning, graph ranking, hybrid retrieval
    # (pq_refined is correctness-gated but not benched — same
    # fixed-overhead policy as embedding_outliers: the embeddings table
    # is 2k rows at sf0.1)
    "bloom_prefilter",
    "pagerank_top",
    "hybrid_rrf",
    "ewma_drift",
    "prefix_jaccard",
    "hll_windowed",
    "graph_triangles",
    "robust_outliers",
    "collocations_npmi",
    "attribution_lasttouch",
    "theil_sen_trend",
    "seasonal_profile",
    # round-7 additions: KMV set-operation overlap (sketch + all-pairs)
    # and the composed curation funnel (dedup + quality + decontaminate)
    "kmv_overlap",
    "curation_funnel",
    # round-8 additions: binary-sketch ANN (XOR+popcount over the full
    # corpus x bounded query set) and the keyed changepoint window scan
    "ann_hamming",
    "changepoint_scan",
    # round-9 additions: the banded-LSH index over the sign-lane
    # sketches (band equi-join candidates + XOR+popcount re-rank) and
    # the exact containment join (asymmetric dedup)
    "ann_hamming_lsh",
    "dup_containment",
    "hamming_pairs",
    # round-10 additions: the df-capped posting joins (the 100 TB
    # skew guard — bounded in-array pair expansion, no posting
    # self-join) and the audio perceptual fingerprint (real WAV
    # round-trip + integer HK sketch, zero shuffle)
    "dedup_ngram_capped",
    "dup_containment_capped",
    "audio_fingerprint",
    # round-11 additions: the round-10 streaming flagships finally
    # regression-gated (the exact gap round 9 flagged for
    # hamming_pairs), plus the per-window audio family
    "hamming_probe",
    "ivf_probe",
    "audio_windows",
    "audio_near_pairs",
    # round-12 additions: the crawl ingestion tier (WARC demux +
    # HTML main-content extraction — the Arrow flat-map/map passes
    # that gate a crawl corpus before everything else)
    "html_extract",
    "warc_extract",
    "robots_filter",
    "sitemap_urls",
]

# Correctness-gated but NOT benchmarked (same policy family as
# embedding_outliers / pq_refined): audio_clusters / video_clusters
# are compositions of already-benched pieces (the near-pair operators
# + the connected-components kernel benched via dedup_canonical), and
# video_frames / video_near_dups spend their Spark time in REAL
# container decode that the SQL oracle replays as pure math — a
# Spark-vs-DuckDB wall-clock ratio there compares decode work against
# formula evaluation, not engine against engine.  A gating attempt
# this round produced only steal-contaminated runs (bench_runs/ has
# the clean 91-query witnesses); informal low-load passes measured
# video_frames ~1.0s, video_near_dups ~0.8s, audio_clusters ~4.4s at
# sf0.1.


def check_regressions(times: dict, sf, cpus, record_path: str | None = None,
                      factor: float = 2.0, allowance: float = 1.0) -> dict:
    """Per-query regression budget vs the committed record
    (bench_record.json) of the same ``sf`` and ``cpus``: a record
    taken at another core count says nothing about this host's wall
    times.  The budget base is ``budget_queries`` (the
    record run's MEDIAN-of-3 — robust for the high-variance LSH
    shuffle queries whose best pass is unrepresentative), falling back
    to ``queries`` (min-of-3).  A query flags when measured >
    ``factor`` * base + ``allowance`` — the fixed allowance absorbs
    task-launch noise on sub-second rows; beyond that is a plan
    regression worth investigating.  Reported in the payload, not
    fatal: the driver must still get its JSON line.  Returns
    {query: [measured, budget_base]}."""
    if record_path is None:
        record_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "bench_record.json")
    regressions: dict = {}
    try:
        with open(record_path) as fh:
            record = json.load(fh)
    except (OSError, ValueError):
        return regressions
    if (str(record.get("sf")) != str(sf)
            or str(record.get("cpus")) != str(cpus)):
        return regressions
    base = {**record.get("queries", {}),
            **record.get("budget_queries", {})}
    for name, t in times.items():
        ref = base.get(name)
        if ref and t > factor * ref + allowance:
            regressions[name] = [t, ref]
    return regressions


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pincette-json-streams-spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "48g")
        # default 10m broadcast threshold: big enough for every dimension
        # table, small enough not to broadcast the LSH self-join sides
        # (measured 2-3x slower when broadcast at 64m)
        .config("spark.ui.enabled", "false")
        # the console progress bar shares the driver's output streams
        # with the one-line JSON contract and has truncated it before
        # (BENCH_r03 and BENCH_r11 both lost their tail mid-line, which
        # nulled two rounds of round-over-round comparison);
        # setLogLevel("ERROR") does NOT suppress it, so turn it off
        # explicitly — the JSON line below stays the last flushed write
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()

    # untimed warmup: spin up the Python worker pool (32 concurrent numpy/
    # pandas imports otherwise stampede into the first pandas-UDF query)
    # and let codegen JIT — so timings reflect steady-state plan cost.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def warm(s: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series(np.ones(len(s)))

    (spark.range(0, 10000)
     .repartition(int(cpus))
     .select(warm(F.col("id").cast("string")).alias("x"))
     .agg(F.sum("x")).collect())
    # warm parquet footers + OS page cache so the first timed query
    # measures its plan, not cold I/O
    import glob
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        try:
            spark.read.parquet(p).limit(1).collect()
        except Exception:
            pass

    # Host CPU steal on this box inflates identical plans 3-10x for
    # minutes at a time (verified: same query 0.6 s and 47 s in adjacent
    # sessions while DuckDB held steady; round-2's reported 4x
    # region_revenue "regression" vanished on re-measure).  Three passes
    # per query, min taken, measures the plan rather than the neighbors;
    # disclosed via "passes"/"agg" and the per-pass detail below.
    # Additionally: gate the timed loop on the 1-min load average —
    # round 9 measured three full runs contaminated by EXTERNAL load
    # (loadavg to 14 with nothing of ours running); waiting out a noisy
    # window costs up to 3 minutes and is disclosed in the payload
    # (load_wait_sec / loadavg_before).
    load_before = -1.0
    load_wait = 0.0
    try:
        deadline = time.time() + 180
        load_before = os.getloadavg()[0]
        while os.getloadavg()[0] > 1.5 and time.time() < deadline:
            time.sleep(5)
            load_wait += 5
    except OSError:
        pass
    times: dict[str, float] = {}
    all_passes: dict[str, list[float]] = {}
    total_rows = 0
    for name in BENCH_QUERIES:
        fn = qs.get(name)
        if fn is None:
            continue
        runs = []
        for _ in range(3):
            t0 = time.time()
            df = fn(spark, sf_dir)
            # count() executes the whole plan, no driver-side row transfer
            n = df.count()
            runs.append(round(time.time() - t0, 3))
        times[name] = min(runs)
        all_passes[name] = runs
        total_rows += n
        # Round-10 methodology fix: many dedup queries persist() their
        # compressed group tables and nothing ever unpersisted them, so
        # 87 queries x 3 passes accumulated cached blocks until the
        # storage pool thrashed — three consecutive runs each showed a
        # DIFFERENT heavy persist-user spiking 3-8x (canonical, then
        # minhash, then ngram) while the rest of the suite sat at
        # ratio ~1.0 to the record.  Clearing between queries makes
        # every query's passes independent of suite position/size.
        spark.catalog.clearCache()

    total = round(sum(times.values()), 3)

    # second scale factor, one pass per query: per-query (sf_small,
    # sf_main) pairs separate Spark's fixed task-launch floor from the
    # data-scaling term, making the 100x extrapolation quantitative
    # (a query whose time barely moves 10x the data is constant-bound;
    # one that scales ~linearly is the number that matters at 100 TB)
    small_dir = os.environ.get("SPARK_GRAFT_SF_SMALL",
                               "/root/testdata/sf0.01")
    small_times: dict = {}
    if (os.path.isdir(small_dir)
            and os.path.abspath(small_dir) != os.path.abspath(sf_dir)):
        for name in BENCH_QUERIES:
            fn = qs.get(name)
            if fn is None:
                continue
            t0 = time.time()
            try:
                fn(spark, small_dir).count()
                small_times[name] = round(time.time() - t0, 3)
            except Exception:
                small_times[name] = None

    # streaming throughput row (BASELINE.md's second anchor: the
    # reference's 50 msg/s/instance design capacity) — best-effort so a
    # streaming hiccup can't take down the batch numbers
    try:
        from scripts.bench_streaming import measure as stream_measure

        streaming = stream_measure(spark, sf_dir)
    except Exception as e:  # pragma: no cover
        streaming = {"error": str(e)[:200]}

    regressions = check_regressions(times, sf, cpus)

    try:
        load1, load5, _ = os.getloadavg()
    except OSError:
        load1 = load5 = -1.0
    payload = json.dumps({
        "metric": "suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(times),
        "output_rows": total_rows,
        "cpus": int(cpus),
        "passes": 3,
        "agg": "min",
        "cache_cleared_between_queries": True,
        "pass_detail": all_passes,
        "sf_small": os.path.basename(small_dir).replace("sf", ""),
        "queries_small": small_times,
        "streaming": streaming,
        "regressions_vs_record": regressions,
        "loadavg_before": round(load_before, 2),
        "load_wait_sec": round(load_wait, 1),
        "loadavg_after": [round(load1, 2), round(load5, 2)],
    })
    # file copy FIRST: Spark progress bars share stdout with the JSON
    # line and have truncated it before (BENCH_r03 lost its tail) — the
    # file is the parse-safe record, stdout stays the driver contract
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_out.json"))
    try:
        with open(out_path, "w") as fh:
            fh.write(payload + "\n")
    except OSError:
        pass
    # newline FIRST so the JSON line starts at column 0 even if some
    # earlier writer (JVM logging, a progress remnant) left a partial
    # line on stdout; then the payload as the final flushed write
    sys.stdout.flush()
    print("\n" + payload, flush=True)


if __name__ == "__main__":
    main()
