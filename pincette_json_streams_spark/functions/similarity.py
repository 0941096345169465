"""Similarity search over embedding columns and integer sketches.

Top-k search, ``(query_id, rank, vec_id, ...)`` per query:

- brute_force_topk / hard_negative_topk: exact cosine, the bounded query
  set broadcast against the corpus scan;
- ivf_topk: IVF candidates (nearest-centroid lists), exact cosine
  re-rank;
- hamming_topk: exact Hamming distance between the sign-bit sketches of
  binary_signatures;
- hamming_lsh_topk: candidates from the banded Hamming index below,
  re-ranked by Hamming distance.

All five rank through ``_top_k``: ``rank`` is a bigint ``row_number``
per query, ordered by the score, ties broken by ``vec_id``.

The banded Hamming index (``_band_pairs``) serves hamming_lsh_topk,
hamming_near_pairs, hamming_probe and ``dedup.simhash_pairs``:

- bands: each sketch lane splits into ``lane_bits // band_bits``
  contiguous ``band_bits``-wide values counted from its low bit, and
  bands are numbered lane by lane; high remainder bits are in no band;
- postings: one ``(band, bv)`` row per band; with ``flips=1`` the probe
  side also posts each band value with one bit flipped;
- candidates: the equi-join on ``(band, bv)``.  A pair that collides in
  several bands keeps only the row of its lowest band whose values
  differ in at most ``flips`` bits.  The check reads the lanes both rows
  carry, so it needs no aggregation and runs unchanged on streams;
- distance: XOR and popcount, summed over the lanes.

Pigeonhole: with ``n`` bands, a pair at distance ``d`` has a band with
at most ``floor(d / n)`` differing bits, so every pair within
``(flips + 1) * n - 1`` is a candidate.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pincette_json_streams_spark.functions.dedup import cosine_vec

__all__ = [
    "binary_signatures", "brute_force_topk", "embedding_moments",
    "embedding_outliers", "hamming_probe", "hamming_topk",
    "ivf_probe", "ivf_topk",
    "pca_components", "pca_project", "pq_adc_topk",
    "pq_codebooks", "pq_encode", "pq_refine_codebooks",
    "quantize_embeddings", "rrf_fuse", "semantic_dedup",
    "train_kmeans_centroids",
]


def _top_k(scored: DataFrame, k: int, score: Column,
           cols: Sequence[str]) -> DataFrame:
    """The rank tail of every top-k search: per ``query_id``, number
    the rows by ``score`` (a sort order), ties by ``vec_id``, as a
    bigint ``rank``, and keep ranks ``<= k``.  The window's exchange
    is the only shuffle the tail adds.

    -> (query_id, rank, vec_id, *cols)."""
    w = Window.partitionBy("query_id").orderBy(score, F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", *cols)
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out: str = "q"
) -> DataFrame:
    """Symmetric int8 scalar quantization — the storage-prep step of an
    ANN index (4x smaller vectors, SIMD-friendly dot products).  Adds
    ``{out}`` (array<tinyint>) and ``{out}_scale`` (the per-vector
    dequantization factor max|x|/127).

    Pure higher-order Columns inside whole-stage codegen: one pass, no
    UDF, no shuffle.  Math runs in double on BOTH engines (the float32
    source is upcast first) so a SQL oracle reproduces it bit-for-bit.

    Non-finite elements (NaN/±inf) quantize to 0 and are excluded from
    the scale: under ANSI mode an unguarded NaN -> tinyint cast would
    kill the whole job on one bad row."""
    def fin(x):
        x = x.cast("double")
        return F.when(F.isnan(x) | (F.abs(x) == float("inf")),
                      F.lit(0.0)).otherwise(x)

    v = F.transform(F.col(vec_col), fin)
    amax = F.array_max(F.transform(v, F.abs))
    # scale materializes as a real column BEFORE the per-element lambda:
    # an inline expression would re-embed the array_max subtree per
    # element (O(d^2) per vector — the CollapseProject trap)
    scaled = df.withColumn(
        out + "_scale",
        F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0)),
    )
    return scaled.withColumn(
        out,
        F.transform(
            F.transform(F.col(vec_col), fin),
            lambda x: F.round(x / F.col(out + "_scale")).cast("tinyint"),
        ),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    -> (query_id, rank, vec_id, cosine).  Ties broken by vec_id for
    determinism."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("cv"))
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id",
        F.round(cosine_vec(F.col("qv"), F.col("cv")), 6)
        .alias("cosine"),
    )
    return _top_k(scored, k, F.col("cosine").desc(), ["cosine"])


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Hard-negative mining: for each query, the top-k most-similar
    corpus vectors with a DIFFERENT label — the negatives that sit
    closest to the decision boundary, the staple of contrastive /
    metric-learning data pipelines (a random negative is trivially
    separable; the hard ones carry the gradient).

    Same determinism contract as :func:`brute_force_topk` (cosine
    rounded to 6 decimals, ties by vec_id); the label filter rides the
    scoring join, so excluded same-label rows never reach the rank
    window.  Scale shape: bounded query set broadcast against the
    corpus scan + one per-query top-k window; swap the scoring join
    for the banded Hamming index (:func:`hamming_lsh_topk`) when the
    corpus outgrows brute-force scoring.

    -> (query_id, rank, vec_id, neg_label, cosine)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col(label_col).alias("q_label"),
    )
    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).alias("cv"),
                      F.col(label_col).alias("neg_label"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neg_label") != F.col("q_label"))
        .select("query_id", "vec_id", "neg_label",
                F.round(cosine_vec(F.col("qv"), F.col("cv")), 6)
                .alias("cosine"))
    )
    return _top_k(scored, k, F.col("cosine").desc(),
                  ["neg_label", "cosine"])


def binary_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lane_bits: int = 32,
    dims: int = None,
) -> DataFrame:
    """Sign-bit binary sketch of an embedding column: each ``lane_bits``
    consecutive dimensions fold into one big-endian integer word
    (bit j set iff the dimension is > 0), so a d-dim float vector
    compresses to d/lane_bits int64 lanes — 32x smaller than float32,
    and Hamming distance between sketches approximates angular distance
    (Charikar SimHash, STOC'02; same family as functions/dedup.py
    simhash but over embedding signs instead of token hashes).

    32-bit lanes keep every word positive (no sign-bit wraparound), so
    the fold is exact int64 math any SQL engine replays bit-for-bit.
    Plan shape: one projection over the scan — no shuffle, no UDF; the
    polynomial fold is a native aggregate() HOF inside codegen.

    Vectors must be uniform-width: rows whose ``size(vec) != dims``
    raise at execution (a shorter slice would silently fold fewer
    doublings, shifting every bit weight).  Pass ``dims`` explicitly to
    skip the plan-build probe job; with ``dims=None`` an EMPTY input
    raises a named error instead of a bare NoneType subscript.

    -> (id_col, sig_0, sig_1, ...)."""
    if dims is None:
        row = df.select(F.size(vec_col).alias("d")).first()
        if row is None or row["d"] is None:
            raise ValueError(
                "binary_signatures: cannot infer dims from an empty "
                f"input (or null {vec_col!r}); pass dims= explicitly")
        dims = row["d"]
    lanes = (dims + lane_bits - 1) // lane_bits

    ragged = F.raise_error(F.concat(
        F.lit(f"binary_signatures: ragged vector (expected {dims} "
              f"dims, got "), F.size(vec_col).cast("string"),
        F.lit(f") at {id_col}="), F.col(id_col).cast("string"))
    ).cast("long")

    def lane(i):
        sl = F.slice(F.col(vec_col), i * lane_bits + 1, lane_bits)
        val = F.aggregate(
            sl, F.lit(0).cast("long"),
            lambda acc, x: acc * 2
            + F.when(x > 0, 1).otherwise(0).cast("long"),
        )
        # guard lives INSIDE the lane expression so column pruning
        # can't drop it: any selected lane still trips on ragged rows
        return (F.when(F.size(vec_col) == dims, val).otherwise(ragged)
                .alias(f"sig_{i}"))

    return df.select(F.col(id_col), *[lane(i) for i in range(lanes)])


def _sketch_sides(corpus, queries, vec_col, id_col, query_id_col,
                  lane_bits, op):
    """Sign-bit sketches of the corpus and the query set for the
    Hamming top-k operators: ``(sigs, qs, lanes)`` with ``sigs`` keyed
    ``vec_id`` carrying ``lanes`` and ``qs`` keyed ``query_id``
    carrying the same lanes as ``q_<lane>``.

    The width is probed ONCE, from the bounded query side (one tiny
    job), and both sketches are pinned to it, so a corpus/query dim
    mismatch raises instead of silently mis-aligning lanes."""
    qrow = queries.select(F.size(vec_col).alias("d")).first()
    if qrow is None or qrow["d"] is None:
        raise ValueError(f"{op}: empty query set (or null "
                         f"{vec_col!r}); nothing to score")
    dims = qrow["d"]
    sigs = binary_signatures(corpus, vec_col, id_col, lane_bits, dims)
    lanes = [c for c in sigs.columns if c.startswith("sig_")]
    qs = binary_signatures(
        queries.withColumnRenamed(query_id_col, "query_id"),
        vec_col, "query_id", lane_bits, dims,
    ).select("query_id", *[F.col(c).alias(f"q_{c}") for c in lanes])
    return sigs.withColumnRenamed(id_col, "vec_id"), qs, lanes


def _xor_popcount(a: Column, b: Column) -> Column:
    """Number of differing bits of two integer columns: XOR, then
    popcount.  Pure integer math, so any SQL engine replays it
    bit-for-bit."""
    return F.bit_count(a.bitwiseXOR(b))


def _hamming(lanes_a: Sequence[str], lanes_b: Sequence[str]) -> Column:
    """Hamming distance (bigint) between the sketches held in two
    lists of integer lane columns."""
    return sum(_xor_popcount(F.col(a), F.col(b))
               for a, b in zip(lanes_a, lanes_b)).cast("long")


def _band_values(lanes: Sequence[str], band_bits: int,
                 lane_bits: int) -> list:
    """The bands of a sketch held in ``lanes``, in band order: each
    lane's ``lane_bits // band_bits`` contiguous ``band_bits``-wide
    values counted from its low bit.  High remainder bits are in no
    band."""
    mask = F.lit((1 << band_bits) - 1)
    return [F.shiftright(F.col(c), s).bitwiseAND(mask)
            for c in lanes
            for s in range(0, lane_bits - band_bits + 1, band_bits)]


def _band_pairs(
    left: DataFrame,
    l_lanes: Sequence[str],
    right: DataFrame,
    r_lanes: Sequence[str],
    band_bits: int,
    lane_bits: int,
    flips: int = 0,
) -> DataFrame:
    """The banded Hamming index's candidate builder (rules in the
    module docstring): one row per (left, right) pair that collides in
    some band, with ``hamming``, the distance over all lanes.

    ``left`` and ``right`` carry their sketches in the lane columns
    ``l_lanes`` / ``r_lanes`` (same order, distinct names); every
    other column of both sides rides along.  Each side explodes one
    ``(band, bv)`` posting per band; the right side also posts every
    band value with one bit flipped when ``flips=1``.  A join hint on
    ``right`` (``F.broadcast``) carries through to the join, and a
    filter on the result (a self-join's ``id < id_r``) joins the join
    condition.  A pair colliding in several bands keeps only the row
    of its first band whose values differ in at most ``flips`` bits —
    both rows' lanes ride the join, so the check is a row-local
    filter: no aggregation, no streaming state."""
    def postings(df, lanes, flips):
        keys = []
        for b, bv in enumerate(_band_values(lanes, band_bits, lane_bits)):
            band = F.lit(b).cast("int").alias("band")
            keys += [F.struct(band, v.alias("bv")) for v in
                     [bv] + [bv.bitwiseXOR(F.lit(1 << j))
                             for j in range(band_bits if flips else 0)]]
        return df.select("*", F.explode(F.array(*keys)).alias("p")) \
            .select(*df.columns, "p.band", "p.bv")

    joined = postings(left, l_lanes, 0).join(
        postings(right, r_lanes, flips), ["band", "bv"])
    collide = F.array(*[
        _xor_popcount(a, b) <= flips for a, b in zip(
            _band_values(l_lanes, band_bits, lane_bits),
            _band_values(r_lanes, band_bits, lane_bits))])
    return (
        joined.filter(F.col("band") == F.array_position(collide, True) - 1)
        .withColumn("hamming", _hamming(l_lanes, r_lanes))
    )


def hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    lane_bits: int = 32,
) -> DataFrame:
    """Approximate top-k by Hamming distance between sign-bit sketches
    — the memory-bound ANN path: the corpus never materializes floats
    past the one sketch projection, candidates rank by XOR+popcount
    (pure int64, engine-identical), ties by vec_id.

    Scale shape: sketches are one no-shuffle projection; the bounded
    query sketch set broadcasts; the only exchange is the per-query
    top-k window.  At 100 TB the same sketch column is what an
    LSH/multi-probe index buckets on — this operator is the exact
    scoring kernel of that index.

    -> (query_id, rank, vec_id, hamming)."""
    sigs, qs, lanes = _sketch_sides(corpus, queries, vec_col, id_col,
                                    query_id_col, lane_bits, "hamming_topk")
    scored = sigs.crossJoin(F.broadcast(qs)).select(
        "query_id", "vec_id",
        _hamming(lanes, [f"q_{c}" for c in lanes]).alias("hamming"))
    return _top_k(scored, k, F.col("hamming").asc(), ["hamming"])


def hamming_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    band_bits: int = 8,
    probe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    lane_bits: int = 32,
) -> DataFrame:
    """Sub-linear Hamming ANN: the banded Hamming index over the
    sign-lane sketches of :func:`binary_signatures`, with
    :func:`hamming_topk`'s XOR+popcount scoring as the re-rank kernel
    (same band-bucket equi-join shape as the MinHash star-edge plan in
    ``functions/dedup.py``).

    Index build: each sketch splits into ``n_bands = n_lanes *
    lane_bits / band_bits`` bands; every corpus row posts one (band,
    value) key per band — a fixed small-integer explode of the
    32x-compressed sketch, never of the float vectors.  Probe: each
    query posts, per band, the exact band value plus (``probe_bits=1``)
    every 1-bit flip — ``band_bits + 1`` probes per band.  Candidates
    come from the (band, value) EQUI-JOIN of postings against the
    broadcast probe set; there is NO crossJoin against the corpus, so
    candidate work is proportional to bucket collisions, not corpus
    size.

    Recall contract (pigeonhole): a corpus vector at total Hamming
    distance ``d`` from the query has some band with at most
    ``floor(d / n_bands)`` differing bits, so every neighbour with
    ``d <= (probe_bits + 1) * n_bands - 1`` is GUARANTEED a candidate
    (15 for 64-dim sketches in 8 byte-bands; ``n_bands - 1`` with
    ``probe_bits=0``), and the whole plan is integer-exact — an
    ANSI-SQL oracle replays it bit-for-bit.  Recall beyond that radius
    is probabilistic; gauge it against :func:`hamming_topk` like
    ``ann_recall`` does against brute force.

    100 TB shape: postings are (band:int, value:int, id, lanes) — one
    narrow shuffle-free projection + explode; the probe side is the
    bounded query set (broadcast); multi-band hits keep their first
    colliding band (a row-local filter); the final top-k window is
    per-query over candidates only.

    -> (query_id, rank, vec_id, hamming)."""
    if lane_bits % band_bits != 0:
        raise ValueError(
            f"hamming_lsh_topk: band_bits={band_bits} must divide "
            f"lane_bits={lane_bits}")
    if probe_bits not in (0, 1):
        raise ValueError("hamming_lsh_topk: probe_bits must be 0 or 1")
    sigs, qs, lanes = _sketch_sides(corpus, queries, vec_col, id_col,
                                    query_id_col, lane_bits,
                                    "hamming_lsh_topk")
    # lanes ride along both sides, so the candidate row already has
    # everything the re-rank needs — no second join back to the corpus
    cand = _band_pairs(sigs, lanes, F.broadcast(qs),
                       [f"q_{c}" for c in lanes], band_bits, lane_bits,
                       flips=probe_bits)
    return _top_k(cand, k, F.col("hamming").asc(), ["hamming"])


def _checked_lane(c: str, lane_bits: int, op: str):
    """Lane-width runtime guard: fail loudly on lane values wider than
    ``lane_bits`` — banding only the low bits while the exact verify
    XORs all 64 silently shrinks the guaranteed recall radius (the
    dHash-with-default-32 trap).  No-op (identity) for lane_bits=64.
    The value is cast to LONG before the shift: ``shiftright`` on an
    IntegerType lane masks the shift amount (32 & 31 = 0), which would
    turn the guard into ``value == 0``."""
    if lane_bits >= 64:
        return F.col(c)
    v = F.col(c).cast("long")
    ok = v.isNull() | ((v >= 0) & (F.shiftright(v, lane_bits) == 0))
    return F.when(ok, F.col(c)).otherwise(F.raise_error(
        F.concat(
            F.lit(f"{op}: lane '{c}' value "),
            v.cast("string"),
            F.lit(f" does not fit lane_bits={lane_bits}; pass "
                  "lane_bits matching the sketch width "
                  "(dHash lanes are 64-bit)")))).alias(c)


def hamming_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    lane_cols: Sequence[str] = ("sig_0", "sig_1"),
    max_hamming: int = 7,
    band_bits: int = 8,
    lane_bits: int = 32,
) -> DataFrame:
    """ALL-PAIRS Hamming near-duplicates over precomputed sketch lanes
    — the self-join sibling of :func:`hamming_lsh_topk` (which answers
    per-query top-k): every pair of rows whose total XOR+popcount
    distance across ``lane_cols`` is <= ``max_hamming``.

    Works on ANY int64 sketch lanes: the sign-lane embedding sketches
    of :func:`binary_signatures` (32-bit lanes — the default), the
    dHash perceptual fingerprints of ``multimodal.resize_image``
    (ONE 64-bit lane: pass ``lane_cols=["dhash"], lane_bits=64``), or
    the token simhash — one operator, every modality.  ``lane_bits``
    must match the sketch width: when ``lane_bits < 64`` every lane
    value is runtime-checked to fit (a 64-bit dHash silently banded
    as 32 bits would halve the band count and shrink the guaranteed
    radius from 7 to 3 — that misuse now raises instead of silently
    losing recall).

    Index shape: the banded Hamming index's self-join — candidates are
    exact band COLLISIONS (the equi-join on band value, id_a < id_b),
    each pair on the row of its first colliding band, then the exact
    integer distance verifies.  Pigeonhole guarantee: a pair at
    distance d has some band with ZERO flips whenever ``d < n_bands``,
    so ``max_hamming <= n_bands - 1`` (the default 7 for a 64-bit
    sketch in 8 byte-bands) has ZERO false negatives — exact, not
    probabilistic, and the SQL oracle replays it bit-for-bit.  Larger
    ``max_hamming`` degrades honestly: candidates still come from band
    collisions, so recall beyond the radius is probabilistic (raise
    ``band_bits`` coverage by lowering it, the standard LSH trade).

    -> (id_a, id_b, hamming)."""
    lanes = list(lane_cols)
    n_bands = len(lanes) * (lane_bits // band_bits)
    if max_hamming > n_bands - 1:
        import warnings
        warnings.warn(
            f"hamming_near_pairs: max_hamming={max_hamming} exceeds "
            f"the guaranteed radius {n_bands - 1} (= n_bands - 1); "
            "recall beyond it is probabilistic")
    side = df.select(
        F.col(id_col).alias("id"),
        *[_checked_lane(c, lane_bits, "hamming_near_pairs")
          for c in lanes])
    r_lanes = [f"r_{c}" for c in lanes]
    right = side.select(F.col("id").alias("id_r"), *[
        F.col(c).alias(r) for c, r in zip(lanes, r_lanes)])
    return (
        _band_pairs(side, lanes, right, r_lanes, band_bits, lane_bits)
        .filter((F.col("id") < F.col("id_r"))
                & (F.col("hamming") <= max_hamming))
        .select(F.col("id").alias("id_a"), F.col("id_r").alias("id_b"),
                "hamming")
    )


def hamming_probe(
    df: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    index_id_col: str = "vec_id",
    lane_cols: Sequence[str] = ("sig_0", "sig_1"),
    max_hamming: int = 7,
    band_bits: int = 8,
    lane_bits: int = 32,
) -> DataFrame:
    """STREAM-STATIC near-dup probe against the banded Hamming index —
    the streaming face of :func:`hamming_near_pairs` /
    ``hamming_lsh_topk``: each probe row (a message with sketch lanes)
    emits every STATIC ``index`` row within ``max_hamming``.

    Streaming-legal by construction (append mode, zero state): probe
    rows explode one (band, value) key per byte-band, the static index
    posts the same keys once per micro-batch-independent plan, and the
    candidates come from a stream-static INNER equi-join.  The usual
    multi-band duplicate (a pair colliding in 3 bands emits 3 join
    rows) is removed WITHOUT an aggregation — streaming dedup would
    need state — by the index's FIRST-COLLIDING-BAND filter: both
    sides' lanes ride the join, so "is this the lowest band where the
    two sketches agree?" is a row-local expression, and exactly one
    row per matching pair survives.  Same pigeonhole contract as the
    batch operators: zero false negatives for ``max_hamming <=
    n_bands - 1``.

    Scale shape: the index side is a plain DataFrame (collection) —
    Catalyst broadcasts it when small, otherwise the stream shuffles
    on the (band, value) key (stateless, append-safe).  Candidate work
    is proportional to band collisions, never to |stream| x |index|.

    -> probe columns (minus lanes) + (match_id, hamming)."""
    lanes = list(lane_cols)
    if lane_bits % band_bits != 0:
        raise ValueError(
            f"hamming_probe: band_bits={band_bits} must divide "
            f"lane_bits={lane_bits}")
    n_bands = len(lanes) * (lane_bits // band_bits)
    if max_hamming > n_bands - 1:
        import warnings
        warnings.warn(
            f"hamming_probe: max_hamming={max_hamming} exceeds the "
            f"guaranteed radius {n_bands - 1}; recall beyond it is "
            "probabilistic")
    keep = [c for c in df.columns if c not in lanes]
    probe = df.select(
        *keep,
        *[_checked_lane(c, lane_bits, "hamming_probe") for c in lanes])
    x_lanes = [f"x_{c}" for c in lanes]
    post = index.select(
        F.col(index_id_col).alias("match_id"),
        *[_checked_lane(c, lane_bits, "hamming_probe").alias(x)
          for c, x in zip(lanes, x_lanes)])
    return (
        _band_pairs(probe, lanes, post, x_lanes, band_bits, lane_bits)
        .filter(F.col("hamming") <= max_hamming)
        .select(*keep, "match_id", "hamming")
    )


def _rounded_cosines(V, C):
    """(n, nlist) cosine matrix of rows V against centroids C, rounded to
    6 decimals so engine-order float noise cannot flip an argmax."""
    import numpy as np

    vn = np.sqrt((V * V).sum(axis=1, keepdims=True))
    cn = np.sqrt((C * C).sum(axis=1, keepdims=True))
    return np.round((V @ C.T) / (vn @ cn.T), 6)


def _assign_udf(C, cids, nprobe: int):
    """Pandas UDF: vec -> array of the `nprobe` nearest centroid ids.

    The centroid matrix rides in the closure (cloudpickle ships it to
    every worker once -- the broadcast-variable pattern), so assignment is
    a pure map: NO shuffle, which is what makes IVF the scale path at a
    100 TB corpus.  Ties on the rounded cosine break to the lowest
    centroid id (cids are sorted; argsort is stable)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def assign(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype="object")
        S = _rounded_cosines(np.array(v.tolist(), dtype=np.float64), C)
        near = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cids[row].tolist() for row in near])

    return assign


def _assign_cos_udf(C, cids):
    """Pandas UDF: vec -> struct(cid, cos) of the nearest centroid.

    Same broadcast-argmax shape as :func:`_assign_udf` (centroid matrix
    ships in the closure, assignment is a pure Arrow map — NO shuffle),
    but also returns the rounded cosine to the winning centroid for
    callers that report it.  ``C``/``cids`` must be sorted by centroid
    id ascending: np.argmax picks the FIRST maximum, so rounded-cosine
    ties break to the lowest centroid id — the same total order as
    ``ORDER BY cos DESC, cid ASC``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<cid: long, cos: double>")
    def assign(v: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(v) == 0:
            return pd.DataFrame({
                "cid": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            })
        S = _rounded_cosines(np.array(v.tolist(), dtype=np.float64), C)
        best = S.argmax(axis=1)
        return pd.DataFrame({
            "cid": cids[best],
            "cos": S[np.arange(len(best)), best],
        })

    return assign


def train_kmeans_centroids(
    corpus: DataFrame,
    nlist: int,
    vec_col: str = "embedding",
    iters: int = 10,
    sample: int = 100_000,
) -> "list[list[float]]":
    """Offline coarse-quantizer training: Lloyd's k-means on a bounded
    driver-side sample (deterministic -- seeds are the `nlist` stride-
    sampled vectors of the sample, no RNG).  At 100 TB you train once on
    a sample and persist the centroids; assignment stays a broadcast
    map.  Empty clusters keep their previous centroid."""
    import numpy as np

    rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .limit(sample).collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    stride = max(1, len(X) // nlist)
    C = X[::stride][:nlist].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        for j in range(len(C)):
            members = X[lab == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C.tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    centroid_stride: int = 64,
    centroids: "list[list[float]] | None" = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k by cosine.

    Plan shape -- the one that survives 100 TB:
      1. coarse quantizer: either caller-supplied `centroids` (trained
         offline with :func:`train_kmeans_centroids`) or the
         deterministic stride sample ``vec_id % centroid_stride == 0``
         (oracle-replayable in plain SQL);
      2. corpus assignment: ONE Arrow map over the scan (numpy matmul
         against the closure-shipped centroid matrix) -- no shuffle; at
         scale the assignment is materialized/partitioned by list once;
      3. queries probe their `nprobe` nearest lists; candidates come from
         ONE equi-join on list id with the tiny query side broadcast;
      4. exact cosine re-rank of candidates only (window per query).

    IVF adapts to the data distribution (with trained centroids), and
    `nprobe` is a recall dial that doesn't change the index."""
    import numpy as np

    c = corpus.select(F.col(id_col).alias("vec_id"),
                      F.col(vec_col).cast("array<double>").alias("cv"))
    if centroids is not None:
        C = np.array(centroids, dtype=np.float64)
        cids = np.arange(len(C), dtype=np.int64)
    else:
        # stride sampling collects n/stride rows: bounded at bench scale
        # but not at 100 TB, so cap the seed set (deterministic: ordered
        # prefix).  Above the cap, train centroids offline with
        # train_kmeans_centroids and pass `centroids` instead.
        max_seeds = 4096
        seed = (
            c.filter((F.col("vec_id") % centroid_stride) == 0)
            .orderBy("vec_id").limit(max_seeds).collect()
        )
        cids = np.array([r["vec_id"] for r in seed], dtype=np.int64)
        C = np.array([r["cv"] for r in seed], dtype=np.float64)

    assigned = c.withColumn(
        "list_id",
        F.element_at(_assign_udf(C, cids, 1)(F.col("cv")), 1),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).withColumn("list_id", F.explode(_assign_udf(C, cids, nprobe)(
        F.col("qv"))))
    scored = assigned.join(F.broadcast(q), "list_id").select(
        "query_id", "vec_id",
        F.round(cosine_vec(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    return _top_k(scored, k, F.col("cosine").desc(), ["cosine"])


def ivf_probe(
    df: DataFrame,
    index: DataFrame,
    centroids: "list[list[float]]",
    min_cosine: float = 0.8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    index_vec_col: str | None = None,
    index_id_col: str = "vec_id",
) -> DataFrame:
    """STREAM-STATIC cosine radius lookup — the dense-vector sibling of
    :func:`hamming_probe`: each (streaming or batch) probe row emits
    every STATIC ``index`` row with rounded cosine >= ``min_cosine``
    among the IVF candidates.

    Streaming-legal by construction (append mode, zero state): probe
    rows assign to their ``nprobe`` nearest centroids (a pure Arrow map
    — the centroid matrix ships in the closure, the broadcast-variable
    pattern), the static index assigns each row to its ONE nearest
    list, candidates come from the stream-static equi-join on list id,
    and the exact Arrow cosine filters.  Every index row lives in
    exactly one list while the probe explodes ``nprobe`` lists, so
    (probe, match) pairs are unique by construction — no dedup, no
    aggregation.  This is a RADIUS query, not top-k: per-probe top-k
    needs a rank window (stateful on streams) — run
    :func:`ivf_topk` in batch for that.

    ``centroids`` is REQUIRED (train offline with
    :func:`train_kmeans_centroids`, or collect a deterministic stride
    sample in batch): a streaming plan cannot collect its own seed
    set.  Recall contract: a match surfaces iff its index row's single
    assigned list is among the probe's ``nprobe`` lists — the standard
    IVF recall dial, gauged against brute force like ``ann_recall``.

    -> probe columns (minus the vector) + (match_id, cosine)."""
    import numpy as np

    C = np.array(centroids, dtype=np.float64)
    if C.ndim != 2 or not len(C):
        raise ValueError("ivf_probe: centroids must be a non-empty "
                         "list of equal-length vectors")
    cids = np.arange(len(C), dtype=np.int64)
    keep = [c for c in df.columns if c != vec_col]
    probe = df.select(
        *keep, F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn(
        "list_id",
        F.explode(_assign_udf(C, cids, nprobe)(F.col("__qv"))))
    idx = index.select(
        F.col(index_id_col).alias("match_id"),
        F.col(index_vec_col or vec_col).cast("array<double>")
        .alias("__cv"),
    ).withColumn(
        "list_id",
        F.element_at(_assign_udf(C, cids, 1)(F.col("__cv")), 1))
    return (
        probe.join(idx, "list_id")
        .withColumn("cosine",
                    F.round(cosine_vec(F.col("__qv"), F.col("__cv")),
                            6))
        .filter(F.col("cosine") >= min_cosine)
        .select(*keep, "match_id", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication ("SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication", Abbas et al.
    2023): assign every vector to its nearest centroid, then do the
    quadratic near-duplicate check ONLY inside each cluster — the
    cluster structure is what bounds the pair count at 100 TB, exactly
    like LSH bands bound MinHash.

    ``centroids`` is a small DataFrame (cluster_id, centroid
    array<double>) — from train_kmeans_centroids or any deterministic
    selection; it is collected once (bounded by k) and ships in the
    Arrow-UDF closure, so assignment is literally one shuffle-free map
    over the scan (the :func:`_assign_cos_udf` argmax — NOT an n×k row
    expansion: SemDeDup uses k≈10⁴ clusters, so materializing n×k rows
    through a window exchange would be a 10,000× blow-up before any
    dedup work).  Within a cluster a vector is dropped when its cosine
    (rounded to 6 dp, the engine-stable comparison convention) to a
    LOWER-id member reaches ``threshold`` — min-id keeper, the same
    convention as every other dedup family here; the assignment argmax
    breaks rounded-cosine ties to the lowest cluster_id, matching
    ``ORDER BY cos DESC, cid ASC``.

    Returns (id, cluster_id, centroid_cos, keep boolean).  The
    intra-cluster self-join is the deliberate quadratic step: cluster
    granularity (k) is the knob that bounds it, and skewed clusters are
    split by AQE like any other skewed join key."""
    import numpy as np

    crows = centroids.select(
        F.col("cluster_id").cast("long").alias("__cid"),
        F.col("centroid").cast("array<double>").alias("__cv"),
    ).orderBy("__cid").collect()
    cids = np.array([r["__cid"] for r in crows], dtype=np.int64)
    C = np.array([r["__cv"] for r in crows], dtype=np.float64)
    vecs = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    assigned = vecs.withColumn(
        "__a", _assign_cos_udf(C, cids)(F.col("__v"))
    ).select(
        "__id", "__v",
        F.col("__a.cid").alias("__cid"),
        F.col("__a.cos").alias("__cos"),
    ).localCheckpoint(eager=False)
    # ^ assigned feeds both self-join sides and the output: the lazy
    # lineage cut runs the corpus scan + Arrow argmax ONCE instead of
    # three times (measured 0.95 -> 0.80 s at sf0.1; at corpus scale
    # three embedding-matrix passes is the real saving)
    a = assigned.select(
        F.col("__cid"), F.col("__id").alias("__ida"),
        F.col("__v").alias("__va"),
    )
    b = assigned.select(
        F.col("__cid"), F.col("__id").alias("__idb"),
        F.col("__v").alias("__vb"),
    )
    dropped = (
        a.join(b, "__cid")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            F.round(cosine_vec(F.col("__va"), F.col("__vb")), 6)
            >= threshold
        )
        .select(F.col("__idb").alias("__id"))
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("__dropped", F.lit(True)), "__id", "left"
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__cid").alias("cluster_id"),
            F.col("__cos").alias("centroid_cos"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


def embedding_moments(df: DataFrame, vec_col: str = "embedding"):
    """(n, mean[d], cov[d, d]) of an embedding column.

    The classic treeAggregate shape without MLlib: each partition folds
    its Arrow batches into ONE partial (count, sum vector, Gram matrix
    — numpy BLAS, O(d^2) floats per partition), and the driver reduces
    #partitions partial rows.  Nothing proportional to the corpus ever
    reaches the driver, no shuffle at all; at 100 TB the cost is the
    scan plus d^2 * partitions bytes of partials.  Covariance uses the
    computational form E[xx^T] - mean mean^T (numpy float64; verified
    against two-pass numpy.cov in tests)."""
    import numpy as np

    def partials(batches):
        import numpy as np
        import pandas as pd

        n = 0
        s = None
        g = None
        for pdf in batches:
            vs = [v for v in pdf["v"] if v is not None]
            if not vs:
                continue
            # None elements are NaN round-tripped through Arrow; a
            # single non-finite vector would otherwise poison the whole
            # corpus mean, so those rows are excluded from the moments
            V = np.array(
                [[np.nan if x is None else x for x in v] for v in vs],
                dtype=np.float64)
            V = V[np.isfinite(V).all(axis=1)]
            if not V.shape[0]:
                continue
            n += V.shape[0]
            s = V.sum(0) if s is None else s + V.sum(0)
            gg = V.T @ V
            g = gg if g is None else g + gg
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    rows = (
        df.select(F.col(vec_col).alias("v"))
        .where(F.col("v").isNotNull())
        .mapInPandas(partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("embedding_moments: empty input")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    d = s.shape[0]
    g = np.sum([np.array(r["g"]).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return n, mean, cov


def pca_components(df: DataFrame, k: int, vec_col: str = "embedding"):
    """Top-k principal components of the embedding column.

    -> (mean[d], components[d, k], explained_variance[k],
    explained_variance_ratio[k]).  Eigendecomposition runs driver-side
    on the d x d covariance (d is the embedding width — model-bounded,
    never corpus-bounded); component signs are fixed so the
    largest-magnitude loading is positive, making retraining
    deterministic."""
    import numpy as np

    _, mean, cov = embedding_moments(df, vec_col)
    w, V = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:int(k)]
    comps = V[:, order].copy()
    for j in range(comps.shape[1]):
        i = np.argmax(np.abs(comps[:, j]))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    ev = w[order]
    total = float(w.sum())
    evr = ev / total if total > 0 else ev * 0.0
    return mean, comps, ev, evr


def pca_project(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
    components=None,
    round_decimals: int | None = 8,
) -> DataFrame:
    """Append ``out_col``: the centered top-k PCA projection of
    ``vec_col`` (whitened to unit variance per component when asked —
    the standard ANN/semantic-dedup preprocessing).  The (mean,
    projection) pair ships in the Arrow UDF closure — projection is a
    pure map, no shuffle.  Pass ``components`` (a `pca_components`
    result) to reuse a trained basis; otherwise one is trained on
    ``df`` itself.  ``round_decimals=None`` keeps full float64
    precision (needed when downstream identities — e.g. norm
    preservation under the orthonormal basis — are checked against an
    external engine)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    mean, comps, ev, _ = (components if components is not None
                          else pca_components(df, k, vec_col))
    P = comps[:, :int(k)]
    if whiten:
        P = P / np.sqrt(np.maximum(ev[:int(k)], 1e-12))
    mean = np.asarray(mean, dtype=np.float64)
    P = np.asarray(P, dtype=np.float64)

    def proj(v: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for x in v:
            if x is None:
                out.append(None)
            else:
                y = (np.asarray(list(x), dtype=np.float64) - mean) @ P
                if round_decimals is not None:
                    y = np.round(y, round_decimals)
                out.append(y.tolist())
        return pd.Series(out)

    proj_udf = pandas_udf(proj, "array<double>")
    return df.withColumn(out_col, proj_udf(F.col(vec_col)))


# ---------------------------------------------------------------------------
# Product quantization (Jegou, Douze & Schmid, PAMI 2011)
# ---------------------------------------------------------------------------

def _e3(vec):
    """Embedding on a 1e-3 integer grid (bigint).  PQ of the quantized
    vector makes every distance an INTEGER sum — order-independent,
    engine-identical (SCALE.md float rules) — at a quantization error
    (5e-4 per dim) far below the codebook cell size."""
    return F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(1000.0) + F.lit(0.5))
        .cast("bigint"),
    )


def _subvectors(vec_e3, m: int, sub: int):
    """array of m subvectors (each array<bigint> of length ``sub``).
    The quantized vector is bound once per row (bind_once) so the e3
    transform doesn't re-run per subspace."""
    from pincette_json_streams_spark.functions.text import bind_once

    return bind_once(
        vec_e3,
        lambda v: F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.slice(v, j * F.lit(sub) + F.lit(1), sub),
        ),
    )


def _idist(a, b):
    """Integer squared L2 between two e3-grid subvectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic PQ codebooks: subspace ``j``'s codeword ``c`` is
    the j-th subvector of the vector with the (c+1)-th smallest id —
    the standard "init from data points" step of PQ training, kept
    un-refined so a SQL oracle can replay the whole index build.  For
    production recall, refine per-subspace with k-means
    (:func:`train_kmeans_centroids` on exploded subvectors) — the
    encode/search path below is codebook-agnostic.

    Returns (j, code, center:array<bigint>) — m*k rows, broadcast-
    sized by construction (reference: this plays the role of the
    "model" table, like IVF centroids)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    w = Window.orderBy(id_col)
    seed = (
        df.select(id_col, vec_col).orderBy(id_col).limit(k)
        .withColumn("code", F.row_number().over(w) - 1)
    )
    return seed.select(
        F.posexplode(_subvectors(_e3(F.col(vec_col)), m, sub))
        .alias("j", "center"),
        "code",
    ).select("j", "code", "center")


def pq_refine_codebooks(
    df: DataFrame,
    codebooks: DataFrame,
    iters: int = 2,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Fixed-iteration Lloyd refinement of PQ codebooks — the
    production-recall step on top of :func:`pq_codebooks`'s
    init-from-data seed, kept fully deterministic and INTEGER-exact so
    a SQL oracle can replay every iteration:

      * assignment uses the same e3-grid squared distance as
        :func:`pq_encode` (ties to the lowest code);
      * the new codeword is the elementwise half-up-rounded mean of its
        members back ON the integer grid (``floor(sum/count + 0.5)``) —
        summation of bigints is order-independent, and the single
        IEEE-754 division is bit-identical across engines;
      * codewords that attract no members keep their previous center
        (standard Lloyd empty-cluster policy).

    Scale shape per iteration: the m*k codebook is broadcast into the
    assignment map (no shuffle), the member mean is ONE map-side-
    combinable groupBy on (j, code, t) — cost is iters * the encode
    pass, no driver round-trips, no collect.  Returns the same
    (j, code, center:array<bigint>) shape as :func:`pq_codebooks`, so
    :func:`pq_encode` / :func:`pq_adc_topk` consume it unchanged."""
    sub = dim // m
    rows = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_subvectors(_e3(F.col(vec_col)), m, sub))
        .alias("j", "sv"),
    )
    cb = codebooks
    for _ in range(iters):
        scored = rows.join(F.broadcast(cb), "j").withColumn(
            "__d", _idist(F.col("sv"), F.col("center"))
        )
        # (__d, code) is unique per (id, j) group — codes are distinct —
        # so the struct-min never compares the trailing sv payload; it
        # just rides along, saving a re-join against `rows`.
        best = (
            scored.groupBy("id", "j")
            .agg(F.min(F.struct("__d", "code", "sv")).alias("b"))
            .select("j", F.col("b.code").alias("code"),
                    F.col("b.sv").alias("sv"))
        )
        means = (
            best.select("j", "code", F.posexplode("sv").alias("t", "xe"))
            .groupBy("j", "code", "t")
            .agg(F.floor(F.sum("xe") / F.count(F.lit(1)) + F.lit(0.5))
                 .cast("bigint").alias("ce"))
        )
        newc = (
            means.groupBy("j", "code")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("t", "ce"))),
                lambda s: s["ce"]).alias("center"))
        )
        cb = (
            cb.select("j", "code", F.col("center").alias("__old"))
            .join(newc, ["j", "code"], "left")
            .select("j", "code",
                    F.coalesce("center", "__old").alias("center"))
        )
    return cb


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector its nearest codeword per subspace →
    (id, j, code, dist) — the PQ code in long form (m rows per
    vector; 8*log2(k) bits of storage per vector once pivoted).

    Scale shape: the corpus explodes to m subvector rows, the m*k
    codebook is BROADCAST into the join, and the argmin is a
    lexicographic struct-min groupBy (map-side combinable) — one
    shuffle on (id, j), no window, no UDF.  Ties break to the lowest
    code on both engines."""
    sub = dim // m
    rows = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(_subvectors(_e3(F.col(vec_col)), m, sub))
        .alias("j", "sv"),
    )
    scored = rows.join(F.broadcast(codebooks), "j").withColumn(
        "__d", _idist(F.col("sv"), F.col("center"))
    )
    best = (
        scored.groupBy("id", "j")
        .agg(F.min(F.struct("__d", "code")).alias("b"))
        .select(
            "id", "j",
            F.col("b.code").alias("code"),
            F.col("b.__d").alias("dist"),
        )
    )
    return best


def pq_adc_topk(
    df: DataFrame,
    codebooks: DataFrame,
    query_id,
    n: int = 20,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-n: the query stays exact, the
    corpus is its PQ codes, distance = sum_j table[j, code_j] where
    the table holds query-subvector→codeword squared distances.

    This is THE memory-bound ANN scan shape at 100 TB: the corpus side
    touches only the (id, j, code) code table (never the raw vectors),
    the m*k distance table is broadcast, and the per-vector distance
    is an integer sum groupBy.  Returns (vec_id, adc) ascending with
    id tie-break."""
    sub = dim // m
    qsub = (
        df.filter(F.col(id_col) == query_id)
        .select(
            F.posexplode(_subvectors(_e3(F.col(vec_col)), m, sub))
            .alias("j", "qs"))
    )
    table = qsub.join(F.broadcast(codebooks), "j").select(
        "j", "code", _idist(F.col("qs"), F.col("center")).alias("qd")
    )
    codes = pq_encode(df, codebooks, m, dim, vec_col, id_col)
    return (
        codes.join(F.broadcast(table), ["j", "code"])
        .groupBy("id")
        .agg(F.sum("qd").alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("id").asc())
        .limit(n)
        .select(F.col("id").cast("long").alias(id_col),
                F.col("adc").cast("long").alias("adc"))
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    z_min: float = 2.0,
) -> DataFrame:
    """Embedding-space outlier detection for corpus quality control:
    cosine distance of every vector to the corpus centroid, z-scored
    against the distance distribution — the cheap first-pass filter for
    mis-embedded / off-distribution documents before training.

    Scale shape: the centroid comes from :func:`embedding_moments`
    (per-partition numpy partials, d^2 * partitions bytes to the
    driver, NO shuffle) and is broadcast back as a literal array; the
    distance pass is one Arrow kernel over the scan; the z-stats are a
    1-row aggregate crossJoin-broadcast.  Two passes over the data,
    zero data shuffles.

    Returns (id, dist, z) for rows with z >= ``z_min``; dist/z are on
    1e-6 / 1e-3 floor-grids (cross-engine float contract)."""
    from .dedup import cosine_vec

    _, mean, _ = embedding_moments(df, vec_col)
    mv = F.array(*[F.lit(float(x)) for x in mean.tolist()])
    scored = df.select(
        F.col(id_col).alias("id"),
        (1.0 - cosine_vec(
            F.col(vec_col).cast("array<double>"), mv)).alias("__d"),
    ).filter(~F.isnan("__d") & (F.abs("__d") != float("inf")))
    # ^ rows with non-finite embeddings (or zero vectors, whose cosine
    # is 0/0) are excluded from the stats AND the output — and under
    # ANSI mode floor(NaN) would kill the job outright
    stats = scored.agg(F.avg("__d").alias("__mu"),
                       F.stddev_pop("__d").alias("__sd"))
    return (
        scored.crossJoin(F.broadcast(stats))
        # a constant distance distribution (sd = 0, e.g. a degenerate
        # 1-row or all-identical corpus) makes (d - mu) / sd = 0/0 = NaN,
        # and floor(NaN) under ANSI mode kills the job — such a corpus
        # has no outliers by definition, so emit nothing
        .filter(F.col("__sd") > 0)
        .select(
            "id",
            (F.floor(F.col("__d") * 1e6 + F.lit(0.5)) / 1e6).alias("dist"),
            (F.floor((F.col("__d") - F.col("__mu")) / F.col("__sd")
                     * 1e3 + F.lit(0.5)) / 1e3).alias("z"),
        )
        .filter(F.col("z") >= z_min)
    )


def rrf_fuse(
    rankings: "list[DataFrame]",
    k_const: int = 60,
    id_col: str = "id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of N rank lists: rrf(id) = sum over lists of 1/(k + rank), carried
    as ``1e9 div (k + rank)`` INTEGER units so the fused score is
    associative and engine-exact (same convention as the bm25 e4 grid).

    Each input is a (id, rank) frame — in a hybrid-retrieval pipeline,
    one list per retriever (BM25, dense ANN, ...), each already
    top-R-bounded, so this union + hash-agg touches O(N * R) rows no
    matter the corpus size.  Returns (id, rrf, n_lists)."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = [
        df.select(
            F.col(id_col).alias("id"),
            F.expr(f"1000000000 div ({k_const} + {rank_col})")
            .cast("long").alias("__p"),
        )
        for df in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    return u.groupBy("id").agg(
        F.sum("__p").cast("long").alias("rrf"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
