"""Deduplication operators for training-data pipelines, designed for the
100 TB regime:

- exact_dedup          — hash-groupBy on a normalized fingerprint; one
  shuffle on a short key, map-side combine.
- minhash_lsh_pairs    — shingle -> MinHash -> banded LSH, with an exact
  Jaccard verify on the candidates only.  The signature side is one fused
  Arrow pass per row (``_shingle_band_vec``); candidate generation is an
  equi-join on band keys, so cost scales with bucket collisions, never
  O(n^2).  ``minhash_index``/``incremental_dedup`` reuse the same pass
  for a growing corpus.
- simhash_pairs        — 60-bit SimHash over word tokens (one Arrow pass),
  near-dup = small Hamming distance, candidates from the banded Hamming
  index of ``functions/similarity.py``.
- ngram_jaccard_pairs /
  containment_pairs    — word-ngram inverted-index join; exact Jaccard or
  containment on the group pairs sharing >= 1 n-gram, with an optional
  document-frequency cap as the skew guard.
- prefix_filter_pairs  — exact Jaccard join with PPJoin prefix filtering.
- embedding_pairs      — cosine near-dup over an embedding column; exact
  for bounded inputs, hyperplane-LSH bucketing as the scale path.
- verify_pairs_editdist — exact edit-distance precision stage for any
  candidate pair stream.
- connected_components — resolve pairwise near-dup output into clusters
  (one Arrow task for small edge lists, iterative min-label propagation
  with lineage truncation above that); the step that turns "pairs" into
  "keep one document per duplicate group".

The four text pair functions share one cluster-compression skeleton:
``_digest_groups`` groups documents by a digest of their set (every pair
inside a group is an exact duplicate), the function pairs the distinct
groups, and ``_expand_pairs`` turns the verified group pairs back into
document pairs plus the within-group pairs.  A document whose text is
NULL has a NULL digest and pairs with nothing.

Every function is deterministic (md5-derived hashing, fixed coefficient
tables) so the DuckDB oracle replays the identical computation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructField, StructType

from pincette_json_streams_spark.functions.caching import tracked_persist
from pincette_json_streams_spark.functions.graph import (
    checkpoint_edges,
    edge_arrays,
)
from pincette_json_streams_spark.functions.groups import map_groups
from pincette_json_streams_spark.functions.text import (
    _sorted_pairs,
    fingerprint,
    normalize_text,
)

__all__ = [
    "connected_components", "connected_components_star", "exact_dedup",
    "minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs",
    "cosine_vec", "embedding_pairs", "hyperplane_bucket",
    "minhash_index", "incremental_dedup", "verify_pairs_editdist",
]

# Universal-hash family h_i(x) = (a_i * x + b_i) mod p over the Mersenne
# prime 2^31-1.  31-bit domain keeps every intermediate product under
# 2^62 — safe in 64-bit integer arithmetic (Spark runs ANSI mode: an
# overflow would be an error, not a wrap).
_P = (1 << 31) - 1


def _coeffs(n: int) -> list[tuple[int, int]]:
    # deterministic, engine-independent LCG-derived coefficients
    out = []
    a, b = 1103515245, 12345
    x = 42
    for _ in range(n):
        x = (a * x + b) % _P
        a_i = (x % (_P - 1)) + 1  # a in [1, p-1]
        x = (a * x + b) % _P
        b_i = x % _P
        out.append((a_i, b_i))
    return out


def _hash_str(col: Column) -> Column:
    """Engine-portable string hash into [0, 2^31-1): first 8 hex digits of
    md5, reduced mod p."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")
        % F.lit(_P)
    )



def _spread(df: DataFrame, by: str | None = None) -> DataFrame:
    """Repartition to total cores before CPU-heavy per-row work.  Two
    traps this dodges (both measured): (1) small parquet arrives as ONE
    input split, serializing the signature UDF on a single core; (2)
    `repartition(col)` without an explicit count lets AQE coalesce the
    ~MB-sized shuffle back to one partition by byte size -- AQE can't
    know the downstream UDF is CPU-bound per row (5k docs: 3.2 s ->
    0.9 s).

    ``by``: a high-cardinality (unique-id) column to hash-partition on.
    Preferred over keyless round-robin wherever an id exists, for two
    reasons (guide §2.5/§2.3): round-robin repartition first pays a
    LOCAL BYTE-SORT of the full input rows (sortBeforeRepartition,
    on by default since SPARK-23207 so retried tasks reproduce their
    row->partition assignment) — on wide text/binary rows that sort is
    the dominant cost of the exchange (measured at sf0.1: 0.77 s ->
    0.50 s for the documents table); and hash-by-id is deterministic
    under task retry by construction, so it keeps the retry-safety
    that sortBeforeRepartition exists to provide, without the sort.
    A unique id spreads uniformly by hash; callers without a unique
    column keep the round-robin path."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if by is not None:
        return df.repartition(n, F.col(by))
    return df.repartition(n)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative per normalized-content group."""
    keyed = _spread(df, by=id_col).withColumn(
        "__fp", fingerprint(F.col(text_col)))
    return (
        keyed.groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .withColumnsRenamed({"__fp": "fingerprint"})
    )


def _digest_groups(base: DataFrame, key: str, *cols: str) -> DataFrame:
    """Cluster compression, first half: one row per distinct ``key`` (a
    digest of the document's set) with ``first`` of each of ``cols`` and
    the sorted member ``ids``.

    Training corpora carry large exact-duplicate clusters; comparing
    their members pairwise is the classic LSH blowup.  Every pair inside
    a group is an exact duplicate, so the quadratic candidate join runs
    over *distinct sets* only.  The digest, not the ~300-element array,
    is the shuffle key (measured ~10x cheaper).  The groups feed both
    sides of the candidate join and the within-group expansion, so they
    are persisted (tracked for ``release_caches``).

    The NULL key (NULL text) is no group: documents without text pair
    with nothing, the NULL semantics of an equi-join and of the SQL
    oracle (as in ``text.winnow_pairs``).  It is dropped above the
    cache, not below the aggregation: there Catalyst would push the
    filter under the kernel's projection and run the Arrow UDF twice,
    once for the filter before ``_spread``'s exchange."""
    return tracked_persist(
        base.groupBy(key)
        .agg(*[F.first(c).alias(c) for c in cols],
             F.sort_array(F.collect_list("id")).alias("ids"))
    ).filter(F.col(key).isNotNull())


def _expand_pairs(
    verified: DataFrame,
    groups: DataFrame,
    cross_out: list,
    within_out: list,
) -> DataFrame:
    """Cluster compression, second half: group pairs back to document
    pairs ``(id_a, id_b, ...)`` with ``id_a < id_b``.

    ``verified`` holds one row per qualifying group pair: ``ids_a``,
    ``ids_b`` and the columns ``cross_out`` reads.  Every member pair
    across the two groups becomes a row; ``ia``/``ib`` name its members
    from ``ids_a``/``ids_b``.  ``groups`` holds one row per digest
    group: ``ids`` and the columns ``within_out`` reads.  Every member
    pair inside a group of two or more becomes a row."""
    carry = [c for c in verified.columns if c not in ("ids_a", "ids_b")]
    cross = (
        verified
        .select(F.explode("ids_a").alias("ia"), "ids_b", *carry)
        .select("ia", F.explode("ids_b").alias("ib"), *carry)
        .select(F.least("ia", "ib").alias("id_a"),
                F.greatest("ia", "ib").alias("id_b"), *cross_out)
    )
    keep = [c for c in groups.columns if c != "ids"]
    within = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode("ids").alias("ia"), F.col("ids"), *keep)
        .select("ia", F.explode("ids").alias("ib"), *keep)
        .filter(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"),
                *within_out)
    )
    return cross.unionByName(within)


def _normalize_py(s: str) -> str:
    """Python replica of text.normalize_text (lower, collapse ASCII
    whitespace, trim) — re.ASCII matches Java's default \\s class."""
    import re

    return re.sub(r"\s+", " ", s.lower(), flags=re.ASCII).strip(" ")


def _hash_str_py(s: str) -> int:
    """Python replica of _hash_str: first 8 md5 hex digits mod p (= first
    4 digest bytes big-endian)."""
    import hashlib

    return int.from_bytes(
        hashlib.md5(s.encode("utf-8")).digest()[:4], "big"
    ) % _P


def _shingle_band_vec(num_hashes: int, k: int, bands: int):
    """Fused shingle -> md5-hash -> MinHash signature -> banded LSH keys
    as ONE Arrow-batched pandas UDF: text -> struct(gid, sh: distinct
    hashed shingles, bandkeys), so the whole signature side of
    ``minhash_lsh_pairs`` is one narrow Arrow pass and the Spark plan
    carries no signature column and no md5/concat/slice codegen units.

    Catalyst evaluates higher-order-function lambdas *interpreted*, per
    element: the Column pipeline (substring-per-position, md5-per-shingle,
    num_hashes min-passes) measured 22.7 s for 5k docs at sf0.1.  The same
    computation — hashlib over *distinct* shingles, one numpy broadcast for
    the signature — runs in under 2 s, and each Arrow batch is independent
    so it scales per partition."""
    from pyspark.sql.functions import pandas_udf

    coeffs = _coeffs(num_hashes)
    rows = num_hashes // bands

    def f(texts: pd.Series) -> pd.DataFrame:
        import hashlib

        import numpy as np

        A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
        B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]
        gids, shs, bkss = [], [], []
        for s in texts:
            if s is None:
                gids.append(None)
                shs.append(None)
                bkss.append(None)
                continue
            norm = _normalize_py(s)
            n = max(len(norm) - (k - 1), 1)
            distinct = dict.fromkeys(norm[i:i + k] for i in range(n))
            h = list(dict.fromkeys(_hash_str_py(x) for x in distinct))
            shs.append(h)
            hv = np.array(h, dtype=np.int64)[None, :]
            sig = (((A * hv + B) % _P).min(axis=1).tolist()
                   if hv.size else [_P] * num_hashes)
            gids.append(hashlib.md5(
                ",".join(map(str, h)).encode()).hexdigest())
            # r13 (guide §2.3, narrower types): band keys ship as the
            # md5 digest's top-64 bits instead of the 32-char hex
            # string — the banded self-join's shuffled rows shrink by
            # the key width.  OUTPUT-EXACT, not just w.h.p.: every
            # band-key candidate is exactly verified downstream
            # (array_intersect on the hashed shingles in BOTH
            # minhash_lsh_pairs and incremental_dedup), equal sig
            # slices still collide (same digest, same truncation), and
            # a truncation-collision can only ADD a candidate that the
            # verify then drops.
            bkss.append([
                int.from_bytes(hashlib.md5(",".join(
                    [str(b)] + [str(x) for x in sig[b * rows:(b + 1) * rows]]
                ).encode()).digest()[:8], "big", signed=True)
                for b in range(bands)
            ])
        return pd.DataFrame({"gid": gids, "sh": shs, "bks": bkss})

    return pandas_udf(
        f, "struct<gid: string, sh: array<bigint>, bks: array<bigint>>")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 9,
    threshold: float = 0.5,
    edges: str = "pairs",
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact-Jaccard verify.

    Plan shape at scale: one scan computing (id, signature, shingles) ->
    explode to `bands` rows -> shuffle on (band, bandkey) -> per-bucket
    self-join (skew-bounded by bucket size) -> exact verify on candidates.

    ``edges`` selects the output contract:

    - ``"pairs"`` (default): every qualifying document pair.  Correct
      for pair-level consumers (recall measurement, pair audits) but
      QUADRATIC in exact-duplicate cluster size — a 10^6-doc
      boilerplate cluster emits ~5*10^11 rows.
    - ``"star"``: a spanning set with the SAME connected components —
      one hub edge per exact-dup group member (min-id hub) and one
      representative edge per qualifying group pair.  O(n + p) rows,
      linear in group size; this is what the component/canonical/split
      consumers should feed to ``connected_components``.
    """
    if edges not in ("pairs", "star"):
        raise ValueError(f"edges must be 'pairs' or 'star', got {edges!r}")
    base = (
        _spread(df, by=id_col)
        .select(
            F.col(id_col).alias("id"),
            # ONE fused Arrow pass: shingle, md5, signature, group digest
            # and banded LSH keys (exact-verify later intersects the
            # hashed shingles — 8-byte compares, deterministic on any md5
            # engine).  gid/bandkeys are internal keys, so hashing them in
            # Python removes the widest codegen units (md5-of-json,
            # 8-way md5/concat/slice explode) from the plan — first-run
            # compile dominated the wall time on short-lived sessions.
            _shingle_band_vec(num_hashes, k, bands)(
                F.col(text_col)).alias("ss"),
        )
        .select("id", F.col("ss.gid").alias("gid"),
                F.col("ss.sh").alias("sh"), F.col("ss.bks").alias("bks"))
    )

    # cluster compression: the LSH self-join pairs distinct shingle sets
    groups = _digest_groups(base, "gid", "sh", "bks")

    # Bands carry ONLY the group digest: exploding (and then shuffling)
    # the shingle arrays band-times would multiply the join payload ~300x.
    # Arrays join back AFTER candidate-pair dedup, when the row count is
    # smallest.
    banded = groups.select("gid", F.explode("bks").alias("bandkey"))

    left = banded.alias("l")
    right = banded.alias("r")
    cand_ids = (
        left.join(
            right,
            (F.col("l.bandkey") == F.col("r.bandkey"))
            & (F.col("l.gid") < F.col("r.gid")),
        )
        .select(F.col("l.gid").alias("gid_a"),
                F.col("r.gid").alias("gid_b"))
        .dropDuplicates(["gid_a", "gid_b"])
    )
    cand = cand_ids.join(
        groups.select(F.col("gid").alias("gid_a"),
                      F.col("sh").alias("sh_a"),
                      F.col("ids").alias("ids_a")), "gid_a"
    ).join(
        groups.select(F.col("gid").alias("gid_b"),
                      F.col("sh").alias("sh_b"),
                      F.col("ids").alias("ids_b")), "gid_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified = (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
    )
    if edges == "star":
        # one representative edge per qualifying group pair (ids are
        # sorted, so ids[0] is the group min) + a min-id hub star per
        # exact-dup group: identical components, O(n) edges
        cross = verified.select(
            F.least(F.col("ids_a")[0], F.col("ids_b")[0]).alias("id_a"),
            F.greatest(F.col("ids_a")[0], F.col("ids_b")[0]).alias("id_b"),
            "jaccard",
        )
        within = (
            groups.filter(F.size("ids") > 1)
            .select(F.col("ids")[0].alias("id_a"),
                    F.explode("ids").alias("id_b"))
            .filter(F.col("id_b") != F.col("id_a"))
            .withColumn("jaccard", F.lit(1.0))
        )
        return cross.unionByName(within)
    return _expand_pairs(verified.select("ids_a", "ids_b", "jaccard"),
                         groups.select("ids"), ["jaccard"],
                         [F.lit(1.0).alias("jaccard")])


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 9,
) -> DataFrame:
    """(id, sh, bks) signature rows — the PERSISTED dedup index a
    growing corpus carries between ingest runs (one fused Arrow pass;
    ``sh`` = hashed shingle set for exact verify, ``bks`` =
    position-salted banded LSH keys).  Parquet-persist this per corpus
    snapshot; `incremental_dedup` joins new batches against it."""
    return (
        _spread(df, by=id_col)
        .select(
            F.col(id_col).alias("id"),
            _shingle_band_vec(num_hashes, k, bands)(
                F.col(text_col)).alias("ss"),
        )
        .select("id", F.col("ss.sh").alias("sh"),
                F.col("ss.bks").alias("bks"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 9,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW ingest batch against a persisted corpus index plus
    itself — the corpus-growth path: at 100 TB you never re-pair the
    whole corpus, you join the day's batch against the signature index.

    ``index`` is either a (id, sh, bks) signature table from
    :func:`minhash_index` or raw documents (signatures computed).
    A batch document is a duplicate iff a banded-LSH candidate with
    exact Jaccard >= ``threshold`` exists in the index or earlier in
    the batch (smaller id — deterministic keeper rule, no transitivity).
    Returns one row per batch document: (doc_id, is_dup, dup_of,
    jaccard) with dup_of = the smallest colliding id.  Survivors'
    signatures (``minhash_index`` of the survivors) are what the caller
    appends to the index for the next run.

    Plan shape: band keys carry only ids (the shingle arrays join back
    after candidate-pair dedup, when the row count is smallest —
    same discipline as ``minhash_lsh_pairs``); everything is equi-joins
    on short keys, nothing quadratic, no driver reads."""
    new_sig = minhash_index(new_docs, text_col, id_col,
                            num_hashes, bands, k)
    if {"sh", "bks"}.issubset(set(index.columns)):
        bks = index.schema["bks"].dataType.simpleString()
        if bks != "array<bigint>":
            raise ValueError(
                f"dedup index column bks is {bks}, "
                "not array<bigint>: an index persisted before band keys "
                "became 64-bit hashes matches nothing; rebuild it with "
                "minhash_index")
        idx_sig = index.select(
            F.col("id") if "id" in index.columns
            else F.col(id_col).alias("id"), "sh", "bks")
    else:
        idx_sig = minhash_index(index, text_col, id_col,
                                num_hashes, bands, k)
    new_sig = tracked_persist(new_sig)

    nb = new_sig.select("id", F.explode("bks").alias("bk"))
    rb = (
        idx_sig.select(F.col("id").alias("rid"),
                       F.explode("bks").alias("bk"))
        .withColumn("__idx", F.lit(True))
        .unionByName(
            new_sig.select(F.col("id").alias("rid"),
                           F.explode("bks").alias("bk"))
            .withColumn("__idx", F.lit(False))
        )
    )
    cand_ids = (
        nb.join(rb, "bk")
        .filter(F.col("__idx") | (F.col("rid") < F.col("id")))
        .select("id", "rid")
        .dropDuplicates(["id", "rid"])
    )
    all_sh = idx_sig.select(F.col("id").alias("rid"),
                            F.col("sh").alias("rsh")) \
        .unionByName(new_sig.select(F.col("id").alias("rid"),
                                    F.col("sh").alias("rsh")))
    cand = cand_ids.join(new_sig.select("id", "sh"), "id") \
        .join(all_sh, "rid")
    inter = F.size(F.array_intersect("sh", "rsh"))
    union = F.size("sh") + F.size("rsh") - inter
    best = (
        cand.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("id")
        .agg(
            F.min("rid").alias("dup_of"),
            F.min_by("jaccard", "rid").alias("jaccard"),
        )
    )
    return (
        new_docs.select(F.col(id_col).alias("doc_id"))
        .join(best.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of", "jaccard",
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def _simhash_vec(bits: int):
    """Fused normalize -> word-hash -> majority-bit-vote SimHash as one
    Arrow-batched pandas UDF: bit b of the signature is set when more
    than half of the document's distinct words have bit b set in their
    ``_hash_str`` hash.  The interpreted Column pipeline paid bits x 2
    passes over the hash array per row (same rationale as
    ``_shingle_band_vec``)."""
    from pyspark.sql.functions import pandas_udf

    def f(texts: pd.Series) -> pd.Series:
        import numpy as np

        shifts = np.arange(bits, dtype=np.int64)
        out = []
        for s in texts:
            if s is None:
                out.append(None)
                continue
            words = dict.fromkeys(_normalize_py(s).split(" "))
            hv = np.array([_hash_str_py(w) for w in words],
                          dtype=np.int64)[:, None]
            ones = ((hv >> shifts) & 1).sum(axis=0)
            sig = ((ones * 2 > hv.shape[0]).astype(np.int64)
                   << shifts).sum()
            out.append(int(sig))
        return pd.Series(out)

    return pandas_udf(f, "bigint")


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bits: int = 60,
    bands: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, candidates from the
    banded Hamming index (``similarity._band_pairs``) over ``bands``
    bands of ``bits // bands`` bits each (pigeonhole: every pair within
    ``bands - 1`` shares a band; larger ``max_hamming`` is
    approximate)."""
    from pincette_json_streams_spark.functions.similarity import (
        _band_pairs,
    )

    base = (
        _spread(df, by=id_col)
        .select(
            F.col(id_col).alias("id"),
            _simhash_vec(bits)(F.col(text_col)).alias("sig"),
        )
    )
    # cluster compression: docs sharing a signature pair at Hamming 0
    # without any join — the LSH self-join runs over distinct signatures
    groups = _digest_groups(base, "sig")
    band_bits = bits // bands
    verified = (
        _band_pairs(
            groups.select(F.col("sig").alias("sig_a"),
                          F.col("ids").alias("ids_a")), ["sig_a"],
            groups.select(F.col("sig").alias("sig_b"),
                          F.col("ids").alias("ids_b")), ["sig_b"],
            band_bits, bands * band_bits)
        .filter((F.col("sig_a") < F.col("sig_b"))
                & (F.col("hamming") <= max_hamming))
        .select("ids_a", "ids_b",
                F.col("hamming").cast("int").alias("hamming"))
    )
    return _expand_pairs(verified, groups.select("ids"), ["hamming"],
                         [F.lit(0).cast("int").alias("hamming")])


# --------------------------------------------------------------------------
# n-gram Jaccard (inverted-index candidate join)
# --------------------------------------------------------------------------

def _word_ngrams_hashed_vec(n: int):
    """Distinct word n-grams as 60-bit hashes, one Arrow pass.

    Hashing shrinks the posting-join key from a ~25-char string to 8
    bytes; 60 bits keeps accidental collisions (which would perturb the
    Jaccard count) at ~1e-10 for corpus-scale vocabulary.  The set
    *cardinalities* are unchanged w.h.p., so Jaccard/containment values
    equal the string-set values the SQL oracle computes — the hash is
    INTERNAL (never joined against an oracle-replayed value, unlike the
    minhash family's ``_hash_str_py``), so its construction is free to
    change as long as distinct grams stay distinct w.h.p.

    r13 kernel (guide §4.2 — this pass runs at the scan grain, so its
    per-byte cost IS the 100 TB cost; the r12 profile measured the
    string-building + per-gram md5 version at 2.4 MB/s single-thread,
    70% in gram-string assembly and one md5 call per gram): hash each
    DISTINCT WORD once per Arrow batch (md5 top-64, memoized in a
    dictionary rebuilt for every batch — a batch's vocabulary is much
    smaller than its gram stream),
    then combine the n word hashes per gram with a vectorized
    multiply-xor polynomial + splitmix64 finalizer in numpy and dedup
    with np.unique.  No gram strings are ever built.  ~4x the
    throughput on the same corpus; collision behaviour is the same
    heuristic 60-bit story as the md5 prefix.  ``ng`` is now emitted
    sorted (np.unique), which also makes the cluster-compression
    digest canonical in the set (the md5-of-occurrence-order digest
    could split two equal sets met in different orders)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    def f(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        md5 = hashlib.md5
        wcache: dict = {}
        lookup = wcache.__getitem__
        C = np.uint64(0x9E3779B97F4A7C15)  # odd (golden-ratio) mixer
        M1 = np.uint64(0xBF58476D1CE4E5B9)
        M2 = np.uint64(0x94D049BB133111EB)
        S30, S27, S31 = np.uint64(30), np.uint64(27), np.uint64(31)
        FOUR = np.uint64(4)
        gids, ngs = [], []
        for s in texts:
            if s is None:
                gids.append(None)
                ngs.append(None)
                continue
            words = _normalize_py(s).split(" ")
            if len(words) < n:
                # degenerate doc: one (short) gram — hash the string
                g = " ".join(words)
                ng = [int.from_bytes(
                    md5(g.encode("utf-8")).digest()[:8], "big") >> 4]
            else:
                # C-speed map on the warm-vocabulary fast path; the
                # KeyError fallback fills the memo and retries (rare
                # once the task's vocabulary is seen)
                try:
                    hs = list(map(lookup, words))
                except KeyError:
                    for w in words:
                        if w not in wcache:
                            wcache[w] = int.from_bytes(
                                md5(w.encode("utf-8")).digest()[:8],
                                "big")
                    hs = list(map(lookup, words))
                hv = np.array(hs, dtype=np.uint64)
                m = len(hv) - n + 1
                acc = hv[:m].copy()
                for j in range(1, n):
                    acc *= C
                    acc ^= hv[j:m + j]
                # splitmix64 finalizer spreads the polynomial output
                acc ^= acc >> S30
                acc *= M1
                acc ^= acc >> S27
                acc *= M2
                acc ^= acc >> S31
                # shift BEFORE unique: two 64-bit values differing only
                # in the dropped low bits must collapse to one gram
                ng = np.unique(acc >> FOUR).astype(np.int64).tolist()
            ngs.append(ng)
            # internal cluster-compression digest (see _shingle_band_vec)
            gids.append(md5(
                np.asarray(ng, np.int64).tobytes()).hexdigest())
        return pd.DataFrame({"gid": gids, "ng": ngs})

    return pandas_udf(f, "struct<gid: string, ng: array<bigint>>")


def _ngram_groups(df: DataFrame, text_col: str, id_col: str,
                  n: int) -> DataFrame:
    """(gid, ng, ids) per distinct word-n-gram set: one Arrow pass
    (``_word_ngrams_hashed_vec``, which also computes the md5 digest)
    and the digest grouping."""
    base = _spread(df, by=id_col).select(
        F.col(id_col).alias("id"),
        _word_ngrams_hashed_vec(n)(F.col(text_col)).alias("ss"),
    ).select("id", F.col("ss.gid").alias("gid"), F.col("ss.ng").alias("ng"))
    return _digest_groups(base, "gid", "ng")


def _ngram_group_pairs(
    groups: DataFrame, df_cap: int | None
) -> tuple[DataFrame, DataFrame]:
    """The posting step of the n-gram family: every pair of digest
    groups sharing at least one gram, with the shared-gram count and
    both set sizes.

    Uncapped, the gram postings self-join (``l.gid < r.gid``) and one
    hash-agg counts the shared grams per group pair.

    With ``df_cap``, grams whose *distinct-set* document frequency
    exceeds the cap are corpus stopwords: dropped from the postings AND
    from the set sizes, so the similarity downstream is exact over the
    capped gram universe.  (df counts distinct n-gram SETS, post
    cluster-compression — that is the posting-list length that drives
    the join blow-up; a gram carried by 10^6 verbatim copies of one
    page has df 1 here.)  Instead of self-joining the postings on the
    gram — where one boilerplate shingle shared by 10^6 sets makes that
    key's pair output quadratic — group ONCE on the gram, keep only
    posting lists of length <= df_cap, and expand the i<j pairs
    in-array (the winnow_pairs shape).  Pair output is bounded by
    df_cap^2 per gram by construction, and the heavy grams never leave
    the first hash-agg.

    Returns (pairs, sets): pairs = (gid_a, gid_b, inter, ids_a, sz_a,
    ids_b, sz_b) with gid_a < gid_b; sets = (gid, ids, sz) per group, sz
    counting surviving grams (df-1 grams count even though they can
    never produce a pair; a group whose every gram is capped has sz 0
    and appears in no group pair)."""
    if df_cap is None:
        posting = groups.select("gid", F.explode("ng").alias("g"))
        l, r = posting.alias("l"), posting.alias("r")
        shared = (
            l.join(r, (F.col("l.g") == F.col("r.g"))
                   & (F.col("l.gid") < F.col("r.gid")))
            .groupBy(F.col("l.gid").alias("gid_a"),
                     F.col("r.gid").alias("gid_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sets = groups.select("gid", "ids", F.size("ng").alias("sz"))
    else:
        gl = tracked_persist((
            groups.select("gid", F.explode("ng").alias("g"))
            .groupBy("g")
            .agg(F.sort_array(F.collect_list("gid")).alias("gids"))
            .filter(F.size("gids") <= F.lit(int(df_cap)))
        ))
        sizes = (
            gl.select(F.explode("gids").alias("gid"))
            .groupBy("gid")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
        shared = (
            gl.filter(F.size("gids") >= 2)
            .select(F.explode(_sorted_pairs("gids")).alias("p"))
            .groupBy(F.col("p.a").alias("gid_a"),
                     F.col("p.b").alias("gid_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sets = (
            groups.select("gid", "ids")
            .join(sizes, "gid", "left")
            .select("gid", "ids", F.coalesce("sz", F.lit(0)).alias("sz"))
        )
    pairs = shared.join(
        sets.select(F.col("gid").alias("gid_a"),
                    F.col("ids").alias("ids_a"),
                    F.col("sz").alias("sz_a")), "gid_a"
    ).join(
        sets.select(F.col("gid").alias("gid_b"),
                    F.col("ids").alias("ids_b"),
                    F.col("sz").alias("sz_b")), "gid_b"
    )
    return pairs, sets


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets for every pair sharing at least
    one n-gram.  Inverted-index join over *distinct n-gram sets* (cluster
    compression, see ``_digest_groups``) — exact-duplicate clusters pair
    at Jaccard 1 without touching the quadratic join.

    ``df_cap``: when set, grams whose distinct-set document frequency
    exceeds the cap are treated as corpus stopwords — dropped from the
    postings and from the set sizes, so the reported value is the exact
    Jaccard over the CAPPED gram universe (the ``text.winnow_pairs``
    span-posting pattern).  This is the 100 TB skew guard: without it
    one boilerplate shingle shared by 10^6 distinct sets makes that
    posting key's pair expansion quadratic.  Capping changes the
    measure — recall effect: pairs similar ONLY through boilerplate
    grams vanish (usually the point), and borderline pairs shift by at
    most the capped grams' share of their union.  Verbatim-identical
    documents (same set digest) still pair at Jaccard 1.0 regardless of
    the cap."""
    groups = _ngram_groups(df, text_col, id_col, n)
    pairs, _ = _ngram_group_pairs(groups, df_cap)
    verified = (
        pairs.withColumn(
            "jaccard",
            F.round(F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ids_a", "ids_b", "jaccard")
    )
    return _expand_pairs(verified, groups.select("ids"), ["jaccard"],
                         [F.lit(1.0).alias("jaccard")])


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_pct: int = 80,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join: pairs where the smaller document's
    n-gram set is (near-)inside the other's —
    ``C = |A ∩ B| / min(|A|, |B|)`` on the 1e-6 integer grid.

    This is the asymmetric sibling of :func:`ngram_jaccard_pairs` and
    the question Jaccard cannot answer: a 50-shingle quote embedded in
    a 5,000-shingle page has Jaccard ~0.01 (invisible at any usable
    threshold) but containment 1.0.  Boilerplate wrappers, quoted
    passages, and template-padded near-supersets — the common web-crawl
    contamination shapes — are exactly the high-containment/low-Jaccard
    region (Broder's "containment" from the original resemblance paper,
    SEQUENCES 1997).

    Scale shape (same as the Jaccard join): distinct n-gram SETS pair
    via the inverted-index equi-join (cluster compression — exact
    duplicates never touch the quadratic), one hash-agg counts shared
    grams per set pair, and the containment test is an integer
    cross-multiplication — ``inter * 1e6 div min(sz) >= pct * 1e4`` —
    replayable bit-for-bit in ANSI SQL.  (MinHash banding is
    deliberately NOT offered as the index here: signature agreement
    tracks Jaccard, which is ~0 on exactly the quote-in-page pairs this
    operator exists to find.)

    ``df_cap``: the same distinct-set document-frequency cap as
    :func:`ngram_jaccard_pairs` — grams above the cap become corpus
    stopwords, candidate generation switches to the bounded in-array
    posting expansion (pair output <= df_cap^2 per gram), and
    containment is exact over the CAPPED gram universe with capped
    sizes reported.  Recall effect: a quote whose every gram is
    boilerplate (df > cap) no longer registers as contained — which for
    web-crawl boilerplate is the intent.  Verbatim-identical documents
    still pair at cont_e6 = 1e6 regardless of the cap (a group whose
    every gram is capped reports sz 0).

    Returns (id_a, id_b, sz_a, sz_b, cont_e6) with id_a < id_b and
    sizes in set-gram units aligned to their ids."""
    thr_e6 = threshold_pct * 10_000
    groups = _ngram_groups(df, text_col, id_col, n)
    pairs, sets = _ngram_group_pairs(groups, df_cap)
    verified = (
        pairs.withColumn(
            "cont_e6",
            F.expr("(inter * 1000000L) div least(sz_a, sz_b)"))
        .filter(F.col("cont_e6") >= thr_e6)
        .select("ids_a", "ids_b", "sz_a", "sz_b", "cont_e6")
    )
    # sizes travel WITH their ids through the least/greatest swap
    a_first = F.col("ia") <= F.col("ib")
    return _expand_pairs(
        verified, sets.select("ids", "sz"),
        [F.when(a_first, F.col("sz_a")).otherwise(F.col("sz_b"))
         .cast("long").alias("sz_a"),
         F.when(a_first, F.col("sz_b")).otherwise(F.col("sz_a"))
         .cast("long").alias("sz_b"),
         "cont_e6"],
        [F.col("sz").cast("long").alias("sz_a"),
         F.col("sz").cast("long").alias("sz_b"),
         F.lit(1_000_000).cast("long").alias("cont_e6")],
    )


# --------------------------------------------------------------------------
# embedding near-dup / similarity
# --------------------------------------------------------------------------

def _cosine_kernel(va: pd.Series, vb: pd.Series) -> pd.Series:
    import numpy as np

    if len(va) == 0:
        return pd.Series([], dtype="float64")

    def mat(vs):
        # fast path: clean batches convert in one C call; only a batch
        # carrying null rows / null elements (NaN round-tripped through
        # Arrow) falls back to the tolerant per-row loop, where they
        # become all-NaN rows -> NaN scores the caller can filter,
        # instead of a ragged-array crash that kills the job
        try:
            return np.array(vs, dtype=np.float64)
        except (TypeError, ValueError):
            width = next((len(v) for v in vs if v is not None), 1)
            return np.array(
                [[np.nan] * width if v is None else
                 [np.nan if x is None else x for x in v] for v in vs],
                dtype=np.float64)

    A, B = mat(va.tolist()), mat(vb.tolist())
    dot = (A * B).sum(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        n = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        return pd.Series(dot / n)


def cosine_vec(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine: one numpy batch kernel instead of
    interpreted per-element lambdas (~100x on pair-expanded joins).
    The UDF object is created at CALL time — a module-level
    ``@pandas_udf`` would run on worker re-import, where no
    SparkSession exists."""
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(_cosine_kernel, "double")(a, b)


def _sign_matrix(planes: int, dim: int):
    """Deterministic pseudo-random hyperplanes: sign[p][i] = +1 iff the
    first md5 byte of "p_i" is even — identical in any engine with md5
    (the oracle replays it as ('0x'||substr(md5(p||'_'||i),1,2))::INT)."""
    import hashlib

    import numpy as np

    S = np.empty((planes, dim), dtype=np.float64)
    for p in range(planes):
        for i in range(dim):
            h = hashlib.md5(f"{p}_{i}".encode()).hexdigest()
            S[p, i] = 1.0 if int(h[:2], 16) % 2 == 0 else -1.0
    return S


_SIGN_CACHE: dict = {}


def _bucket_of(V, planes: int):
    """numpy bucket ids for a (n, dim) matrix: sign bits of the plane
    dot products packed little-endian."""
    import numpy as np

    key = (planes, V.shape[1])
    S = _SIGN_CACHE.get(key)
    if S is None:
        S = _SIGN_CACHE[key] = _sign_matrix(planes, V.shape[1])
    bits = (V @ S.T) > 0  # (n, planes)
    return (bits.astype(np.int64)
            << np.arange(planes, dtype=np.int64)).sum(axis=1)


def hyperplane_bucket(vec: Column, planes: int = 8) -> Column:
    """LSH bucket id: sign bits of `planes` deterministic hyperplane dot
    products.  Same-bucket vectors are cosine-close with high probability;
    at scale the ANN search shuffles once on bucket id.  One Arrow batch
    kernel (numpy matmul against the cached sign matrix) — the Column-HOF
    formulation costs 8x64 interpreted md5 evals per row."""
    from pyspark.sql.functions import pandas_udf

    def bucket(v: pd.Series) -> pd.Series:
        import numpy as np

        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = np.array(v.tolist(), dtype=np.float64)
        return pd.Series(_bucket_of(V, planes))

    return pandas_udf(bucket, "long")(vec)


def embedding_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    use_lsh: bool = True,
    planes: int = 8,
) -> DataFrame:
    """Near-duplicate vector pairs by cosine >= threshold.

    LSH bucketing is the DEFAULT: comparisons are restricted to
    hyperplane buckets, so the operator is safe to ship at 100 TB as-is —
    an unrestricted self-join is O(n^2) and must be requested explicitly
    with ``use_lsh=False`` (the exact baseline, for bounded inputs and
    recall evaluation only).

    Plan shape (LSH): scan -> Arrow bucket assignment (numpy matmul
    against the cached deterministic sign matrix) -> ONE shuffle on
    bucket id -> per-bucket all-pairs via a numpy gram matrix inside
    one grouped call (``groups.map_groups``).  Everything CPU-heavy is a vectorized batch kernel;
    the interpreted-HOF formulation cost 8x64 md5 evals per row per join
    side.  Bucket population is controlled by `planes` (2^planes
    buckets); skewed buckets are the caller's recall/cost dial."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    id_type = base.schema["id"].dataType.simpleString()
    if not use_lsh:
        # exact all-pairs baseline: nested-loop join, Arrow-scored
        l, r = base.alias("l"), base.alias("r")
        pairs = l.join(r, F.col("l.id") < F.col("r.id")).select(
            F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
            F.round(cosine_vec(F.col("l.v"), F.col("r.v")), 6)
            .alias("cosine"),
        )
        return pairs.filter(F.col("cosine") >= threshold)

    bucketed = _spread(base, by="id").withColumn(
        "bucket", hyperplane_bucket(F.col("v"), planes))
    # prefilter margin: the authoritative test is round(cos, 6) >=
    # threshold, applied JVM-side below; the kernel only discards pairs
    # that cannot round up across the boundary
    margin = threshold - 5.0e-7 - 1.0e-12

    def pair_gen(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("id")
        ids = pdf["id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": ids[:0], "id_b": ids[:0],
                                 "cosine": np.array([], dtype=np.float64)})
        V = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        C = (V @ V.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(n, k=1)
        keep = C[ia, ib] >= margin
        return pd.DataFrame({"id_a": ids[ia[keep]], "id_b": ids[ib[keep]],
                             "cosine": C[ia[keep], ib[keep]]})

    pairs = map_groups(bucketed, ["bucket"], pair_gen,
                       f"id_a {id_type}, id_b {id_type}, cosine double")
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def _cc_kernel(batches):
    """Min-label components of the task's whole (a, b) edge list, in
    numpy: ids become sorted ``np.unique`` indices, so the minimum
    index is the minimum id.  Each round hooks every root onto the
    smallest root across its edges (``np.minimum.at``), then pointer
    jumping flattens every chain to its root; a root that is a local
    minimum absorbs its neighbours, so the root count at least halves
    per round (O(log n) rounds).  At the fixpoint every node points at
    its component's minimum id."""
    import numpy as np
    import pyarrow as pa

    cols = edge_arrays(batches, "a", "b")
    if not cols:
        return
    a, b = cols
    ids, idx = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = idx[:len(a)], idx[len(a):]
    comp = np.arange(len(ids))
    while True:
        ca, cb = comp[ai], comp[bi]
        if (ca == cb).all():
            break
        np.minimum.at(comp, np.maximum(ca, cb), np.minimum(ca, cb))
        while True:
            jumped = comp[comp]
            if (jumped == comp).all():
                break
            comp = jumped
    yield pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(ids[comp])], names=["id", "cluster_id"])


def _cc_checkpoint(pairs, nodes, id_a, id_b):
    """Checkpoint the edge list of both component functions through
    :func:`~pincette_json_streams_spark.functions.graph.checkpoint_edges`:
    the (a, b) pairs plus one self-loop per ``nodes`` id (a self-loop
    names a node without linking it), both ends cast to the type the
    union of every id column resolves to.  Returns ``(checkpoint,
    local)``; ``local`` is the single-task result for a small edge list
    of integral ids, else None."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    if nodes is not None:
        c = F.col(nodes.columns[0])
        e = e.union(nodes.select(c.alias("a"), c.alias("b")))
    t = e.select("a").union(e.select("b")).schema[0].dataType
    e = e.select(F.col("a").cast(t), F.col("b").cast(t))
    ckpt, _, local = checkpoint_edges(
        e, _cc_kernel if isinstance(t, IntegralType) else None,
        StructType([StructField("id", t), StructField("cluster_id", t)]))
    return ckpt, local


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Resolve pairwise duplicate edges into clusters: -> (id, cluster_id)
    with cluster_id = the minimum member id (deterministic canonical
    representative — "keep doc where id == cluster_id" is the dedup rule).

    `nodes` (one column named `id_a`'s type) optionally supplies the full
    id universe so edge-free documents appear as singleton clusters.

    Scale shape: ONE eager job checkpoints the edge list (pairs plus a
    self-loop per `nodes` id) and observes its row count.  At most
    ``graph.SMALL_GRAPH_ROWS`` rows of integral ids finish in one Arrow
    task over that checkpoint: numpy min-label union with pointer
    jumping, O(log n) rounds inside the task, no per-round jobs and no
    label rows through the driver.  That is one job at call time,
    against one per propagation round on the distributed path.

    Above the threshold, iterative min-label propagation runs from the
    same checkpoint.  Each round is one equi-join (labels onto edge
    endpoints) + one map-side-combining min aggregation;
    `localCheckpoint` truncates lineage so the plan does not grow with
    iterations, and the convergence probe rides the round's own job.
    Rounds needed = graph diameter, which for near-dup clusters (dense
    blobs produced by LSH band collisions) is small — single digits in
    practice.  `max_iters` bounds these distributed rounds only (the
    single-task kernel always runs to its fixpoint): a graph whose
    diameter exceeds it raises ``ValueError`` rather than return labels
    that break the min-id contract; :func:`connected_components_star`
    (large-star/small-star, Kiveris et al., SoCC'14) needs only
    O(log n) rounds there."""
    e, local = _cc_checkpoint(pairs, nodes, id_a, id_b)
    if local is not None:
        return local
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # id universe first (before dropping self-loops, which still name a node)
    labels = sym.select(F.col("a").alias("id")).distinct() \
        .withColumn("comp", F.col("id"))
    sym = sym.filter(F.col("a") != F.col("b")).distinct()
    sym = sym.localCheckpoint(eager=False)

    for _ in range(max_iters):
        msgs = (
            sym.join(labels, sym["a"] == labels["id"])
            .select(F.col("b").alias("id"), "comp")
        )
        # the convergence probe rides the SAME job as the label round:
        # the old label travels through the min-aggregation (unique
        # non-null per id, so max() recovers it) and observe() counts
        # the changes during the eager checkpoint action — one Spark
        # job per iteration, not two
        obs = Observation()
        new = (
            labels.select("id", "comp", F.col("comp").alias("old"))
            .unionByName(msgs.withColumn(
                "old", F.lit(None).cast(msgs.schema["comp"].dataType)))
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.max("old").alias("old"))
            .observe(obs, F.sum(
                (F.col("comp") != F.col("old")).cast("long")
            ).alias("changed"))
            .select("id", "comp")
            .localCheckpoint(eager=True)
        )
        labels = new
        if not obs.get.get("changed"):
            break
    else:
        raise ValueError(
            f"connected_components: labels still changing after "
            f"max_iters={max_iters} rounds (the graph's diameter is "
            "larger); raise max_iters or use connected_components_star")
    return labels.select("id", F.col("comp").alias("cluster_id"))


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — same
    contract as :func:`connected_components`, O(log n) rounds instead of
    O(diameter), so it's the variant to reach for when clusters can
    chain (e.g. transitive near-dup bridges across a crawl).

    A small edge list takes the same single-task path as
    :func:`connected_components`, from the same one-job checkpoint.
    Above the threshold each round is two join+min-aggregate steps over
    the shrinking edge set; edges converge to stars centered at each
    component's minimum id.  `localCheckpoint` truncates lineage per
    round; the fixpoint probe (any node whose parent changed?) runs on
    the checkpointed result.  Running out of `max_iters` before the
    probe settles raises ``ValueError``, as in
    :func:`connected_components`."""
    e, local = _cc_checkpoint(pairs, nodes, id_a, id_b)
    if local is not None:
        return local
    universe = (
        e.select(F.col("a").alias("id"))
        .union(e.select(F.col("b").alias("id"))).distinct()
        .localCheckpoint(eager=False)
    )
    edges = (
        e.filter(F.col("a") != F.col("b")).distinct()
        .localCheckpoint(eager=True)
    )

    def _sym(es):
        return es.union(
            es.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()

    def parents(es):
        return _sym(es).groupBy("a").agg(F.min("b").alias("p"))

    prev = parents(edges)
    for it in range(max_iters):
        # large-star: every strictly-larger neighbor of u links to
        # min(N(u) + u) — long chains collapse geometrically.  The edge
        # set is undirected, so each round works on the symmetric view.
        s = _sym(edges)
        mins = s.groupBy("a").agg(F.least(F.col("a"), F.min("b")).alias("m"))
        s2 = s.join(mins, "a")
        large = (
            s2.filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(s2.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b")).distinct()
        )
        # small-star: downward edges regroup onto the local minimum
        down = _sym(large).filter(F.col("b") < F.col("a"))
        mins2 = down.groupBy("a").agg(
            F.least(F.col("a"), F.min("b")).alias("m"))
        edges = (
            down.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b")).distinct()
            .localCheckpoint(eager=True)
        )
        # the parent-map probe is its own join job, so amortise it:
        # probe every 2nd round (rounds shrink the graph geometrically,
        # and the fixpoint is stable, so a 2-round stale comparison
        # converges identically — one extra cheap round at worst)
        if it % 2 == 1 or it == max_iters - 1:
            cur = parents(edges)
            moved = (
                cur.alias("c").join(prev.alias("p"), "a", "full")
                .filter(
                    F.col("c.p").isNull() | F.col("p.p").isNull()
                    | (F.col("c.p") != F.col("p.p"))
                )
                .limit(1).count()
            )
            prev = cur
            if moved == 0:
                break
    else:
        raise ValueError(
            f"connected_components_star: parents still moving after "
            f"max_iters={max_iters} rounds; raise max_iters")
    # at the star fixpoint every member points at the component min, and
    # the min's own parent is the second-smallest member — least(id, p)
    # is therefore the root for both
    comp = prev.select(
        F.col("a").alias("id"),
        F.least(F.col("a"), F.col("p")).alias("comp"),
    )
    return (
        universe.join(comp, "id", "left")
        .select("id",
                F.coalesce(F.col("comp"), F.col("id")).alias("cluster_id"))
    )


def verify_pairs_editdist(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    cap: int = 400,
    min_sim: float = 0.0,
    carry_cols: "list[str] | None" = None,
) -> DataFrame:
    """Exact edit-distance verification of near-dup CANDIDATE pairs —
    the precision stage after any LSH/posting recall stage (MinHash,
    SimHash, winnowing): candidates are cheap to over-generate, but a
    dedup decision wants a true string-similarity score, not a sketch
    estimate.  Similarity = 1 - levenshtein(a, b) / max(len(a), len(b))
    over whitespace/case-normalized text truncated to ``cap`` chars.

    Scale shape: the pair stream is orders of magnitude smaller than
    the corpus, so it is melted to one (pair, side, doc-id) row per
    endpoint and BROADCAST once against the document scan — the big
    table is never shuffled AND the (possibly expensive) pair-generation
    plan is evaluated exactly once; the only shuffle is the pair-count
    re-pivot agg, moving ``cap``-bounded text.  The Levenshtein DP
    itself is JVM-side (`F.levenshtein`, whole-stage codegen) and the
    cap bounds it at cap^2 cells per pair regardless of document
    length.

    Returns (id_a, id_b, *carry_cols, sim) for pairs with
    sim >= ``min_sim``; sim is reported on a 1e-6 floor-grid so a SQL
    oracle reproduces it bit-for-bit (cross-engine float contract).
    Pairs whose endpoints are missing from ``docs`` are dropped.

    ``carry_cols`` names extra ``pairs`` columns (functionally
    dependent on the pair key, e.g. the LSH jaccard estimate) to thread
    through the melt/regroup — so a caller that wants both scores never
    has to join the expensive pair plan a second time."""
    carry = list(carry_cols or [])
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    n = docs.select(
        F.col(id_col).alias("__vid"),
        F.substring(norm, 1, cap).alias("__vtxt"),
    )
    melted = (
        pairs.select(
            F.col(id_a).cast("long").alias(id_a),
            F.col(id_b).cast("long").alias(id_b),
            *[F.col(c) for c in carry],
        )
        .select(
            id_a, id_b, *carry,
            F.explode(F.array(
                F.struct(F.lit("a").alias("s"),
                         F.col(id_a).alias("__vid")),
                F.struct(F.lit("b").alias("s"),
                         F.col(id_b).alias("__vid")),
            )).alias("__e"),
        )
        .select(id_a, id_b, *carry, F.col("__e.s").alias("__s"),
                F.col("__e.__vid").alias("__vid"))
    )
    both = (
        n.join(F.broadcast(melted), "__vid")
        .groupBy(id_a, id_b)
        .agg(
            F.max(F.when(F.col("__s") == "a", F.col("__vtxt")))
            .alias("__ta"),
            F.max(F.when(F.col("__s") == "b", F.col("__vtxt")))
            .alias("__tb"),
            # carry columns are constant per pair key, so max is an
            # exact (and deterministic) passthrough
            *[F.max(c).alias(c) for c in carry],
        )
        .filter(F.col("__ta").isNotNull() & F.col("__tb").isNotNull())
    )
    maxlen = F.greatest(F.length("__ta"), F.length("__tb"))
    sim = F.when(maxlen == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein("__ta", "__tb") / maxlen)
    return (
        both.withColumn(
            "sim", F.floor(sim * 1e6 + F.lit(0.5)) / 1e6)
        .filter(F.col("sim") >= min_sim)
        .select(id_a, id_b, *carry, "sim")
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 60,
    n: int = 3,
) -> DataFrame:
    """EXACT Jaccard similarity join with prefix filtering (the PPJoin
    family — Xiao, Wang, Lin & Yu, WWW 2008): a pair of word-token SETS
    with Jaccard >= t MUST share at least one of the first
    ``|T| - ceil(t*|T|) + 1`` tokens when every set is ordered by global
    token rarity — so only that short, rare-first PREFIX is posted to
    the inverted index.  This is the exact counterpart of MinHash-LSH:
    zero false negatives, zero probabilistic recall, candidate volume
    pruned by the threshold itself (higher t => shorter prefixes).

    All comparisons are integer: the threshold is a percentage,
    ``ceil(t*sz)`` is ``(pct*sz + 99) div 100``, and the verify keeps a
    pair when ``inter * 100 >= pct * union`` — cross-multiplication, no
    float anywhere, so a SQL oracle replays the join bit-for-bit.

    Scale shape: one token-frequency hash-agg, one re-group to
    rare-first arrays, a posting join on PREFIX tokens only (the rarest
    tokens of each doc — posting lists are short by construction), and
    an array_intersect verify on the candidate pairs.  Returns
    (id_a, id_b, inter, uni, jacc_e6) with jacc_e6 on the integer 1e-6
    grid.

    The set elements are word ``n``-grams (shingles), not unigrams:
    on natural corpora a shared vocabulary makes unigram Jaccard
    uniformly high (measured ~0.5-0.8 across ALL pairs of the test
    corpus), which would defeat both the threshold and the prefix
    pruning; shingles keep only genuinely overlapping text similar."""
    words = F.filter(F.split(normalize_text(F.col(text_col)), " "),
                     lambda x: x != "")
    toks = _spread(df, by=id_col).select(
        F.col(id_col).alias("id"), words.alias("__w"),
    ).select(
        "id",
        # CASE guard, not greatest(.., 0): sequence(1, 0) DESCENDS to
        # [1, 0] and slice(…, 0, n) throws — a sub-n-word doc would
        # kill the job (found by the Hypothesis property suite).
        # r13 (guide §2.3, narrower types): shingles are hashed to
        # 64-bit with native xxhash64 INSIDE the kernel pass, so every
        # downstream structure — the exploded postings, the freq key,
        # the rare-first regroup's wide per-doc arrays (the biggest
        # exchange of the query), and the verify's array_intersect —
        # carries 8-byte longs instead of ~25-char strings.  The hash
        # is internal: the output is (id pairs, inter, uni, jacc_e6),
        # counts over DISTINCT sets, unchanged w.h.p. exactly like the
        # ngram family's kernel (collisions ~2^-64; the SQL oracle
        # replays string sets and the round's oracle runs PASS
        # hash-exact).  Rare-first ORDER tie-breaks change (hash vs
        # string), but the PPJoin prefix/positional bounds hold for
        # ANY one global total order, and the verify is an exact
        # intersect — candidate sets may differ, output cannot.
        F.array_distinct(F.expr(
            f"CASE WHEN size(__w) >= {n} THEN "
            f"transform(sequence(1, size(__w) - {n - 1}),"
            f" i -> xxhash64(concat_ws(' ', slice(__w, i, {n}))))"
            f" ELSE CAST(array() AS array<bigint>) END"
        )).alias("tok"),
    ).filter(F.size("tok") > 0) \
        .localCheckpoint(eager=False)
    # ^ the shingle kernel is the expensive scan pass and everything
    # downstream re-derives from it (freq, ordered x3); the LAZY
    # lineage cut runs it once.  A/B at sf0.1 (each min of 2): no cut
    # 11.1 s, toks cut 7.2 s, toks+ordered 9.8 s, ordered-only 13.8 s —
    # cutting `ordered` still LOSES (materializing the wide per-doc
    # gram arrays costs more than recomputing them from checkpointed
    # toks, and it blocks AQE's join planning downstream).
    ex = toks.select("id", F.explode("tok").alias("w"))
    freq = ex.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # ordered has FOUR consumers (both sides of the prefix posting
    # self-join + both sides of the verify join); persist() computes
    # the explode + freq join + rare-first regroup once and serves the
    # other three from the deserialized in-memory cache.  NOT
    # localCheckpoint: the r8 A/B measured eager checkpoint of these
    # wide gram arrays LOSING (13.8 s vs 7.2) to recompute because of
    # the serialization barrier, while plain persist wins the r12
    # interleaved A/B 6 rounds of 8 (min 7.42 s vs 7.99, median 9.11
    # vs 10.83) — and at corpus scale computing the regroup shuffle
    # once instead of four times is the only shape that survives.
    # tracked_persist registers it for release_caches() so long-lived
    # library sessions do not accumulate cached blocks.
    ordered = tracked_persist(
        ex.join(freq, "w")
        .groupBy("id")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("c", "w"))),
            lambda s: s["w"]).alias("arr"))
        .withColumn("sz", F.size("arr"))
    )
    # ceil(pct*sz/100) via (pct*sz + 99) div 100: integer-exact
    pref = ordered.withColumn(
        "p", F.expr(f"sz - (({threshold_pct} * sz + 99) div 100) + 1")
    ).select(
        "id", "sz",
        F.posexplode(F.expr("slice(arr, 1, int(p))"))
        .alias("pos", "w"))
    a, b = pref.alias("a"), pref.alias("b")
    # PPJoin positional filter: both arrays share ONE global rarity
    # order, so for a pair's EARLIEST common prefix token at (0-based)
    # positions (pa, pb) the total overlap is at most
    # 1 + min(sz_a - pa - 1, sz_b - pb - 1), and Jaccard >= t needs
    # overlap * (100 + pct) >= pct * (sz_a + sz_b) (the equivalent
    # overlap threshold, integer cross-multiplied).  Later common
    # tokens give smaller bounds, so per-row filtering + distinct
    # keeps a pair iff its earliest (loosest-bound) row survives —
    # candidates only shrink, output provably unchanged.
    ubound = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos") - 1,
        F.col("b.sz") - F.col("b.pos") - 1)
    cand = (
        # PPJoin length filter riding the posting join: Jaccard >= t
        # forces t * max(sz) <= min(sz), so the integer
        # cross-multiplied conjunct prunes size-mismatched candidates
        # BEFORE the distinct and the verify join (interleaved A/B at
        # sf0.1: min 8.4 s with vs 10.5 s without, identical output)
        a.join(b, (F.col("a.w") == F.col("b.w"))
               & (F.col("a.id") < F.col("b.id"))
               & (F.col("a.sz") * 100 >= threshold_pct * F.col("b.sz"))
               & (F.col("b.sz") * 100 >= threshold_pct * F.col("a.sz"))
               & (ubound * (100 + threshold_pct)
                  >= threshold_pct
                  * (F.col("a.sz") + F.col("b.sz"))))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = ordered.select("id", "arr", "sz")
    verified = (
        cand.join(sets.select(F.col("id").alias("id_a"),
                              F.col("arr").alias("arr_a"),
                              F.col("sz").alias("sz_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"),
                          F.col("arr").alias("arr_b"),
                          F.col("sz").alias("sz_b")), "id_b")
        .withColumn("inter",
                    F.size(F.array_intersect("arr_a", "arr_b"))
                    .cast("bigint"))
        .withColumn("uni",
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                    .cast("bigint"))
        .filter(F.col("inter") * 100 >= F.lit(threshold_pct)
                * F.col("uni"))
    )
    return verified.select(
        "id_a", "id_b", "inter", "uni",
        F.expr("(inter * 1000000) div uni").alias("jacc_e6"),
    )
