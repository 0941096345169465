"""Text-analysis operators for large-scale training-data pipelines.

All pure native-Column implementations (no UDFs): at 100 TB these run
inside whole-stage codegen with full predicate pushdown, and every function
is deterministic so a SQL oracle can replay it exactly.

Operators: token counting (whitespace + BPE-ish regex), quality scoring
(length/punctuation/stopword/repetition signals), language ID (marker-word
n-gram heuristic), document fingerprinting (normalized content hash +
shingle-based rolling hashes).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.rows import map_rows

__all__ = [
    "ws_token_count", "bpe_token_count", "quality_features",
    "quality_score", "lang_id", "fingerprint", "shingles", "word_ngrams",
    "with_text_features", "quality_score_from", "scrub_pii", "pii_counts",
    "token_vocabulary", "with_repetition_features", "benchmark_overlap",
    "unigram_logprob", "bigram_logprob", "chunk_documents",
    "tfidf_top_terms",
    "duplicate_spans", "strip_duplicate_spans", "decontaminate_spans",
    "token_drift", "winnow_fingerprints", "winnow_pairs", "bm25_scores",
    "bind_once", "STOPWORDS",
    "LANG_MARKERS", "BPE_TOKEN_RE", "PII_PATTERNS",
]

# A compact English stopword list (public knowledge).
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "this", "that", "be",
)

# Marker words per language for the n-gram/stopword language heuristic.
# Deterministic argmax with fixed tie-break order (list order).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "pas", "une", "pour", "que"),
    "es": ("el", "la", "los", "y", "es", "no", "una", "por", "que"),
    "it": ("il", "la", "che", "e", "non", "per", "una", "sono", "di"),
}

# BPE-ish pre-tokenizer: word pieces, numbers, or single punctuation —
# the GPT-2 style split, simplified to a portable character-class regex.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def ws_token_count(text: Column) -> Column:
    """Whitespace token count."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, "\\s+"))
    )


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenization regex."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def _words(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), "\\s+")


def quality_features(text: Column) -> dict[str, Column]:
    """Raw quality signals (each a Column), composable into filters."""
    n_chars = F.length(text)
    words = _words(text)
    n_words = F.size(words)
    # greatest(x, 1) guards: ANSI mode makes /0 an error, and empty text
    # must score 0, not fail the whole stage
    distinct_ratio = F.size(F.array_distinct(words)) / F.greatest(
        n_words, F.lit(1)
    )
    stop_hits = F.size(
        F.array_intersect(words, F.array(*[F.lit(s) for s in STOPWORDS]))
    )
    punct = F.size(
        F.regexp_extract_all(text, F.lit("[^A-Za-z0-9\\s]"), F.lit(0))
    )
    mean_word_len = (F.length(F.regexp_replace(text, "\\s+", ""))
                     / F.greatest(n_words, F.lit(1)))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "distinct_word_ratio": distinct_ratio,
        "has_stopwords": (stop_hits > 0).cast("int"),
        "punct_ratio": punct / F.greatest(n_chars, F.lit(1)),
        "mean_word_len": mean_word_len,
    }


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: length band + lexical diversity +
    stopword presence − punctuation excess.  Mirrors the C4/Gopher-style
    rule stack in a single deterministic formula."""
    f = quality_features(text)
    length_ok = (
        (f["n_words"] >= 10) & (f["n_words"] <= 5000)
        & (f["mean_word_len"] >= 2) & (f["mean_word_len"] <= 12)
    ).cast("double")
    diversity = F.least(f["distinct_word_ratio"] * 2, F.lit(1.0))
    stop = f["has_stopwords"].cast("double")
    punct_penalty = F.least(f["punct_ratio"] * 5, F.lit(1.0))
    score = (0.4 * length_ok + 0.3 * diversity + 0.3 * stop) \
        * (1.0 - punct_penalty)
    return F.round(score, 6)


def lang_id(text: Column) -> Column:
    """Marker-word language heuristic: score = #marker words present per
    language; deterministic argmax (ties -> LANG_MARKERS order); 'und'
    when nothing matches."""
    words = _words(text)
    out = F.lit("und")
    best = F.lit(0)
    # iterate reversed so earlier languages win ties
    for lang in reversed(list(LANG_MARKERS)):
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        score = F.size(F.array_intersect(words, markers))
        out = F.when(score >= F.greatest(best, F.lit(1)), F.lit(lang)) \
            .otherwise(out)
        best = F.greatest(best, score)
    return out


# --------------------------------------------------------------------------
# Fused single-pass feature extraction (the hot-path form)
#
# The pure-Column versions above are composable but expensive when several
# of them run over the same text column: the shared ``split(lower(trim(
# text)))`` subtree sits inside CASE/IF branches (lang_id's marker chain,
# quality_score's length band), where whole-stage-codegen subexpression
# elimination does not apply, so the tokenization re-runs once per branch
# (~12x measured at sf0.1).  ``with_text_features`` computes every integer
# signal in ONE Arrow pass; the float scoring formula stays in native
# Columns (identical math to ``quality_score``), so results are bit-equal
# to the composable form while scanning the text exactly once.
#
# Regex parity notes (verified by tests/test_functions.py parity case):
# Java \s == Python \s under re.ASCII; Spark F.trim strips ASCII space
# only == str.strip(' '); Spark split keeps leading/trailing empties
# (limit -1) == re.split.
# --------------------------------------------------------------------------

_WS_RE = re.compile(r"\s+", re.ASCII)
_PUNCT_RE = re.compile(r"[^A-Za-z0-9\s]", re.ASCII)
_BPE_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", re.ASCII)

_TF_FIELDS = (
    "ws_tokens bpe_tokens n_words n_distinct has_stop n_punct "
    "stripped_len"
).split()
_TF_SCHEMA = (
    ", ".join(f"{f} long" for f in _TF_FIELDS) + ", lang string"
)


def _feature_tuple(t, stop_set, markers):
    if t is None:
        # counts go null like their Column twins; lang_id's otherwise()
        # default makes null text 'und', not null
        return (None,) * len(_TF_FIELDS) + ("und",)
    trimmed = t.strip(" ")
    ws = 0 if not trimmed else len(_WS_RE.split(trimmed))
    words = _WS_RE.split(trimmed.lower())
    wset = set(words)
    best, lang = 0, "und"
    for name, ms in markers:
        s = len(wset.intersection(ms))
        if s > best:
            best, lang = s, name
    if best < 1:
        lang = "und"
    return (
        ws,
        len(_BPE_RE.findall(t)),
        len(words),
        len(wset),
        int(bool(wset & stop_set)),
        len(_PUNCT_RE.findall(t)),
        len(_WS_RE.sub("", t)),
        lang,
    )


def with_text_features(
    df: DataFrame, text_col: str = "text", out: str = "__tf"
) -> DataFrame:
    """Attach a struct column ``out`` with all integer text signals plus
    the language guess, computed in a single Arrow pass
    (:func:`.rows.map_rows`).

    Repartitions to total cores first: small parquet arrives as one input
    split and this is the CPU-heavy step of any text pipeline."""
    stop_set = frozenset(STOPWORDS)
    markers = tuple(
        (lang, frozenset(ms)) for lang, ms in LANG_MARKERS.items()
    )

    def kernel(texts):
        return [[_feature_tuple(t, stop_set, markers) for t in texts]]

    return map_rows(df, kernel, [text_col],
                    [(out, f"struct<{_TF_SCHEMA}>")], spread=True)


def quality_score_from(tf: Column, n_chars: Column) -> Column:
    """The ``quality_score`` formula over a ``with_text_features`` struct —
    same float math, shared signals computed once."""
    n_words = tf["n_words"]
    nw = F.greatest(n_words, F.lit(1))
    mean_word_len = tf["stripped_len"] / nw
    length_ok = (
        (n_words >= 10) & (n_words <= 5000)
        & (mean_word_len >= 2) & (mean_word_len <= 12)
    ).cast("double")
    diversity = F.least(tf["n_distinct"] / nw * 2, F.lit(1.0))
    stop = tf["has_stop"].cast("double")
    punct_penalty = F.least(
        tf["n_punct"] / F.greatest(n_chars, F.lit(1)) * 5, F.lit(1.0)
    )
    score = (0.4 * length_ok + 0.3 * diversity + 0.3 * stop) \
        * (1.0 - punct_penalty)
    return F.round(score, 6)


def quality_gate_from(
    tf: Column, n_chars: Column, num: int = 4, den: int = 5
) -> Column:
    """Exact-integer quality gate: ``quality_score >= num/den`` evaluated
    in pure int64 arithmetic, for pipelines that *filter* on the score
    rather than report it.

    ``quality_score_from`` is float math rounded to 6dp — fine for a
    reported column, but as a *set-defining* predicate it makes the
    surviving-document set hostage to each engine's float evaluation
    order and ``round()`` tie semantics.  Multiplying the inequality
    through by its (positive) denominators removes every float:

        score = (0.4*L + 0.3*D + 0.3*S) * (1 - P)
        with D = min(2*nd, nw)/nw  and  1-P = max(ncg - 5*np, 0)/ncg

        score >= num/den
          <=>  (4*L*nw + 3*min(2*nd, nw) + 3*S*nw)
               * max(ncg - 5*np, 0) * den  >=  num * 10 * nw * ncg

    All factors are int64; products stay far under 2^63 for any document
    below ~10^8 chars, so the gate is bit-identical on Spark, DuckDB and
    any ANSI engine — the property an engine-differential oracle needs.
    Agrees with ``quality_score_from(...) >= num/den`` everywhere except
    within float-epsilon of the threshold, where this form is the one
    that is *defined*."""
    n_words = tf["n_words"]
    nw = F.greatest(n_words, F.lit(1))
    length_ok = (
        (n_words >= 10) & (n_words <= 5000)
        & (tf["stripped_len"] >= 2 * nw) & (tf["stripped_len"] <= 12 * nw)
    ).cast("long")
    ncg = F.greatest(n_chars.cast("long"), F.lit(1))
    a = (
        4 * length_ok * nw
        + 3 * F.least(2 * tf["n_distinct"], nw)
        + 3 * tf["has_stop"] * nw
    )
    b = F.greatest(ncg - 5 * tf["n_punct"], F.lit(0))
    return a * b * den >= num * 10 * nw * ncg


# PII scrubbing patterns, ORDER MATTERS: more-specific classes first so
# e.g. the phone pattern can't eat half an IPv4 or an SSN.  Engine-
# portable regex (no lookaround, ASCII classes), so a SQL oracle replays
# them with the same order + global-replace flag.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"),
    ("ipv4",
     "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"),
    ("phone",
     "\\+?[0-9]{1,3}[-. ]?\\(?[0-9]{1,4}\\)?[-. ]?[0-9]{3,4}[-. ]?"
     "[0-9]{3,4}"),
)


def scrub_pii(text: Column) -> Column:
    """Redact common PII classes with typed placeholders — the standard
    pretraining-corpus scrub.  Pure chained ``regexp_replace`` (native,
    whole-stage codegen; one streaming pass per pattern, no UDF)."""
    out = text
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class PII hit counts (for corpus auditing before scrubbing)."""
    return {
        name: F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        for name, pat in PII_PATTERNS
    }


def token_vocabulary(
    df, text_col: str = "text", id_col: str = "doc_id",
    min_count: int = 1
):
    """Corpus token-frequency table: (token, n_docs, n_occurrences) —
    the vocabulary/frequency pass of a tokenizer-training pipeline.
    Plan shape at 100 TB: one scan -> explode -> single hash aggregation
    on the token (map-side partial combine collapses the per-doc
    duplicates before the shuffle)."""
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_TOKEN_RE), F.lit(0)
            )
        ).alias("token"),
    )
    out = toks.groupBy("token").agg(
        F.count_distinct("__doc").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    if min_count > 1:
        out = out.filter(F.col("n_occurrences") >= min_count)
    return out


# --------------------------------------------------------------------------
# Repetition signals (Gopher/MassiveText-style quality heuristics)
# --------------------------------------------------------------------------

_REP_FIELDS = (
    "n_words top_word_n top_2gram_n n_2grams dup_5gram_n n_5grams"
).split()
_REP_SCHEMA = ", ".join(
    f"{f} long" for f in _REP_FIELDS
) + ", word_entropy double"


def _rep_tuple(t):
    import math
    from collections import Counter

    if t is None:
        return (None,) * len(_REP_FIELDS) + (None,)
    words = _WS_RE.split(t.strip(" ").lower())
    n = len(words)
    wc = Counter(words)
    entropy = -sum(c / n * math.log(c / n) for c in wc.values())
    g2 = [words[i] + " " + words[i + 1] for i in range(n - 1)]
    c2 = Counter(g2)
    g5 = [" ".join(words[i:i + 5]) for i in range(n - 4)]
    c5 = Counter(g5)
    return (
        n,
        max(wc.values()),
        max(c2.values()) if c2 else 0,
        len(g2),
        sum(c for c in c5.values() if c > 1),
        len(g5),
        entropy,
    )


def with_repetition_features(
    df: DataFrame, text_col: str = "text", out: str = "__rep"
) -> DataFrame:
    """Attach per-document repetition signals (the Gopher-style quality
    heuristics): most-frequent-word count, most-frequent-2-gram count,
    occurrences covered by duplicated 5-grams, and word-distribution
    entropy.  One Arrow pass (:func:`.rows.map_rows`) with per-doc
    counters — O(len) per document, where the equivalent
    higher-order-function formulation (count of every distinct word via
    ``filter``) is O(len²).

    Same word split as ``with_text_features`` (ASCII trim + lower +
    ``\\s+``), so a SQL oracle replays it via
    ``string_split_regex(lower(trim(text, ' ')), '\\s+')``."""
    def kernel(texts):
        return [[_rep_tuple(t) for t in texts]]

    return map_rows(df, kernel, [text_col],
                    [(out, f"struct<{_REP_SCHEMA}>")], spread=True)


def benchmark_overlap(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: per training document, how many
    distinct word ``n``-grams it shares with the benchmark corpus
    (docs with any overlap are candidates for decontamination removal).

    Plan shape at 100 TB: the benchmark side is orders of magnitude
    smaller than the training corpus, so its distinct gram set is
    broadcast — the big side never shuffles; matched grams collapse in a
    single per-doc hash aggregation (map-side combine first).  Joining on
    the gram string keeps the result exact; hash the gram (xxhash64) to
    shrink the broadcast when the benchmark set is near the broadcast
    ceiling."""
    bench = (
        bench_df.select(
            F.explode(word_ngrams(F.col(text_col), n)).alias("g")
        )
        .distinct()
    )
    # spread before the CPU-heavy gram construction: small parquet
    # arrives as ONE input split, which would serialize the whole
    # normalize+slice+concat pipeline on a single core
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    grams = spread.select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("g"),
    )
    return (
        grams.join(F.broadcast(bench), "g")
        .groupBy(id_col)
        # word_ngrams is distinct-per-doc, so this counts distinct
        # shared grams without a count_distinct shuffle
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def unigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unigram language-model quality score: mean log-probability of a
    document's tokens under the corpus's own unigram distribution (low =
    rare-token soup / junk; high = repetitive boilerplate — both tails
    are filter candidates).

    Two passes over the token stream: (1) one hash aggregation builds the
    vocabulary with counts (map-side combine collapses in-doc repeats
    before the shuffle — vocabularies are ~millions of rows even at
    corpus scale, far under the broadcast ceiling); (2) the exploded
    token stream joins the broadcast vocabulary and folds straight into
    the per-document mean — a single shuffle on the document id."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " "))
        .alias("w"),
    )
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("tot"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "w", F.log(F.col("c") / F.col("tot")).alias("logp")
    )
    return (
        toks.join(F.broadcast(logp), "w")
        .groupBy(id_col)
        .agg(
            F.round(F.avg("logp"), 6).alias("mean_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
    min_count: int = 2,
) -> DataFrame:
    """Interpolated bigram language-model score: per-document mean of
    ``log(lam * P(w|prev) + (1-lam) * P(w))`` under the corpus's own
    counts — the next step up from `unigram_logprob` as a perplexity
    proxy (catches scrambled-word soup a unigram model scores as fine).

    P(w|prev) = c(prev,w)/c(prev) with c(prev) the unigram count (the
    standard approximation); bigrams below ``min_count`` are pruned and
    back off to the unigram term alone, which is also what bounds the
    bigram table at corpus scale.  A document's first token has no
    history and scores on the unigram term.

    Plan shape: two hash aggregations (unigram vocab, pruned bigram
    table) + the positional token stream joining the broadcast unigram
    table twice (as word and as history) and LEFT-joining the bigram
    table — the bigram join is left to AQE (its size is data-dependent;
    at web scale it exceeds any broadcast ceiling), then one doc-id
    shuffle for the mean."""
    ws = F.split(normalize_text(F.col(text_col)), " ")
    pos = df.select(
        F.col(id_col), ws.alias("ws")
    ).select(
        F.col(id_col),
        F.col("ws"),
        F.posexplode("ws").alias("i", "w"),
    ).select(
        F.col(id_col), "i", "w",
        F.when(F.col("i") > 0, F.element_at("ws", F.col("i"))).alias("p"),
    )
    uni = pos.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = uni.agg(F.sum("c").alias("tot"))
    uni = uni.crossJoin(F.broadcast(total))
    bi = (
        pos.where(F.col("p").isNotNull())
        .groupBy("p", "w")
        .agg(F.count(F.lit(1)).alias("c_pw"))
        .where(F.col("c_pw") >= int(min_count))
    )
    pc = uni.select(F.col("w").alias("p"), F.col("c").alias("c_p"))
    scored = (
        pos.join(F.broadcast(uni), "w")
        .join(F.broadcast(pc), "p", "left")
        .join(bi, ["p", "w"], "left")
        .select(
            F.col(id_col),
            F.when(
                F.col("p").isNull(),
                F.log(F.col("c") / F.col("tot")),
            ).otherwise(
                F.log(
                    F.lit(float(lam))
                    * F.coalesce(F.col("c_pw") / F.col("c_p"), F.lit(0.0))
                    + F.lit(1.0 - float(lam))
                    * (F.col("c") / F.col("tot"))
                )
            ).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("logp"), 6).alias("mean_logprob"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per group — the corpus-characterization
    pass (what distinguishes each language/source slice).  Ranked by
    ``tf * ln(N / df)`` descending, term ascending on ties.

    Plan: token explode feeds two hash aggregations (group-term TF and
    corpus DF, both with map-side combine); document count and IDF table
    are broadcast back (tiny); per-group top-k is a rank window that
    WindowGroupLimit prunes before the final shuffle."""
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(group_col),
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " "))
        .alias("__w"),
    )
    total = df.agg(F.count_distinct(id_col).alias("__n"))
    docfreq = (
        toks.select(id_col, "__w").distinct()
        .groupBy("__w").agg(F.count(F.lit(1)).alias("dfreq"))
    )
    idf = docfreq.crossJoin(F.broadcast(total)).select(
        "__w", "dfreq", F.log(F.col("__n") / F.col("dfreq")).alias("__idf")
    )
    tf = toks.groupBy(group_col, "__w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    scored = tf.join(F.broadcast(idf), "__w").withColumn(
        "__score", F.col("tf") * F.col("__idf")
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__score").desc(), F.col("__w").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(group_col),
            F.col("rank").cast("long").alias("rank"),
            F.col("__w").alias("term"),
            F.col("tf").cast("long").alias("tf"),
            F.col("dfreq").cast("long").alias("dfreq"),
            F.round("__score", 6).alias("score"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    size: int = 128,
    overlap: int = 16,
) -> DataFrame:
    """Split each document into fixed-size word windows with overlap —
    the context-window packing step before tokenization.  Chunk ``i``
    covers words ``[i*stride, i*stride + size)`` with
    ``stride = size - overlap``; the final chunk truncates at the
    document end; every document yields at least one chunk.

    All native (split / sequence / transform / posexplode): the explode
    happens AFTER the per-doc window list is built inside whole-stage
    codegen, so the only data growth is the ~``overlap/stride`` output
    redundancy — no shuffle at all until whatever consumes the chunks."""
    if overlap >= size:
        raise ValueError("overlap must be < size")
    stride = size - overlap
    words = F.split(normalize_text(F.col(text_col)), " ")
    n = F.size(words)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1)
    ).cast("int")
    starts = F.sequence(
        F.lit(0), (n_chunks - 1) * stride, F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            F.concat_ws(
                " ", F.slice(words, (s + 1).cast("int"), size)
            ).alias("chunk"),
            F.least(n - s, F.lit(size)).cast("long").alias("n_tokens"),
        ),
    )
    other = [c for c in df.columns if c not in (text_col,)]
    return (
        df.select(*other, F.posexplode(chunks).alias("chunk_idx", "__c"))
        .select(
            *other,
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("__c.chunk").alias("chunk"),
            F.col("__c.n_tokens").alias("n_tokens"),
        )
    )


def normalize_text(text: Column) -> Column:
    """Dedup normalization: lowercase, collapse whitespace, strip."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def bind_once(expr: Column, fn) -> Column:
    """Evaluate ``expr`` ONCE per row and hand it to ``fn`` as a bound
    lambda variable.

    Any expression embedded in a higher-order-function lambda body is
    re-evaluated PER ELEMENT at runtime (Catalyst keeps one symbolic
    copy but HigherOrderFunction.eval re-executes the whole subtree
    each iteration).  A normalization regex or a built array embedded
    in an O(len) transform therefore turns O(len^2) per row — the trap
    that made the first winnowing implementation unrunnable.  Wrapping
    the expression in a single-element array and transforming over it
    binds the value to a lambda variable, which IS evaluated once and
    then referenced cheaply."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def fingerprint(text: Column) -> Column:
    """64-bit-ish content fingerprint: md5 of normalized text, first 15 hex
    digits as bigint (reproducible in any engine with md5)."""
    return F.conv(
        F.substring(F.md5(normalize_text(text)), 1, 15), 16, 10
    ).cast("bigint")


def shingles(text: Column, k: int = 9) -> Column:
    """Character k-shingles of the normalized text (distinct).

    The normalized string is bound once per row (``bind_once``) — with
    it inlined in the lambda, the normalization regex re-ran per
    shingle position, O(len^2) per document."""
    def _grams(norm):
        n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: norm.substr(i.cast("int"),
                                      F.lit(k).cast("int")),
            )
        )

    return bind_once(normalize_text(text), _grams)


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text.  The split word
    array is bound once per row (``bind_once``) — inlined, the
    normalize+split re-ran per n-gram position, O(len^2)."""
    def _grams(words):
        cnt = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), cnt),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i.cast("int"),
                                 F.lit(n).cast("int"))
                ),
            )
        )

    return bind_once(F.split(normalize_text(text), " "), _grams)


def token_drift(
    df_a,
    df_b,
    text_col: str = "text",
    top_k: int = 20,
    alpha: float = 0.5,
):
    """Token-distribution drift between two corpus snapshots: per-token
    Jensen-Shannon divergence contributions, top-k movers — the
    data-quality check a corpus refresh runs before retraining
    (vocabulary shift, contamination by a new source, filter drift).

    Laplace-smoothed probabilities over the JOINT vocabulary (so a
    token absent on one side contributes finitely); contribution =
    0.5·p·log2(p/m) + 0.5·q·log2(q/m) with m = (p+q)/2.  Summing the
    column over the full join gives total JS divergence; the top-k cut
    orders on the ROUNDED contribution (+ token tiebreak) so the
    boundary is engine-stable.

    Plan shape at 100 TB: two token-count aggregations (map-side
    combine), one full-outer equi-join on token, a broadcast of the
    1-row totals, and a TakeOrdered top-k — no quadratic step, no
    driver reads."""
    def counts(df, name):
        return (
            df.select(F.explode(F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_TOKEN_RE), F.lit(0)
            )).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias(name))
        )

    j = (
        counts(df_a, "n_a").join(counts(df_b, "n_b"), "token", "full")
        .fillna(0, ["n_a", "n_b"])
    )
    totals = j.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb"),
        F.count(F.lit(1)).alias("__v"),
    )
    a = float(alpha)
    joined = j.crossJoin(F.broadcast(totals))
    p = (F.col("n_a") + a) / (F.col("__ta") + a * F.col("__v"))
    q = (F.col("n_b") + a) / (F.col("__tb") + a * F.col("__v"))
    m = (p + q) / 2
    contrib = 0.5 * p * F.log2(p / m) + 0.5 * q * F.log2(q / m)
    scored = joined.select(
        "token",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(contrib, 9).alias("js_contrib"),
    )
    return scored.orderBy(
        F.col("js_contrib").desc(), F.col("token").asc()
    ).limit(top_k)


def _dup_windows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int,
) -> DataFrame:
    """Shared front half of the exact-substring dedup family: one row per
    overlapping ``width``-token window (stride 1) with a 60-bit content
    hash.  Returns (id, __n tokens, pos 0-based start, __h window hash).

    The window TEXT never leaves the map side — only the 8-byte hash is
    shuffled, so at 100 TB the window aggregation moves
    ``n_tokens * 8 bytes``, not ``n_tokens * width * avg_word`` bytes."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), words.alias("__ws")).withColumn(
        "__n", F.size("__ws")
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("__n") - F.lit(width - 1), F.lit(1))
    )
    wins = base.select(
        id_col,
        "__n",
        F.posexplode(
            F.transform(
                starts,
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("__ws"), i.cast("int"), width)
                ),
            )
        ).alias("pos", "__w"),
    )
    return wins.withColumn(
        "__h",
        F.conv(F.substring(F.md5("__w"), 1, 15), 16, 10).cast("bigint"),
    ).drop("__w")


def _merge_spans(marked: DataFrame, id_col: str, width: int) -> DataFrame:
    """Interval-merge duplicated window starts into maximal spans.

    A window at ``pos`` covers tokens ``[pos, pos+width)`` (truncated at
    the document end).  Overlapping or adjacent windows merge: a new span
    starts exactly when ``pos`` clears the running maximum end of every
    earlier window (classic gaps-and-islands with a cumulative max, so
    out-of-order overlaps like starts {0, 5, 6} with width 8 still fuse
    into one span).  Per-doc window work — partitions by document id,
    never by corpus size."""
    from pyspark.sql.window import Window

    w_ord = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + width).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    island = F.sum(
        (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    ).over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("__island", island)
        .groupBy(id_col, "__island")
        .agg(
            F.min("pos").alias("span_start"),
            F.least(F.max("pos") + width, F.first("__n")).alias("span_end"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplicate detection, the suffix-array-free shape of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022): hash every overlapping ``width``-token window, find hashes
    appearing in ≥ ``min_docs`` distinct documents, and merge each doc's
    duplicated window starts into maximal spans.

    Returns one row per document: ``n_tokens``, ``n_windows``,
    ``dup_windows`` (windows shared with another doc), ``n_spans``
    (maximal merged duplicated regions), ``dup_tokens`` (tokens covered
    by those regions) and ``dup_ratio`` (coverage fraction, 6 dp).

    Plan at 100 TB: windows explode map-side into 8-byte hashes; one hash
    aggregation (map-side combine) finds cross-doc hashes; one equi-join
    back on the hash marks the duplicated starts; span merging and the
    final rollup partition by document id.  No quadratic step — the
    duplicated-hash side is a small fraction of the corpus and AQE can
    broadcast it when it fits."""
    wins = _dup_windows(df, text_col, id_col, width)
    dup_keys = (
        wins.groupBy("__h")
        .agg(F.count_distinct(id_col).alias("__d"))
        .filter(F.col("__d") >= min_docs)
        .select("__h")
    )
    marked = wins.join(dup_keys, "__h")
    spans = _merge_spans(marked, id_col, width)
    per_doc_spans = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    per_doc_wins = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dup_windows")
    )
    # every doc yields >= 1 window, so this rollup keeps all docs
    totals = wins.groupBy(id_col).agg(
        F.first("__n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_windows"),
    )
    return (
        totals.join(per_doc_wins, id_col, "left")
        .join(per_doc_spans, id_col, "left")
        .fillna(0, ["dup_windows", "n_spans", "dup_tokens"])
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("dup_windows").cast("long").alias("dup_windows"),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.round(
                F.col("dup_tokens") / F.col("n_tokens"), 6
            ).alias("dup_ratio"),
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
) -> DataFrame:
    """The dedup ACTION for exact-substring duplicates: keep each shared
    window's canonical occurrence (the lowest document id containing it)
    and strip the duplicated spans from every other document.

    Span construction matches :func:`duplicate_spans` but marks a window
    only in docs that are NOT the keeper, so the canonical copy survives
    verbatim.  Covered token positions come from exploding each span into
    its positions — a plain equi-anti-join on ``(id, pos)``, not a range
    join, so it stays a hash join at any scale.

    Returns (id, n_tokens, n_kept, text_clean) with the surviving tokens
    re-joined in order."""
    wins = _dup_windows(df, text_col, id_col, width)
    dup_keys = (
        wins.groupBy("__h")
        .agg(
            F.count_distinct(id_col).alias("__d"),
            F.min(id_col).alias("__keeper"),
        )
        .filter(F.col("__d") >= 2)
        .select("__h", "__keeper")
    )
    marked = wins.join(dup_keys, "__h").filter(
        F.col(id_col) != F.col("__keeper")
    )
    spans = _merge_spans(marked, id_col, width)
    return _strip_covered(df, spans, text_col, id_col)


def _strip_covered(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Rebuild each doc's text without the tokens covered by
    ``spans`` (id, span_start, span_end).  Covered positions explode
    into (id, pos) pairs so removal is a plain hash anti-join; docs
    stripped to nothing still appear with empty text."""
    covered = spans.select(
        id_col,
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("pos"),
    )
    tokens = (
        df.select(
            F.col(id_col),
            F.posexplode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("pos", "__t"),
        )
    )
    kept = tokens.join(covered, [id_col, "pos"], "left_anti")
    survived = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__t"))),
                lambda s: s["__t"],
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("__nk"),
    )
    # left join from the token totals so a fully-stripped doc still
    # appears (empty text_clean), instead of silently vanishing
    return (
        tokens.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__nt"))
        .join(survived, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__nt").cast("long").alias("n_tokens"),
            F.coalesce(F.col("__nk"), F.lit(0)).cast("long")
            .alias("n_kept"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def decontaminate_spans(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 8,
) -> DataFrame:
    """Span-level benchmark DECONTAMINATION — the removal action to
    benchmark_overlap's detection: any ``width``-token window of a
    training doc that also appears in the benchmark set marks a span;
    marked spans interval-merge and are stripped, rebuilding the text.

    100 TB asymmetry (same as benchmark_overlap): the benchmark window
    hash set is tiny and broadcast; the training side hashes its
    windows map-side and NEVER shuffles them — the only shuffles are
    per-doc (span merge + rebuild), proportional to contaminated docs.

    Returns (id, n_tokens, n_kept, text_clean) for every training
    doc."""
    bench_wins = (
        _dup_windows(bench, text_col, id_col, width)
        .select("__h").distinct()
    )
    train_wins = _dup_windows(train, text_col, id_col, width)
    marked = train_wins.join(F.broadcast(bench_wins), "__h")
    spans = _merge_spans(marked, id_col, width)
    return _strip_covered(train, spans, text_col, id_col)


def _winnow_fp_vec(k: int, window: int):
    """Winnowing fingerprint pass as ONE Arrow-batched pandas UDF:
    text -> array<bigint> of distinct selected hashes.

    Catalyst evaluates higher-order-function lambdas interpreted, per
    element: the Column pipeline (md5 per gram position + an
    ``array_min(slice(...))`` allocation per window position) measured
    ~11 s for the sf0.1 documents table — 6x the DuckDB oracle.  The
    same computation — hashlib over distinct grams, one numpy
    sliding-window min — is ~an order of magnitude faster, and each
    Arrow batch is independent so it stays a map-only stage fused into
    the scan at 100 TB.  Hash math is bit-identical to the Column form
    (md5 -> first 15 hex digits -> base-16 bigint), verified in
    ``tests/test_functions.py::TestWinnowing``."""
    from pyspark.sql.functions import pandas_udf

    def f(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        from .dedup import _normalize_py

        out = []
        for s in texts:
            if s is None:
                # the Column form degenerates to a single null hash for
                # null text (greatest(null,1)=1 gram of a null substr);
                # replicate so explode emits the same (id, null) row
                out.append([None])
                continue
            norm = _normalize_py(s)
            n = max(len(norm) - (k - 1), 1)
            cache: dict[str, int] = {}
            hs = np.empty(n, dtype=np.int64)
            for i in range(n):
                g = norm[i:i + k]
                h = cache.get(g)
                if h is None:
                    h = cache[g] = int(
                        hashlib.md5(g.encode("utf-8")).hexdigest()[:15],
                        16,
                    )
                hs[i] = h
            if n >= window:
                mins = sliding_window_view(hs, window).min(axis=1)
            else:
                mins = hs.min(keepdims=True)
            out.append(list(dict.fromkeys(mins.tolist())))
        return pd.Series(out)

    return pandas_udf(f, "array<bigint>")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local-fingerprinting algorithm): hash every
    character ``k``-gram of the normalized text, slide a ``window`` over
    the hash sequence and select each window's minimum, then keep the
    distinct selected hashes.  Guarantees every match of length
    ``k + window - 1`` shares at least one fingerprint while retaining
    only ~2/(window+1) of the gram hashes.

    One Arrow-vectorized pass per row (``_winnow_fp_vec``) — NO
    shuffle: at 100 TB the fingerprint pass is a map-only stage fused
    into the scan.  Hashes use md5 -> 15 hex digits -> bigint so a SQL
    oracle replays them exactly (a pure-Column reference lives in
    ``tests/test_functions.py`` and locks the kernel bit-identical).

    Returns one row per (id, fp) — a document's distinct fingerprint
    set, exploded."""
    from .dedup import _spread

    fp = _winnow_fp_vec(k, window)
    return _spread(df, by=id_col).select(
        F.col(id_col).alias("id"),
        F.explode(fp(F.col(text_col))).alias("fp"),
    )


def _sorted_pairs(col: str) -> Column:
    """Every ``(arr[i], arr[j])`` with i < j of a sorted, distinct array
    column holding at least two elements, as array<struct<a, b>>: the
    ``a < b`` self-join output of one posting list, expanded in-array
    so no join runs."""
    arr = F.col(col)
    return F.flatten(F.transform(
        F.sequence(F.lit(1), F.size(arr) - 1),
        lambda i: F.transform(
            F.slice(arr, i + 1, F.size(arr)),
            lambda j: F.struct(
                F.element_at(arr, i.cast("int")).alias("a"),
                j.alias("b"),
            ),
        ),
    ))


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    max_df: int = 50,
    min_shared: int = 2,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints
    (the MOSS comparison step): posting-list equi-self-join over the
    fingerprint sets of ``winnow_fingerprints``.

    Scale shape (same family as ngram_jaccard_pairs): fingerprints
    seen in more than ``max_df`` documents are dropped — a boilerplate
    gram shared by 10^6 docs would otherwise emit a quadratic blow-up;
    the cap bounds each posting list, so pair expansion is at most
    ``max_df``² per fingerprint.  ONE shuffle total: instead of the
    df-agg + fp-equi-self-join (which evaluates the fingerprint pass
    three times and shuffles twice), group once on fp, collect the
    (≤ ``max_df``-long) sorted posting list and expand the i<j pairs
    as a nested in-array transform — the expensive Arrow fingerprint
    kernel runs exactly once, and the second shuffle is the final
    (doc_a, doc_b) count agg over the already-tiny pair stream.

    Returns (doc_a, doc_b, shared) for pairs sharing at least
    ``min_shared`` surviving fingerprints."""
    posting = winnow_fingerprints(df, text_col, id_col, k, window)
    lists = (
        # null-text docs emit a (id, NULL) fingerprint row; an equi-join
        # would drop them, but groupBy(fp) would collect them into one
        # posting list and pair them with each other — keep join (and
        # oracle) NULL semantics
        posting.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.col("id").cast("long")))
             .alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df))
    )
    return (
        # ids is sorted + distinct per fp
        lists.select(F.explode(_sorted_pairs("ids")).alias("p"))
        .groupBy(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query
    ``terms`` (Robertson/Sparck-Jones probabilistic ranking, the
    Lucene ``log(1 + (N - df + .5)/(df + .5))`` idf variant).

    Float contract: each (doc, term) partial score is rounded to an
    integer 1e4 grid BEFORE the per-doc sum, so the aggregation is
    integer addition — associative, engine-order-independent, and
    bit-identical to a SQL oracle (see SCALE.md float rules).

    Scale shape: the term filter prunes the exploded token stream
    map-side (only query-term tokens shuffle); corpus stats (N, avgdl)
    and per-term document frequencies are 1-row / |terms|-row frames,
    broadcast into the scoring join.  No window functions, no UDFs.

    Returns (doc_id, dl, score_e4, score) for every doc containing at
    least one query term."""
    norm = normalize_text(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(norm, " ").alias("__ws"),
    ).select(
        "doc_id", F.size("__ws").alias("dl"), F.explode("__ws").alias("w")
    )
    hits = base.filter(F.col("w").isin(list(terms)))
    tf = hits.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    corpus = df.select(
        F.size(F.split(normalize_text(F.col(text_col)), " ")).alias("dl")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        # explicit sum/count (NOT avg()): both engines then divide the
        # same exact integer sum — engine-internal mean accumulators
        # are not bit-identical
        (F.sum("dl").cast("double")
         / F.count(F.lit(1)).cast("double")).alias("avgdl"),
    )
    dfreq = tf.groupBy("w").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf") * F.lit(k1 + 1.0)
        / (F.col("tf")
           + F.lit(k1) * (F.lit(1.0 - b)
                          + F.lit(b) * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "w")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "part_e4",
            F.floor(idf * tf_part * F.lit(1e4) + F.lit(0.5))
            .cast("bigint"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.first("dl").cast("long").alias("dl"),
            F.sum("part_e4").alias("score_e4"),
        )
        .withColumn("score", F.col("score_e4") / F.lit(1e4))
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Collocation (phrase) mining by normalized pointwise mutual
    information — the word2vec-style phrase-detection pass a corpus
    runs before tokenizer training: npmi = ln(p(xy)/(p(x)p(y))) /
    ln(1/p(xy)), +1 = always together, 0 = independent.

    Float contract: every count is an exact integer; the two ln calls
    take identically-ordered double expressions on both engines and
    land on the 1e4 grid (the bm25 convention).  ``min_count`` prunes
    the bigram table BEFORE the unigram joins — the df-cap move that
    bounds the join input at scale.

    Plan shape: one bigram hash-agg + one unigram hash-agg over the
    token stream, two equi-joins against the (pruned) bigram table,
    1-row totals broadcast.  Returns (w1, w2, cxy, pmi_e4, npmi_e4).
    """
    words = F.filter(F.split(normalize_text(F.col(text_col)), " "),
                     lambda x: x != "")
    toks = df.select(words.alias("__w"))
    pairs = toks.select(F.explode(F.expr(
        "CASE WHEN size(__w) >= 2 THEN transform("
        "sequence(1, size(__w) - 1),"
        " i -> struct(__w[i - 1] AS w1, __w[i] AS w2))"
        " ELSE array() END")).alias("p")).select("p.w1", "p.w2")
    uni = (
        toks.select(F.explode("__w").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(
        F.sum("c").cast("bigint").alias("__n")).crossJoin(
        pairs.agg(F.count(F.lit(1)).cast("bigint").alias("__b")))
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cxy"))
        .filter(F.col("cxy") >= min_count)
    )
    joined = (
        big.join(uni.select(F.col("w").alias("w1"),
                            F.col("c").alias("__cx")), "w1")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c").alias("__cy")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.expr(
        "ln((cast(cxy AS DOUBLE) * __n * __n)"
        " / (cast(__b AS DOUBLE) * __cx * __cy))")
    denom = F.expr("ln(cast(__b AS DOUBLE) / cxy)")
    return joined.select(
        "w1", "w2", "cxy",
        F.floor(pmi * 1e4 + F.lit(0.5)).cast("bigint").alias("pmi_e4"),
        F.floor(pmi / denom * 1e4 + F.lit(0.5)).cast("bigint")
        .alias("npmi_e4"),
    )
