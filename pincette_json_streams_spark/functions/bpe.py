"""Distributed BPE tokenizer: vocabulary induction + corpus encoding.

The shape every large-scale tokenizer-training pipeline uses (Sennrich
et al. 2016; GPT-2's byte-level variant is the same algorithm over a
different alphabet):

1. **Word frequencies** — one map-side-combining hash aggregate over the
   corpus (`word_frequencies`).  At 100 TB this is the only pass that
   touches every byte; everything after runs on the word-frequency
   table, whose cardinality is bounded by the language, not the corpus.
2. **Cap + collect** — the top `max_words` rows by (freq desc, word asc)
   come to the driver.  Deterministic selection; the tail it drops is
   frequency mass that cannot change early merges (documented
   approximation, standard practice — HF/SentencePiece train on exactly
   such a capped word-frequency dict).
3. **Merge loop** — classic BPE on the freq dict, pure Python, driver
   side (`train_bpe`).  Deterministic tie-break: highest count, then
   lexicographically smallest pair.  No Spark involvement: the loop is
   O(n_merges * n_words), trivially cheap next to the corpus scan.
4. **Encode** — merge ranks broadcast in the UDF closure; an
   Arrow-batched pandas UDF applies greedy lowest-rank merging per
   word with a per-batch word cache (`bpe_encode`).  The hot path
   never shuffles and never sees the driver again.

Words carry a trailing end-of-word marker ``</w>`` during training and
encoding (the original BPE formulation), so merges never cross word
boundaries and a token's position (word-final vs internal) is encoded.

First-iteration pair statistics (`adjacent_pair_counts`) are pure
native-Column — a SQL oracle can replay them exactly; the merge loop's
first pick equals the top row (property-tested).
"""

from __future__ import annotations

from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pincette_json_streams_spark.functions.text import BPE_TOKEN_RE

__all__ = [
    "word_frequencies", "adjacent_pair_counts", "train_bpe",
    "bpe_encode", "bpe_vocab", "EOW",
]

EOW = "</w>"


def word_frequencies(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, freq) over the corpus — one hash aggregate with map-side
    combine; the result's cardinality is vocabulary-bounded."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        df.select(
            F.explode(
                F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def adjacent_pair_counts(
    word_freqs: DataFrame, with_marker: bool = True
) -> DataFrame:
    """First-iteration BPE pair statistics: (left, right, count) of
    adjacent symbols, frequency-weighted.

    Native Columns only (split into chars + transform + explode), so a
    SQL oracle replays it exactly.  ``with_marker`` appends ``</w>`` to
    the word's final symbol pair, matching the training alphabet."""
    # split between chars only ((?!$) keeps Spark's limit=-1 split from
    # emitting a trailing empty symbol at the end-of-string position)
    from pincette_json_streams_spark.functions.text import bind_once

    chars = F.split(F.col("word"), "(?!^)(?=.)")
    # bind the symbol array once per row: inlined in the lambda, the
    # regex split re-ran per pair position (O(len^2) per word)
    pairs = bind_once(
        F.concat(chars, F.array(F.lit(EOW))) if with_marker else chars,
        lambda syms: F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("left"),
                F.element_at(syms, i + 2).alias("right"),
            ),
        ),
    )
    return (
        word_freqs.where(F.length("word") >= (1 if with_marker else 2))
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.left").alias("left"),
                 F.col("p.right").alias("right"))
        .agg(F.sum("freq").cast("long").alias("count"))
    )


def _pair_counts_py(freqs: dict[tuple[str, ...], int]) -> dict:
    counts: dict[tuple[str, str], int] = {}
    for syms, f in freqs.items():
        for a, b in zip(syms, syms[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + f
    return counts


def train_bpe(
    word_freqs: DataFrame | Iterable[tuple[str, int]],
    n_merges: int = 256,
    max_words: int = 65536,
) -> list[tuple[str, str]]:
    """Induce ``n_merges`` BPE merges from a word-frequency table.

    Accepts the `word_frequencies` DataFrame (collected with a
    deterministic (freq desc, word asc) top-``max_words`` cap — the
    ONLY driver-side collect in the pipeline, bounded by construction)
    or an iterable of (word, freq) pairs.  Returns merges in rank
    order; ties break on (count desc, pair asc) so retraining is
    reproducible bit-for-bit."""
    if isinstance(word_freqs, DataFrame):
        rows = (
            word_freqs.orderBy(F.desc("freq"), F.asc("word"))
            .limit(int(max_words)).collect()
        )
        items = [(r["word"], r["freq"]) for r in rows]
    else:
        items = list(word_freqs)

    freqs: dict[tuple[str, ...], int] = {}
    for word, f in items:
        syms = tuple(word) + (EOW,)
        freqs[syms] = freqs.get(syms, 0) + int(f)

    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        counts = _pair_counts_py(freqs)
        if not counts:
            break
        pair, _n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append(pair)
        a, b = pair
        ab = a + b
        nxt: dict[tuple[str, ...], int] = {}
        for syms, f in freqs.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            nxt[t] = nxt.get(t, 0) + f
        freqs = nxt
    return merges


def bpe_vocab(merges: list[tuple[str, str]],
              alphabet: Optional[Iterable[str]] = None) -> list[str]:
    """Vocabulary = base alphabet + one new symbol per merge."""
    vocab = list(alphabet or []) + [EOW]
    for a, b in merges:
        vocab.append(a + b)
    seen, out = set(), []
    for v in vocab:
        if v not in seen:
            seen.add(v)
            out.append(v)
    return out


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list:
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i, pair in enumerate(zip(syms, syms[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "tokens",
    lowercase: bool = True,
) -> DataFrame:
    """Append ``out_col``: the BPE token array of ``text_col``.

    Merge ranks ship in the UDF closure (broadcast with the task
    binary — no shuffle, no driver round-trips); encoding is an
    Arrow-batched pandas UDF with a per-batch word cache, so each
    DISTINCT word in a batch is merged once regardless of how often it
    repeats — the zipfian repetition that makes caching pay is exactly
    what corpora look like."""
    from pyspark.sql.functions import pandas_udf
    from pincette_json_streams_spark.functions.text import _BPE_RE

    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def enc(texts: pd.Series) -> pd.Series:
        cache: dict[str, list] = {}

        def one(t):
            if t is None:
                return []
            if lowercase:
                t = t.lower()
            out = []
            for w in _BPE_RE.findall(t):
                toks = cache.get(w)
                if toks is None:
                    toks = _encode_word(w, ranks)
                    cache[w] = toks
                out.extend(toks)
            return out

        return pd.Series([one(t) for t in texts])

    enc_udf = pandas_udf(enc, "array<string>")
    return df.withColumn(out_col, enc_udf(F.col(text_col)))
