"""Training-data operator tests: dedup / similarity / text / multimodal
(the plus-scope of SURVEY.md §2 — these run over the driver's documents
and embeddings tables)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog", "web"),
            (1, "The quick brown fox jumps over the lazy dog", "web"),
            (2, "the quick brown fox jumps over a lazy cat", "web"),
            (3, "completely different text about spark engines and "
                "distributed processing of large data", "book"),
            (4, "", "web"),
        ],
        "doc_id long, text string, source string",
    )


class TestText:
    def test_token_counts(self, docs):
        from pincette_json_streams_spark.functions.text import (
            bpe_token_count, ws_token_count,
        )
        out = {
            r["doc_id"]: (r["ws"], r["bpe"])
            for r in docs.select(
                "doc_id",
                ws_token_count(F.col("text")).alias("ws"),
                bpe_token_count(F.col("text")).alias("bpe"),
            ).collect()
        }
        assert out[0][0] == 9
        assert out[4][0] == 0
        assert out[0][1] >= 9

    def test_quality_and_lang(self, docs):
        from pincette_json_streams_spark.functions.text import (
            lang_id, quality_score,
        )
        out = {
            r["doc_id"]: (r["q"], r["lang"])
            for r in docs.select(
                "doc_id",
                quality_score(F.col("text")).alias("q"),
                lang_id(F.col("text")).alias("lang"),
            ).collect()
        }
        assert out[3][1] == "en"
        assert 0.0 <= out[4][0] <= out[3][0] <= 1.0

    def test_fused_features_match_columns(self, spark):
        """The single-Arrow-pass feature extractor must agree bit-for-bit
        with the composable Column functions on edge cases: tabs/newlines
        (F.trim strips ASCII space only), leading whitespace (Spark split
        keeps the leading empty token), empty and null text, unicode."""
        from pincette_json_streams_spark.functions.text import (
            bpe_token_count, lang_id, quality_score, quality_score_from,
            with_text_features, ws_token_count,
        )
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "\tder hund und die katze\n"),
            (2, "  le chat est   sur le toit  "),
            (3, ""),
            (4, "   "),
            (5, "\t\n"),
            (6, "a"),
            (7, "¡Hola! ¿Qué tal? — naïve café ünïcødé"),
            (8, "x " * 2000 + "punct!!!??;;"),
            (9, None),
            (10, "el perro y el gato no es una cosa por que"),
            (11, "12 34 punct-only: !!! ??? ;;; ..."),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        expected = {
            r["doc_id"]: (r["ws"], r["bpe"], r["q"], r["lang"])
            for r in df.select(
                "doc_id",
                ws_token_count(F.col("text")).alias("ws"),
                bpe_token_count(F.col("text")).alias("bpe"),
                quality_score(F.col("text")).alias("q"),
                lang_id(F.col("text")).alias("lang"),
            ).collect()
        }
        got = {
            r["doc_id"]: (r["ws"], r["bpe"], r["q"], r["lang"])
            for r in with_text_features(df).select(
                "doc_id",
                F.col("__tf.ws_tokens").alias("ws"),
                F.col("__tf.bpe_tokens").alias("bpe"),
                quality_score_from(F.col("__tf"), F.length("text"))
                .alias("q"),
                F.col("__tf.lang").alias("lang"),
            ).collect()
        }
        for doc_id, exp in expected.items():
            assert got[doc_id] == exp, (doc_id, exp, got[doc_id])

    def test_integer_quality_gate_matches_float_score(self, spark):
        """quality_gate_from (the exact-int64 threshold predicate the
        curation funnel filters on) must agree with
        quality_score_from(...) >= 0.8 on the edge corpus AND on the
        real sf0.001 documents — and the real corpus must keep a real
        margin from the threshold, so the two formulations can never
        diverge on driver data."""
        import os

        from pincette_json_streams_spark.functions.text import (
            quality_gate_from, quality_score_from, with_text_features,
        )
        sf = os.environ.get(
            "SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
        edge = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog " * 3),
             (1, ""), (2, None), (3, "a b c"), (4, "x " * 6000),
             (5, "words " * 20 + "!!!" * 40)],
            "doc_id long, text string",
        )
        real = spark.read.parquet(os.path.join(sf, "documents.parquet")) \
            .select("doc_id", "text")
        for df in (edge, real):
            rows = with_text_features(df).select(
                "doc_id",
                quality_score_from(F.col("__tf"), F.length("text"))
                .alias("q"),
                quality_gate_from(F.col("__tf"), F.length("text"))
                .alias("gate"),
            ).collect()
            for r in rows:
                # null text: both the score and the gate are NULL, and
                # a filter() drops NULL — normalize both to "kept?"
                q = r["q"] if r["q"] is not None else 0.0
                assert bool(r["gate"]) == (q >= 0.8), (r["doc_id"], r["q"])
        margins = [abs((r["q"] or 0.0) - 0.8) for r in rows]
        assert min(margins) > 1e-4, min(margins)

    def test_scrub_pii(self, spark):
        from pincette_json_streams_spark.functions.text import scrub_pii
        df = spark.createDataFrame(
            [(1, "mail a.b+c@x-corp.io, call +32 2 555 1234, "
                 "host 192.168.0.1, ssn 123-45-6789 end")],
            "id long, text string",
        )
        out = df.select(scrub_pii(F.col("text")).alias("t")).collect()[0]["t"]
        assert "<EMAIL>" in out and "<PHONE>" in out
        assert "<IPV4>" in out and "<SSN>" in out
        assert "@" not in out and "192.168" not in out
        assert "123-45-6789" not in out

    def test_token_vocabulary(self, spark):
        from pincette_json_streams_spark.functions.text import (
            token_vocabulary,
        )
        df = spark.createDataFrame(
            [(1, "the cat sat"), (2, "the dog sat down")],
            "doc_id long, text string",
        )
        out = {r["token"]: (r["n_docs"], r["n_occurrences"])
               for r in token_vocabulary(df).collect()}
        assert out["the"] == (2, 2)
        assert out["sat"] == (2, 2)
        assert out["cat"] == (1, 1)

    def test_fingerprint_normalizes(self, spark):
        from pincette_json_streams_spark.functions.text import fingerprint
        df = spark.createDataFrame(
            [("a", "Hello  World"), ("b", "hello world"), ("c", "bye")],
            "id string, text string",
        )
        out = {r["id"]: r["fp"] for r in df.select(
            "id", fingerprint(F.col("text")).alias("fp")).collect()}
        assert out["a"] == out["b"] != out["c"]


class TestRepetition:
    def test_repetition_features(self, spark):
        from pincette_json_streams_spark.functions.text import (
            with_repetition_features,
        )
        df = spark.createDataFrame(
            [
                (0, "a a a a a b"),                   # heavy repetition
                (1, "one two three four five six"),   # all distinct
                (2, "x y x y x y x y x y"),           # repeated 2-grams
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["__rep"].asDict()
            for r in with_repetition_features(df).collect()
        }
        assert out[0]["n_words"] == 6 and out[0]["top_word_n"] == 5
        assert out[1]["top_word_n"] == 1
        assert out[1]["dup_5gram_n"] == 0 and out[1]["n_5grams"] == 2
        # "x y" appears 5 times among the 9 2-grams
        assert out[2]["top_2gram_n"] == 5 and out[2]["n_2grams"] == 9
        # all six 5-grams alternate between two forms -> all duplicated
        assert out[2]["dup_5gram_n"] == out[2]["n_5grams"] == 6
        assert out[1]["word_entropy"] > out[0]["word_entropy"]

    def test_benchmark_overlap(self, spark):
        from pincette_json_streams_spark.functions.text import (
            benchmark_overlap,
        )
        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta")], "doc_id long, text string"
        )
        train = spark.createDataFrame(
            [
                (0, "alpha beta gamma epsilon"),   # shares 1 3-gram
                (1, "zeta eta theta iota"),        # shares none
                (2, "x alpha beta gamma delta y"), # shares 2 3-grams
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["n_shared_grams"]
            for r in benchmark_overlap(train, bench, n=3).collect()
        }
        assert out == {0: 1, 2: 2}

    def test_tfidf_top_terms(self, spark):
        import math

        from pincette_json_streams_spark.functions.text import (
            tfidf_top_terms,
        )
        df = spark.createDataFrame(
            [(0, "en", "apple apple banana"),
             (1, "en", "banana cherry"),
             (2, "de", "apfel apfel apfel")],
            "doc_id long, lang string, text string",
        )
        out = tfidf_top_terms(df, k=2)
        en = sorted(
            (r["rank"], r["term"], r["tf"], r["score"])
            for r in out.collect() if r["lang"] == "en"
        )
        # en scores: apple 2*ln3 = 2.197, cherry 1*ln3 = 1.099,
        # banana 2*ln1.5 = 0.811 -> top-2 is apple, cherry
        assert en[0][1] == "apple" and en[0][0] == 1
        assert abs(en[0][3] - round(2 * math.log(3), 6)) < 1e-9
        assert en[1][1] == "cherry"

    def test_chunk_documents(self, spark):
        from pincette_json_streams_spark.functions.text import (
            chunk_documents,
        )
        df = spark.createDataFrame(
            [(0, " ".join(f"w{i}" for i in range(10))),  # 10 words
             (1, "a b")],                                # shorter than size
            "doc_id long, text string",
        )
        out = chunk_documents(df, size=4, overlap=1)
        rows = sorted(
            ((r["doc_id"], r["chunk_idx"], r["chunk"], r["n_tokens"])
             for r in out.collect())
        )
        # stride 3: starts 0,3,6 cover w0..w9 (ceil((10-1)/3)=3 chunks)
        assert rows == [
            (0, 0, "w0 w1 w2 w3", 4),
            (0, 1, "w3 w4 w5 w6", 4),
            (0, 2, "w6 w7 w8 w9", 4),
            (1, 0, "a b", 2),
        ]
        import pytest as _pt
        with _pt.raises(ValueError):
            chunk_documents(df, size=4, overlap=4)

    def test_unigram_logprob(self, spark):
        import math

        from pincette_json_streams_spark.functions.text import (
            unigram_logprob,
        )
        df = spark.createDataFrame(
            [(0, "a a a b"), (1, "b b b b")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: (r["mean_logprob"], r["n_tokens"])
            for r in unigram_logprob(df).collect()
        }
        # corpus: a x3, b x5, total 8
        pa, pb = math.log(3 / 8), math.log(5 / 8)
        assert out[0][1] == 4 and out[1][1] == 4
        assert abs(out[0][0] - round((3 * pa + pb) / 4, 6)) < 1e-9
        assert abs(out[1][0] - round(pb, 6)) < 1e-9


class TestTimeseries:
    def test_asof_join_backward_inclusive(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            asof_join,
        )
        left = spark.createDataFrame(
            [(1, 10, 5), (2, 10, 15), (3, 10, 20), (4, 99, 8)],
            "eid long, k long, t long",
        )
        right = spark.createDataFrame(
            [(10, 5, "a"), (10, 12, "b"), (10, 20, "c")],
            "k long, t long, v string",
        )
        out = {
            r["eid"]: r["m"]["v"] if r["m"] else None
            for r in asof_join(
                left, right, on="t", by="k", as_field="m"
            ).collect()
        }
        # t=5 matches the equal-instant row (inclusive); t=15 the latest
        # earlier row; t=20 the equal row; unmatched key -> NULL
        assert out == {1: "a", 2: "b", 3: "c", 4: None}

    def test_asof_join_tiebreak(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            asof_join,
        )
        left = spark.createDataFrame([(1, 10, 7)], "eid long, k long, t long")
        right = spark.createDataFrame(
            [(10, 7, 1, "lo"), (10, 7, 9, "hi")],
            "k long, t long, seq long, v string",
        )
        row = asof_join(
            left, right, on="t", by="k", as_field="m", tiebreak="seq"
        ).collect()[0]
        assert row["m"]["v"] == "hi"

    def test_sessionize(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            sessionize,
        )
        df = spark.createDataFrame(
            [(1, 0), (1, 50), (1, 200), (1, 210), (2, 0)],
            "u long, t long",
        )
        out = sessionize(df, by="u", ts="t", gap=100)
        got = {(r["u"], r["t"]): r["session_id"] for r in out.collect()}
        # gap of 150 between 50 and 200 (>100) starts session 2
        assert got == {(1, 0): 1, (1, 50): 1, (1, 200): 2,
                       (1, 210): 2, (2, 0): 1}

    def test_forward_fill(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            forward_fill,
        )
        df = spark.createDataFrame(
            [(1, 1, None), (1, 2, 5.0), (1, 3, None), (1, 4, None),
             (2, 1, None)],
            "u long, t long, v double",
        )
        out = {(r["u"], r["t"]): r["v"] for r in
               forward_fill(df, ["v"], by="u", order=["t"]).collect()}
        assert out == {(1, 1): None, (1, 2): 5.0, (1, 3): 5.0,
                       (1, 4): 5.0, (2, 1): None}

    def test_time_bucket_gapfill(self, spark):
        import pyspark.sql.functions as F

        from pincette_json_streams_spark.functions.timeseries import (
            time_bucket_gapfill,
        )
        df = spark.createDataFrame(
            [(1, 5, 1.0), (1, 35, 2.0), (2, 12, 3.0)],
            "u long, t long, v double",
        )
        out = time_bucket_gapfill(
            df, by="u", ts="t", bucket=10,
            aggs={"n": F.count(F.lit(1)), "s": F.sum("v")},
            fill_zero=["n"],
        )
        got = {(r["u"], r["bucket"]): (r["n"], r["s"])
               for r in out.collect()}
        # user 1 spans buckets 0..3: 1 and 2 are gap rows (n=0, s NULL)
        assert got == {
            (1, 0): (1, 1.0), (1, 1): (0, None), (1, 2): (0, None),
            (1, 3): (1, 2.0), (2, 1): (1, 3.0),
        }

    def test_asof_join_matches_naive(self, spark):
        """Property: asof_join == per-row 'latest right at-or-before'
        on random keyed event sets (dedup'd right instants so the match
        is well-defined)."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.timeseries import (
            asof_join,
        )

        ev = st.tuples(st.integers(0, 3), st.integers(0, 50))

        @settings(max_examples=5, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.lists(ev, min_size=1, max_size=15),
               st.lists(ev, min_size=1, max_size=15))
        def check(lefts, rights):
            rmap = {}
            for i, (k, t) in enumerate(rights):
                rmap[(k, t)] = i  # last write wins per instant
            rrows = [(k, t, v) for (k, t), v in rmap.items()]

            def naive(k, t):
                cands = [(rt, v) for (rk, rt, v) in rrows
                         if rk == k and rt <= t]
                return max(cands)[1] if cands else None

            left = spark.createDataFrame(
                [(i, k, t) for i, (k, t) in enumerate(lefts)],
                "eid long, k long, t long",
            )
            right = spark.createDataFrame(rrows, "k long, t long, v long")
            want = {i: naive(k, t) for i, (k, t) in enumerate(lefts)}
            # plain and skew-bucketed forms must agree with the naive
            # reference (span 7 forces multiple buckets + empty buckets)
            for span in (None, 7):
                got = {
                    r["eid"]: (r["m"]["v"] if r["m"] else None)
                    for r in asof_join(
                        left, right, on="t", by="k", as_field="m",
                        bucket_span=span,
                    ).collect()
                }
                assert got == want, f"span={span}"

        check()

    def test_sessionize_matches_naive(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.timeseries import (
            sessionize,
        )

        @settings(max_examples=5, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 100)),
            min_size=1, max_size=20, unique=True,
        ), st.integers(1, 30))
        def check(events, gap):
            want = {}
            by_key: dict = {}
            for k, t in sorted(events):
                by_key.setdefault(k, []).append(t)
            for k, ts in by_key.items():
                sid = 0
                prev = None
                for t in ts:
                    if prev is None or t - prev > gap:
                        sid += 1
                    want[(k, t)] = sid
                    prev = t

            df = spark.createDataFrame(events, "u long, t long")
            # plain and skew-bucketed forms against the naive reference
            # (span 13 exercises cross-bucket session merging)
            for span in (None, 13):
                got = {(r["u"], r["t"]): r["session_id"]
                       for r in sessionize(df, by="u", ts="t", gap=gap,
                                           bucket_span=span).collect()}
                assert got == want, f"span={span}"

        check()


class TestDedup:
    def test_exact(self, spark):
        from pincette_json_streams_spark.functions.dedup import exact_dedup
        df = spark.createDataFrame(
            [(1, "same text"), (2, "Same  TEXT"), (3, "other")],
            "doc_id long, text string",
        )
        out = exact_dedup(df).collect()
        counts = sorted(r["dup_count"] for r in out)
        assert counts == [1, 2]

    def test_minhash_finds_near_dups(self, docs):
        from pincette_json_streams_spark.functions.dedup import (
            minhash_lsh_pairs,
        )
        pairs = {(r["id_a"], r["id_b"])
                 for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
        assert (0, 1) in pairs  # case-only difference
        assert all(3 not in p for p in pairs)

    def test_star_edges_same_components_linear_count(self, spark):
        # R5 scale fix: edges="star" must yield the SAME connected
        # components as the full pairs contract while emitting O(n)
        # edges per exact-dup group instead of n(n-1)/2
        from pincette_json_streams_spark.functions.dedup import (
            connected_components, minhash_lsh_pairs,
        )
        base = "the quick brown fox jumps over the lazy dog %d end"
        rows = []
        # group A: 6 EXACT duplicates (normalised), group B: 2, plus
        # a near-dup bridge and an unrelated doc
        for i in range(6):
            rows.append((i, base % 1))
        rows += [(10, base % 2), (11, base % 2),
                 (12, (base % 1) + " extra"),
                 (20, "totally different content about spark engines "
                      "and distributed processing")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = minhash_lsh_pairs(df, threshold=0.5)
        star = minhash_lsh_pairs(df, threshold=0.5, edges="star")
        n_pairs, n_star = pairs.count(), star.count()
        # group A alone contributes 15 pair rows but only 5 star rows
        assert n_star < n_pairs
        within_a_star = star.filter(
            (F.col("id_a") < 6) & (F.col("id_b") < 6)).count()
        assert within_a_star == 5  # hub star: linear in group size
        nodes = df.select("doc_id")
        cp = {(r["id"], r["cluster_id"]) for r in
              connected_components(pairs, nodes=nodes).collect()}
        cs = {(r["id"], r["cluster_id"]) for r in
              connected_components(star, nodes=nodes).collect()}
        assert cp == cs
        with pytest.raises(ValueError):
            minhash_lsh_pairs(df, edges="chain")

    def test_ngram_jaccard(self, docs):
        from pincette_json_streams_spark.functions.dedup import (
            ngram_jaccard_pairs,
        )
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(docs, n=3,
                                            threshold=0.3).collect()}
        assert got[(0, 1)] == pytest.approx(1.0)
        assert (0, 2) in got

    def test_ngram_hash_kernel_matches_string_sets(self):
        """r13 kernel equivalence lock (the d70c1fc pattern): the
        vectorized word-hash/polynomial gram kernel must preserve
        exactly what the Jaccard/containment math consumes — per-doc
        distinct-gram COUNT, pairwise intersection COUNT, and the
        identical-set partition (gid) — against the plain string-set
        reference, over fuzz texts incl. degenerate 1-2 word docs,
        repeated grams, same set met in different occurrence order,
        unicode and whitespace soup."""
        import random

        from pincette_json_streams_spark.functions.dedup import (
            _normalize_py, _word_ngrams_hashed_vec,
        )

        # drive the pandas_udf body directly (no Spark needed)
        f = _word_ngrams_hashed_vec(3).func
        rng = random.Random(424242)
        vocab = ["alpha", "beta", "Gamma", "d\xe9lta", "x", "", "the",
                 "word9", "TAB\tsep"]
        texts = []
        for _ in range(400):
            k = rng.randint(1, 40)
            texts.append(" ".join(rng.choice(vocab) for _ in range(k)))
        # same multiset in reversed order (gid canonicality), dup docs
        texts += [texts[0], " ".join(reversed(texts[0].split(" "))),
                  "one", "two words", None]
        import pandas as pd
        out = f(pd.Series(texts))
        n = 3

        def ref_set(s):
            words = _normalize_py(s).split(" ")
            cnt = max(len(words) - (n - 1), 1)
            return set(" ".join(words[i:i + n]) for i in range(cnt))

        refs = [None if s is None else ref_set(s) for s in texts]
        for i, s in enumerate(texts):
            if s is None:
                assert out["ng"][i] is None and out["gid"][i] is None
                continue
            assert len(out["ng"][i]) == len(refs[i]), (i, s)
            assert out["ng"][i] == sorted(out["ng"][i])  # canonical
        for _ in range(2000):
            i, j = (rng.randrange(len(texts)) for _ in range(2))
            if texts[i] is None or texts[j] is None:
                continue
            assert (len(set(out["ng"][i]) & set(out["ng"][j]))
                    == len(refs[i] & refs[j])), (i, j)
            # identical string sets <=> identical gid
            assert ((refs[i] == refs[j])
                    == (out["gid"][i] == out["gid"][j])), (i, j)

    def test_containment_pairs(self, spark):
        """The asymmetric case Jaccard cannot see: a short quote fully
        inside a long page has containment 1.0 but tiny Jaccard; plus
        exact duplicates (within-cluster path), the python mirror on
        every reported value, and the id<->size alignment."""
        from pincette_json_streams_spark.functions.dedup import (
            containment_pairs, ngram_jaccard_pairs,
        )
        quote = "the quick brown fox jumps over the lazy dog"
        filler_a = " ".join(f"word{i} token{i} item{i}"
                            for i in range(20))
        filler_b = " ".join(f"alpha{i} beta{i} gamma{i}"
                            for i in range(20))
        page = filler_a + " " + quote + " " + filler_b
        rows = [(1, quote), (2, page), (3, page),
                (4, "completely unrelated text about spark engines "
                    "and distributed data processing at scale")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): (r["sz_a"], r["sz_b"],
                                        r["cont_e6"])
               for r in containment_pairs(
                   df, n=3, threshold_pct=90).collect()}
        # quote-in-page: containment 1.0 on both copies
        assert got[(1, 2)][2] == 1_000_000
        assert got[(1, 3)][2] == 1_000_000
        # exact duplicates via the within-cluster path
        assert got[(2, 3)][2] == 1_000_000
        assert (1, 4) not in got and (2, 4) not in got
        # sizes align to their ids: doc 1 (the quote) is the small side
        sz_a, sz_b, _ = got[(1, 2)]
        assert sz_a < sz_b
        assert got[(2, 3)][0] == got[(2, 3)][1]
        # the same pair is INVISIBLE to symmetric Jaccard at any
        # usable threshold — the reason this operator exists
        jac = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(
            df, n=3, threshold=0.3).collect()}
        assert (1, 2) not in jac and (2, 3) in jac

        # python mirror over the full matrix at a lower threshold
        import re

        def ngrams(text):
            w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            k = max(len(w) - 2, 1)
            return {" ".join(w[i:i + 3]) for i in range(k)}

        sets = {i: ngrams(t) for i, t in rows}
        expect = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] & sets[b]:
                    inter = len(sets[a] & sets[b])
                    c = inter * 1_000_000 \
                        // min(len(sets[a]), len(sets[b]))
                    if c >= 400_000:
                        expect[(a, b)] = (len(sets[a]), len(sets[b]), c)
        got40 = {(r["id_a"], r["id_b"]): (r["sz_a"], r["sz_b"],
                                          r["cont_e6"])
                 for r in containment_pairs(
                     df, n=3, threshold_pct=40).collect()}
        assert got40 == expect

    def test_ngram_df_cap(self, spark):
        """The 100 TB skew guard: grams above the distinct-set df cap
        become corpus stopwords.  Locks (a) huge cap == uncapped
        output bit-for-bit, (b) a python mirror of the capped
        semantics on a skewed fixture (one boilerplate shingle in
        half the docs) where genuine near-dups SURVIVE the cap while
        boilerplate-only pairs vanish, (c) verbatim duplicates pair
        at 1.0 / 1e6 regardless of the cap."""
        import re
        from collections import Counter

        from pincette_json_streams_spark.functions.dedup import (
            containment_pairs, ngram_jaccard_pairs,
        )
        boiler = "all rights reserved copyright twenty twenty four"
        rows = [(1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy cat"),
                (3, "the quick brown fox jumps over the lazy dog"),
                (4, None)]
        rows += [(10 + i, f"page {i} unique body text number {i} "
                  f"alpha{i} beta{i} gamma{i} " + boiler)
                 for i in range(12)]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        # (a) huge cap == uncapped, both operators
        for fn, kw in ((ngram_jaccard_pairs, {"threshold": 0.05}),
                       (containment_pairs, {"threshold_pct": 5})):
            unc = sorted(map(tuple, fn(df, n=3, **kw).collect()))
            cap = sorted(map(tuple,
                             fn(df, n=3, df_cap=10 ** 6, **kw).collect()))
            assert unc == cap, fn.__name__

        # (b)+(c) python mirror of the capped semantics, cap=3: the
        # boilerplate grams (df=12 over distinct sets) get dropped
        def ngrams(t):
            w = re.sub(r"\s+", " ", t.lower()).strip().split(" ")
            return {" ".join(w[i:i + 3])
                    for i in range(max(len(w) - 2, 1))}

        cap = 3
        sets = {i: ngrams(t) for i, t in rows if t is not None}
        gdf = Counter(
            g for s in {frozenset(v) for v in sets.values()} for g in s)
        kept = {i: {g for g in s if gdf[g] <= cap}
                for i, s in sets.items()}
        exp_j, exp_c = {}, {}
        for a in sets:
            for b in sets:
                if a >= b:
                    continue
                if sets[a] == sets[b]:
                    exp_j[(a, b)] = 1.0
                    exp_c[(a, b)] = (len(kept[a]), len(kept[b]),
                                     1_000_000)
                    continue
                inter = len(kept[a] & kept[b])
                if not inter:
                    continue
                j = inter / (len(kept[a]) + len(kept[b]) - inter)
                if j >= 0.05:
                    exp_j[(a, b)] = round(j, 6)
                c = inter * 1_000_000 // min(len(kept[a]), len(kept[b]))
                if c >= 50_000:
                    exp_c[(a, b)] = (len(kept[a]), len(kept[b]), c)
        got_j = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(
                     df, n=3, threshold=0.05, df_cap=cap).collect()}
        assert set(got_j) == set(exp_j)
        for k, v in exp_j.items():
            assert got_j[k] == pytest.approx(v, abs=2e-6), k
        got_c = {(r["id_a"], r["id_b"]): (r["sz_a"], r["sz_b"],
                                          r["cont_e6"])
                 for r in containment_pairs(
                     df, n=3, threshold_pct=5, df_cap=cap).collect()}
        assert got_c == exp_c
        # genuine near-dups survived; boilerplate-only pairs vanished
        assert (1, 2) in got_j and got_j[(1, 3)] == 1.0
        assert (10, 11) not in got_j and (10, 11) not in got_c
        assert got_c[(1, 3)][2] == 1_000_000

    def test_connected_components(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            connected_components,
        )
        # chain 1-2-3 (diameter > 1), pair 5-6, self-loop 9, isolated 4
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6), (9, 9)], "id_a long, id_b long")
        nodes = spark.createDataFrame(
            [(i,) for i in range(1, 8)], "doc_id long")
        got = sorted((r["id"], r["cluster_id"])
                     for r in connected_components(pairs, nodes).collect())
        assert got == [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5),
                       (7, 7), (9, 9)]

    def test_connected_components_matches_union_find(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.dedup import (
            connected_components, connected_components_star,
        )

        @settings(max_examples=5, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.lists(
            st.tuples(st.integers(0, 30), st.integers(0, 30)),
            min_size=1, max_size=25,
        ))
        def check(edges):
            parent = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            want = {x: find(x) for x in parent}

            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
            for fn in (connected_components, connected_components_star):
                got = {r["id"]: r["cluster_id"]
                       for r in fn(pairs).collect()}
                assert got == want, fn.__name__

        check()

    def test_star_collapses_chain_in_log_rounds(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            connected_components_star,
        )
        # a 24-node path: diameter 24, but alternating stars need only
        # ~log2 rounds — max_iters=8 would starve plain propagation
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(24)], "id_a long, id_b long")
        got = {r["id"]: r["cluster_id"]
               for r in connected_components_star(
                   pairs, max_iters=8).collect()}
        assert got == {i: 0 for i in range(25)}

    def test_simhash(self, docs):
        from pincette_json_streams_spark.functions.dedup import simhash_pairs
        pairs = {(r["id_a"], r["id_b"])
                 for r in simhash_pairs(docs, max_hamming=8).collect()}
        assert (0, 1) in pairs

    @pytest.mark.parametrize("fn, kw", [
        ("minhash_lsh_pairs", {}),
        ("minhash_lsh_pairs", {"edges": "star"}),
        ("ngram_jaccard_pairs", {}),
        ("ngram_jaccard_pairs", {"df_cap": 5}),
        ("simhash_pairs", {}),
        ("containment_pairs", {}),
        ("containment_pairs", {"df_cap": 5}),
    ], ids=["minhash", "minhash_star", "ngram", "ngram_capped",
            "simhash", "containment", "containment_capped"])
    def test_null_text_pairs_with_nothing(self, spark, fn, kw):
        """Documents whose text is NULL have a NULL set digest; they
        form no duplicate group, so two of them never pair (equi-join
        NULL semantics, as the SQL oracle and winnow_pairs)."""
        from pincette_json_streams_spark.functions import dedup

        text = "the quick brown fox jumps over the lazy dog again"
        df = spark.createDataFrame(
            [(1, text), (2, None), (3, None), (4, text)],
            "doc_id long, text string")
        got = {(r["id_a"], r["id_b"])
               for r in getattr(dedup, fn)(df, **kw).collect()}
        assert got == {(1, 4)}


@pytest.mark.usefixtures("distributed_graphs")
class TestConnectedComponentsDistributed:
    """The component tests of TestDedup again, forced onto the
    distributed loops (the default threshold sends them to the
    single-task kernel)."""

    test_connected_components = TestDedup.test_connected_components
    test_connected_components_matches_union_find = \
        TestDedup.test_connected_components_matches_union_find
    test_star_collapses_chain_in_log_rounds = \
        TestDedup.test_star_collapses_chain_in_log_rounds

    def test_exhausted_max_iters_raises(self, spark):
        """A 9-node path needs 8 propagation rounds: with max_iters=3
        the labels used to come back unconverged (4 -> 1, 8 -> 5)."""
        from pincette_json_streams_spark.functions.dedup import (
            connected_components, connected_components_star,
        )
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="max_iters"):
            connected_components(pairs, max_iters=3)
        with pytest.raises(ValueError, match="max_iters"):
            connected_components_star(pairs, max_iters=1)


class TestSmallGraphSingleTask:
    """Below ``graph.SMALL_GRAPH_ROWS`` the iterative graph functions
    checkpoint the edge list in one job and finish in one Arrow task."""

    @staticmethod
    def _jobs_during(spark, build):
        # job ids are monotonic: max-id deltas survive the UI store
        # evicting old jobs in a long shared session
        tracker = spark.sparkContext.statusTracker()
        before = max(tracker.getJobIdsForGroup(None) or [0])
        build()
        return max(tracker.getJobIdsForGroup(None) or [0]) - before

    def test_one_job_at_call_time(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            connected_components, connected_components_star,
        )
        from pincette_json_streams_spark.functions.graph import pagerank
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "id_a long, id_b long")
        nodes = spark.createDataFrame(
            [(i,) for i in range(12)], "doc_id long")
        edges = spark.createDataFrame(TestPageRank.EDGES,
                                      "src long, dst long")
        for build in (lambda: connected_components(pairs, nodes),
                      lambda: connected_components_star(pairs, nodes),
                      lambda: pagerank(edges, iters=6)):
            assert self._jobs_during(spark, build) <= 1
        # one task finishes a path that plain propagation would need
        # 8 rounds for, whatever max_iters bounds the distributed loop
        got = {r["id"]: r["cluster_id"] for r in connected_components(
            pairs, nodes, max_iters=3).collect()}
        assert got == {i: 0 if i <= 8 else i for i in range(12)}

    def test_id_types_kept(self, spark):
        """The kernel returns the id type the union of the id columns
        resolves to; non-integral ids keep to the distributed loop."""
        from pincette_json_streams_spark.functions.dedup import (
            connected_components,
        )
        pairs = spark.createDataFrame([(1, 2), (5, 6)],
                                      "id_a int, id_b int")
        assert connected_components(pairs).schema.simpleString() == \
            "struct<id:int,cluster_id:int>"
        nodes = spark.createDataFrame([(9,)], "doc_id long")
        got = connected_components(pairs, nodes)
        assert got.schema.simpleString() == \
            "struct<id:bigint,cluster_id:bigint>"
        assert sorted(map(tuple, got.collect())) == \
            [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9)]
        words = spark.createDataFrame([("y", "x")], "id_a string, id_b string")
        assert sorted(map(tuple, connected_components(words).collect())) \
            == [("x", "x"), ("y", "x")]

    def test_null_ids_keep_to_the_distributed_loop(self, spark):
        """A null endpoint has no numpy index: the edge list goes to
        the distributed loop, where the null names its own label."""
        from pincette_json_streams_spark.functions.dedup import (
            connected_components,
        )
        pairs = spark.createDataFrame([(1, None), (2, 3)],
                                      "id_a long, id_b long")
        got = {r["id"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        assert got == {None: None, 1: 1, 2: 2, 3: 2}


class TestSimilarity:
    def test_brute_force_topk(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            brute_force_topk,
        )
        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        qs = vecs.filter("vec_id = 0").select(
            F.col("vec_id").alias("query_id"), "embedding")
        out = brute_force_topk(vecs, qs, k=2).collect()
        ranked = sorted((r["rank"], r["vec_id"]) for r in out)
        assert ranked == [(1, 0), (2, 1)]  # self first, near second

    def test_ivf_topk(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            ivf_topk, train_kmeans_centroids,
        )
        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
             (3, [0.1, 0.9]), (4, [0.95, 0.05]), (5, [0.05, 0.95])],
            "vec_id long, embedding array<double>",
        )
        qs = vecs.filter("vec_id in (0, 2)").select(
            F.col("vec_id").alias("query_id"), "embedding")
        # trained centroids: two clear clusters around the axes
        cents = train_kmeans_centroids(vecs, nlist=2, iters=5)
        out = ivf_topk(vecs, qs, k=2, nprobe=1, centroids=cents).collect()
        got = {(r["query_id"], r["rank"]): r["vec_id"] for r in out}
        assert got[(0, 1)] == 0          # self is nearest
        assert got[(0, 2)] in (1, 4)     # same-cluster neighbor
        assert got[(2, 1)] == 2
        assert got[(2, 2)] in (3, 5)

    def test_ivf_recall_floor(self, spark):
        """CI guard on index quality: recall@10 of IVF vs exact top-10 on
        the sf0.001 embeddings fixture (500 vecs, ~8 stride lists).
        Asserts a mean-recall floor at two nprobe settings AND that
        raising nprobe raises recall (the dial works) — quantizer or
        assignment changes can't silently destroy the index."""
        from pincette_json_streams_spark.functions.similarity import (
            brute_force_topk, ivf_topk,
        )
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).withColumn("embedding", F.col("embedding").cast("array<double>"))
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding")
        exact = brute_force_topk(emb, qs, k=10).select(
            "query_id", "vec_id")

        def mean_recall(nprobe):
            approx = ivf_topk(
                emb, qs, k=10, nprobe=nprobe, centroid_stride=64
            ).select("query_id", "vec_id")
            hits = exact.join(approx, ["query_id", "vec_id"]) \
                .groupBy("query_id").count().collect()
            recall = {r["query_id"]: r["count"] / 10.0 for r in hits}
            return sum(recall.get(q, 0.0) for q in range(5)) / 5.0

        r2, r4 = mean_recall(2), mean_recall(4)
        # measured baseline: 0.56 @ nprobe=2, 0.82 @ nprobe=4
        assert r2 >= 0.5, r2
        assert r4 >= 0.7, r4
        assert r4 >= r2

    def test_embedding_pairs(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            embedding_pairs,
        )
        vecs = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.01, 0.0]),
             (2, [0.0, 1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        pairs = {(r["id_a"], r["id_b"])
                 for r in embedding_pairs(vecs, threshold=0.95).collect()}
        assert (0, 1) in pairs
        assert (0, 2) not in pairs


class TestQuantize:
    def test_int8_symmetric(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            quantize_embeddings,
        )
        df = spark.createDataFrame(
            [(0, [1.0, -2.0, 0.5]), (1, [0.0, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
        # scale = max|x|/127 = 2/127; q = round(x/scale)
        assert out[0]["q"] == [64, -127, 32]
        assert abs(out[0]["q_scale"] - 2.0 / 127) < 1e-12
        # zero vector: scale falls back to 1, q stays all-zero
        assert out[1]["q"] == [0, 0, 0]
        assert out[1]["q_scale"] == 1.0


class TestProfiling:
    def test_profile_table_one_pass(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            profile_table,
        )
        df = spark.createDataFrame(
            [(1, "a", 2.5), (2, None, 1.0), (None, "b", 1.0)],
            "id long, name string, score double",
        )
        out = {r["column"]: r for r in profile_table(df).collect()}
        assert out["id"]["n_nulls"] == 1
        assert out["id"]["n_distinct"] == 2
        assert out["id"]["min_num"] == 1.0 and out["id"]["max_num"] == 2.0
        assert out["name"]["min_str"] == "a" and out["name"]["max_str"] == "b"
        assert out["name"]["min_num"] is None
        assert out["score"]["n_distinct"] == 2
        # the whole profile must be ONE aggregation over one scan
        plan = profile_table(df)._jdf.queryExecution().executedPlan() \
            .toString()
        assert plan.count("Scan ") <= 1


class TestSampling:
    def test_hash_sample_deterministic_and_stable(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            hash_sample, train_test_split,
        )
        docs = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
        a = {r["doc_id"] for r in hash_sample(docs, 0.3).collect()}
        b = {r["doc_id"] for r in
             hash_sample(docs.repartition(7), 0.3).collect()}
        assert a == b            # partition-independent
        assert 200 < len(a) < 400
        # growing the corpus never flips an existing row's split
        s1 = {r["doc_id"]: r["split"]
              for r in train_test_split(docs, 0.2).collect()}
        grown = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
        s2 = {r["doc_id"]: r["split"]
              for r in train_test_split(grown, 0.2).collect()}
        assert all(s2[k] == v for k, v in s1.items())

    def test_stratified_fractions(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            stratified_hash_sample,
        )
        df = spark.createDataFrame(
            [(i, "en" if i % 2 else "de") for i in range(400)],
            "doc_id long, lang string")
        out = stratified_hash_sample(
            df, "lang", {"de": 1.0}, default_fraction=0.0).collect()
        assert len(out) == 200
        assert all(r["lang"] == "de" for r in out)


class TestMultimodal:
    def test_probe_media_real_headers(self, spark):
        import struct

        from pincette_json_streams_spark.functions.multimodal import (
            probe_media,
        )
        png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
               + struct.pack(">IIBBBBB", 640, 480, 8, 6, 0, 0, 0))
        # 16-bit mono 8 kHz, 16000 bytes of data = 1000 ms
        wav = (b"RIFF" + struct.pack("<I", 36 + 16000) + b"WAVE"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                       16000, 2, 16)
               + b"data" + struct.pack("<I", 16000) + b"\0" * 16)
        jpg = (b"\xff\xd8\xff\xe0" + struct.pack(">H", 16) + b"JFIF\0"
               + b"\0" * 9
               + b"\xff\xc0" + struct.pack(">HBHH", 11, 8, 600, 800)
               + b"\0\0\0")
        rows = spark.createDataFrame(
            [("png", bytearray(png)), ("wav", bytearray(wav)),
             ("jpg", bytearray(jpg)), ("junk", bytearray(b"not media")),
             ("empty", None)],
            "asset_id string, media binary",
        )
        got = {r["asset_id"]: r["probe"].asDict()
               for r in probe_media(rows).collect()}
        assert got["png"]["format"] == "png"
        assert (got["png"]["width"], got["png"]["height"]) == (640, 480)
        assert got["jpg"]["format"] == "jpeg"
        assert (got["jpg"]["width"], got["jpg"]["height"]) == (800, 600)
        assert got["wav"]["format"] == "wav"
        assert got["wav"]["sample_rate"] == 8000
        assert got["wav"]["channels"] == 1
        assert got["wav"]["duration_ms"] == 1000
        assert got["junk"]["format"] is None
        assert got["empty"]["format"] is None

    def test_decode_audio_real_pcm(self, spark):
        """decode_audio is a REAL decoder for PCM WAV: a generated
        440 Hz sine must come back with the right duration, RMS ~ A/√2,
        peak ~ A, and a flat 64-bin envelope."""
        import io
        import math
        import struct
        import wave

        from pincette_json_streams_spark.functions.multimodal import (
            decode_audio,
        )

        sr, secs, amp = 8000, 1.0, 0.5
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(sr)
            frames = b"".join(
                struct.pack(
                    "<hh",
                    int(amp * 32767 * math.sin(2 * math.pi * 440 * t / sr)),
                    int(amp * 32767 * math.sin(2 * math.pi * 440 * t / sr)),
                )
                for t in range(int(sr * secs))
            )
            w.writeframes(frames)
        rows = spark.createDataFrame(
            [("tone", bytearray(buf.getvalue())),
             ("junk", bytearray(b"not audio")), ("none", None)],
            "asset_id string, media binary",
        )
        got = {r["asset_id"]: r["audio"].asDict()
               for r in decode_audio(rows).collect()}
        tone = got["tone"]
        assert tone["sample_rate"] == 8000
        assert tone["channels"] == 2
        assert tone["n_samples"] == 8000
        assert tone["duration_ms"] == 1000
        assert abs(tone["rms"] - amp / math.sqrt(2)) < 0.01
        assert abs(tone["peak"] - amp) < 0.01
        assert len(tone["waveform"]) == 64
        # a pure tone's mean-abs envelope is flat: 2A/pi per bin
        expect = 2 * amp / math.pi
        assert all(abs(v - expect) < 0.05 for v in tone["waveform"])
        assert got["junk"]["sample_rate"] is None
        assert got["none"]["sample_rate"] is None

    @staticmethod
    def _wav_bytes(samples, sr=8000, width=2, channels=1):
        import io
        import struct
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(width)
            w.setframerate(sr)
            if width == 2:
                data = b"".join(struct.pack("<h", s)
                                for s in samples
                                for _ in range(channels))
            elif width == 1:
                data = bytes(((s >> 8) + 128) & 0xFF
                             for s in samples for _ in range(channels))
            else:  # 4
                data = b"".join(struct.pack("<i", s << 16)
                                for s in samples
                                for _ in range(channels))
            w.writeframes(data)
        return buf.getvalue()

    @staticmethod
    def _afp_mirror(samples):
        """Pure-python mirror of multimodal._audio_fp_int: 16 frames x
        64 samples, lag-diff energies (1,2,4,8,16), HK bit rule,
        two's-complement int64."""
        lags = (1, 2, 4, 8, 16)
        n_total = 1024
        s = list(samples[:n_total]) + [0] * max(
            0, n_total - len(samples))
        E = [[0] * 5 for _ in range(16)]
        for mi, lag in enumerate(lags):
            for i in range(lag, n_total):
                d = s[i] - s[i - lag]
                E[i // 64][mi] += d * d
        fp = 0
        prev = [0, 0, 0, 0]
        for n in range(16):
            cur = [E[n][m] - E[n][m + 1] for m in range(4)]
            for m in range(4):
                if cur[m] > prev[m]:
                    fp |= 1 << (n * 4 + m)
            prev = cur
        return fp - (1 << 64) if fp >= 1 << 63 else fp

    def test_audio_fingerprint(self, spark):
        """The integer perceptual fingerprint: python-mirror equality,
        width invariance (16 vs 32-bit PCM of the same signal),
        channel-sum scale invariance (stereo duplicate == mono — the
        HK bit rule compares energies, so uniform scaling can't flip
        bits), NULL for undecodable/empty payloads, base64 transport,
        and the hamming_near_pairs composition that puts audio on the
        shared near-dup index."""
        import base64

        import numpy as np

        from pincette_json_streams_spark.functions.multimodal import (
            audio_fingerprint,
        )
        from pincette_json_streams_spark.functions.similarity import (
            hamming_near_pairs,
        )
        rng = np.random.default_rng(7)
        a = rng.integers(-32768, 32768, 1024).tolist()
        b = [int(np.clip(v + 40, -32768, 32767)) if i % 200 == 0
             else v for i, v in enumerate(a)]          # near-dup
        c = rng.integers(-32768, 32768, 1024).tolist()  # unrelated
        df = spark.createDataFrame(
            [(1, bytearray(self._wav_bytes(a))),
             (2, bytearray(self._wav_bytes(b))),
             (3, bytearray(self._wav_bytes(c))),
             (4, bytearray(self._wav_bytes(a, width=4))),
             (5, bytearray(self._wav_bytes(a, channels=2))),
             (6, bytearray(b"not audio")), (7, None)],
            "clip_id long, media binary")
        got = {r["clip_id"]: r["afp"]
               for r in audio_fingerprint(df).collect()}
        assert got[1] == self._afp_mirror(a)
        assert got[2] == self._afp_mirror(b)
        assert got[3] == self._afp_mirror(c)
        assert got[4] == got[1]        # width-invariant
        # r12: the chunked batch kernel must be bit-identical to the
        # scalar kernel on varied lengths (short/padded, exact, long/
        # truncated) and across a chunk boundary
        import numpy as np

        from pincette_json_streams_spark.functions.multimodal import (
            _AFP_CHUNK, _audio_fp_batch, _audio_fp_int,
        )
        rng = np.random.RandomState(7)
        lens = [1, 100, 1023, 1024, 1025, 2048] + [1024] * _AFP_CHUNK
        wins = [rng.randint(-2 ** 15, 2 ** 15, n).astype(np.int64)
                for n in lens]
        assert _audio_fp_batch(wins) == [_audio_fp_int(w) for w in wins]
        assert _audio_fp_batch([]) == []
        assert got[5] == got[1]        # channel-sum scale-invariant
        assert got[6] is None and got[7] is None
        ham_ac = bin((got[1] ^ got[3]) & (2 ** 64 - 1)).count("1")
        assert ham_ac > 7              # unrelated clips stay apart
        # base64 transport (the JSON-message path of $audioFingerprint)
        from pincette_json_streams_spark.operators.stages import (
            compile_pipeline,
        )
        b64 = spark.createDataFrame(
            [(1, base64.b64encode(self._wav_bytes(a)).decode())],
            "clip_id long, media string")
        got64 = compile_pipeline(b64, [{"$audioFingerprint": {
            "field": "media", "base64": True}}]).collect()
        assert got64[0]["afp"] == got[1]
        assert "media" in got64[0].asDict()  # payload column survives
        # composition: the afp lane feeds the shared Hamming index
        pairs = hamming_near_pairs(
            audio_fingerprint(df).filter("afp is not null"),
            id_col="clip_id", lane_cols=["afp"], lane_bits=64,
            max_hamming=7).collect()
        got_pairs = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 2) in got_pairs and (1, 3) not in got_pairs

    def test_riff_walk_matches_wave_module(self):
        """r13: the bytes-level RIFF chunk walk must be byte-identical
        to the stdlib wave module wherever it claims a file (the
        d70c1fc fast-path pattern) — canonical files of every
        width/channel count, extra/odd/trailing chunks, truncation at
        every boundary, RIFF/data size-field lies, last-fmt-wins,
        non-PCM tags, data-before-fmt — and must CLAIM the canonical
        class (else the fast path silently stops paying for itself)."""
        import io
        import struct
        import wave

        from pincette_json_streams_spark.functions.multimodal import (
            _riff_pcm_parts, _wav_mono16, _wave_module_parts,
        )

        def canon(sw=2, ch=1, rate=8000, nframes=300):
            bio = io.BytesIO()
            w = wave.open(bio, "wb")
            w.setnchannels(ch)
            w.setsampwidth(sw)
            w.setframerate(rate)
            w.writeframes(bytes(range(256))
                          * ((nframes * sw * ch) // 256 + 1))
            w.close()
            return bio.getvalue()

        def insert_chunk(b, name, payload):
            i = b.find(b"data")
            chunk = (name + len(payload).to_bytes(4, "little") + payload
                     + (b"\x00" if len(payload) & 1 else b""))
            nb = b[:i] + chunk + b[i:]
            return b"RIFF" + (len(nb) - 8).to_bytes(4, "little") + nb[8:]

        base = canon()
        i = base.find(b"data")
        j = base.find(b"fmt ")
        ds = int.from_bytes(base[i + 4:i + 8], "little")
        fmt2 = struct.pack("<HHLLHH", 1, 1, 16000, 32000, 2, 16)
        gallery = {f"canon_sw{sw}_ch{ch}": canon(sw, ch)
                   for sw in (1, 2, 3, 4) for ch in (1, 2, 3)}
        gallery.update({
            "extra_odd_chunk": insert_chunk(base, b"LIST", b"x" * 7),
            "extra_even_chunk": insert_chunk(base, b"JUNK", b"y" * 8),
            "two_fmt_last_wins": insert_chunk(base, b"fmt ", fmt2),
            "trailing_chunk": base + b"tail\x04\x00\x00\x00abcd",
            "riff_size_small": b"RIFF\x1e\x00\x00\x00" + base[8:],
            "riff_size_big": b"RIFF" + (10 ** 6).to_bytes(4, "little")
                             + base[8:],
            "data_size_big": base[:i + 4]
                             + (10 ** 6).to_bytes(4, "little")
                             + base[i + 8:],
            "data_size_odd": base[:i + 4]
                             + (ds - 1).to_bytes(4, "little")
                             + base[i + 8:],
            "fmt_extensible": base[:j + 8] + b"\xfe\xff" + base[j + 10:],
            "fmt_tag0": base[:j + 8] + b"\x00\x00" + base[j + 10:],
            "garbage": b"not a riff at all",
            "empty_data": canon(nframes=0),
        })
        for cut in (4, 11, 12, 13, 20, 35, 36, 40, 44, 45, 50,
                    len(base) - 3, len(base) - 1):
            gallery[f"trunc_{cut}"] = base[:cut]
        claimed = 0
        for name, b in gallery.items():
            fp = _riff_pcm_parts(b)
            if fp is not None:
                claimed += 1
                assert fp == _wave_module_parts(b), name
        # every canonical file and the benign-chunk variants must take
        # the fast path; here that is most of the gallery
        assert claimed >= 20, claimed
        for name in gallery:
            if name.startswith("canon_"):
                assert _riff_pcm_parts(gallery[name]) is not None, name
                assert _wav_mono16(gallery[name]) is not None, name

    def test_audio_fingerprint_windows(self, spark):
        """Per-window lanes: full-window framing (a 1536-sample clip
        at hop 512 yields windows 0 and 1, each mirror-equal to the
        HK fingerprint of its slice), clips shorter than one window
        emit ONE zero-padded window identical to the whole-clip lane,
        undecodable/NULL payloads emit nothing, hop must be
        positive."""
        import numpy as np
        import pytest

        from pincette_json_streams_spark.functions.multimodal import (
            audio_fingerprint, audio_fingerprint_windows,
        )
        rng = np.random.default_rng(11)
        a = rng.integers(-32768, 32768, 1536).tolist()
        short = rng.integers(-32768, 32768, 300).tolist()
        df = spark.createDataFrame(
            [(1, bytearray(self._wav_bytes(a))),
             (2, bytearray(self._wav_bytes(short))),
             (3, bytearray(b"junk")), (4, None)],
            "clip_id long, media binary")
        got = {(r["clip_id"], r["window_idx"]): r["afp"]
               for r in audio_fingerprint_windows(df).collect()}
        assert set(got) == {(1, 0), (1, 1), (2, 0)}
        assert got[(1, 0)] == self._afp_mirror(a[:1024])
        assert got[(1, 1)] == self._afp_mirror(a[512:1536])
        whole = {r["clip_id"]: r["afp"]
                 for r in audio_fingerprint(df).collect()}
        assert got[(2, 0)] == whole[2]   # short clip == whole-clip lane
        with pytest.raises(ValueError, match="hop"):
            audio_fingerprint_windows(df, hop=0)

    def test_audio_near_pairs_shift_and_clip(self, spark):
        """The round-10 gap closed: a clip time-shifted or clipped by
        a whole hop pairs with the original through per-window lanes
        — and the single whole-clip lane PROVABLY fails both (its
        hamming to the original is beyond the radius).  Unrelated
        audio stays out; string ids ride the delimited window key."""
        import numpy as np

        from pincette_json_streams_spark.functions.multimodal import (
            audio_fingerprint, audio_near_pairs,
        )
        rng = np.random.default_rng(13)
        base = rng.integers(-32768, 32768, 2048).tolist()
        orig = base[:1536]
        shifted = base[512:2048]     # same content, one hop later
        clipped = orig[512:1536]     # sub-range of the original
        other = rng.integers(-32768, 32768, 1536).tolist()
        df = spark.createDataFrame(
            [(1, bytearray(self._wav_bytes(orig))),
             (2, bytearray(self._wav_bytes(shifted))),
             (3, bytearray(self._wav_bytes(clipped))),
             (4, bytearray(self._wav_bytes(other)))],
            "clip_id long, media binary")
        pairs = {(r["id_a"], r["id_b"]): (r["matching_windows"],
                                          r["min_hamming"])
                 for r in audio_near_pairs(df).collect()}
        # orig.w1 == shifted.w0 == clipped.w0 (all base[512:1536])
        assert pairs[(1, 2)][1] == 0 and pairs[(1, 3)][1] == 0
        assert pairs[(2, 3)][1] == 0
        assert not any(4 in p for p in pairs)
        # the whole-clip lane cannot match either transform
        whole = {r["clip_id"]: r["afp"]
                 for r in audio_fingerprint(df).collect()}
        for twin in (2, 3):
            h = bin((whole[1] ^ whole[twin]) & (2 ** 64 - 1)).count("1")
            assert h > 7, f"whole-clip lane unexpectedly matches {twin}"
        # string ids (URL-keyed corpora) use the delimited window key
        dfs = spark.createDataFrame(
            [("s3://a.wav", bytearray(self._wav_bytes(orig))),
             ("s3://b.wav", bytearray(self._wav_bytes(shifted)))],
            "clip_id string, media binary")
        ps = audio_near_pairs(dfs).collect()
        assert [(r["id_a"], r["id_b"]) for r in ps] \
            == [("s3://a.wav", "s3://b.wav")]

    def test_metadata_and_decode_stub(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            attach_media_metadata, decode_features,
        )
        assets = spark.createDataFrame(
            [("a1", "image/png", bytearray(b"\x89PNG fake")),
             ("a2", "audio/wav", bytearray(b"RIFF fake"))],
            "asset_id string, media_type string, media binary",
        )
        meta = attach_media_metadata(assets).collect()
        assert all(r["media_bytes"] > 0 and len(r["media_sha"]) == 64
                   for r in meta)
        out = decode_features(assets).collect()
        assert all(len(r["features"]) == 8 for r in out)
        # deterministic: same bytes -> same features
        again = decode_features(assets).collect()
        assert [r["features"] for r in out] == \
            [r["features"] for r in again]

    def test_sample_frames(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            sample_frames,
        )
        assets = spark.createDataFrame(
            [("v1", "video/mp4", bytearray(b"fake video bytes"))],
            "asset_id string, media_type string, media binary",
        )
        out = sample_frames(assets).collect()
        frames = out[0]["frames"]
        assert [f["idx"] for f in frames] == [0, 1, 2, 3]
        assert all(f["frame"] for f in frames)


class TestMixPack:
    def test_domain_mixture_weights(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            domain_mixture,
        )
        docs = spark.createDataFrame(
            [(1, "web", "a b c d"), (2, "web", "e f g h"),
             (3, "books", "x y"), (4, "code", "p q")],
            "doc_id long, source string, text string",
        )
        got = {r["source"]: r for r in domain_mixture(docs).collect()}
        assert got["web"]["n_tokens"] == 8
        assert abs(got["web"]["token_share"] - 8 / 12) < 1e-6
        assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-4
        # alpha < 1 upweights rare domains relative to raw share
        assert got["books"]["weight"] > got["books"]["token_share"]
        assert got["web"]["weight"] < got["web"]["token_share"]
        # alpha = 1 degenerates to the raw share
        flat = {r["source"]: r
                for r in domain_mixture(docs, alpha=1.0).collect()}
        for s in flat:
            assert abs(flat[s]["weight"] - flat[s]["token_share"]) < 1e-5

    def test_sequence_packing_bins(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            sequence_packing,
        )
        # tokens: d1=3, d2=3, d3=2, d4=4 in one shard; budget 4
        docs = spark.createDataFrame(
            [(1, "s", "a a a"), (2, "s", "b b b"),
             (3, "s", "c c"), (4, "s", "d d d d"),
             (10, "t", "x")],
            "doc_id long, source string, text string",
        )
        got = {(r["source"], r["seq_id"]): r
               for r in sequence_packing(docs, budget=4).collect()}
        # starts: d1=0 -> seq0, d2=3 -> seq0, d3=6 -> seq1, d4=8 -> seq2
        assert got[("s", 0)]["n_docs"] == 2
        assert got[("s", 0)]["n_tokens"] == 6
        assert (got[("s", 0)]["first_doc"],
                got[("s", 0)]["last_doc"]) == (1, 2)
        assert got[("s", 1)]["n_docs"] == 1
        assert got[("s", 2)]["n_tokens"] == 4
        assert got[("s", 2)]["fill"] == 1.0
        # shards pack independently
        assert got[("t", 0)]["n_docs"] == 1


class TestIncrementalDedup:
    def test_batch_vs_index_and_within_batch(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            incremental_dedup, minhash_index,
        )
        base = ("the quick brown fox jumps over the lazy dog and then "
                "runs far away into the deep green forest tonight")
        existing = spark.createDataFrame(
            [(10, base), (20, "completely unrelated text about spark "
                              "engines and distributed processing")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(101, base),                      # dup of index doc 10
             (102, "fresh unique content about cooking pasta with "
                   "tomatoes basil garlic and olive oil at home"),
             (103, "fresh unique content about cooking pasta with "
                   "tomatoes basil garlic and olive oil at home"),
             (104, "nothing like anything else entirely novel words "
                   "quantum zebra xylophone paradox")],
            "doc_id long, text string",
        )
        index = minhash_index(existing)
        got = {r["doc_id"]: r for r in
               incremental_dedup(batch, index, threshold=0.5).collect()}
        assert got[101]["is_dup"] and got[101]["dup_of"] == 10
        assert got[101]["jaccard"] == 1.0
        # within-batch: 103 dups 102 (smaller id wins); 102 survives
        assert not got[102]["is_dup"] and got[102]["dup_of"] is None
        assert got[103]["is_dup"] and got[103]["dup_of"] == 102
        assert not got[104]["is_dup"]

    def test_raw_documents_as_index(self, spark):
        """Passing raw docs instead of a signature table computes the
        index signatures on the fly — same result."""
        from pincette_json_streams_spark.functions.dedup import (
            incremental_dedup,
        )
        text = ("some long enough shared text that will generate "
                "plenty of shingles for the minhash signature pass")
        existing = spark.createDataFrame(
            [(1, text)], "doc_id long, text string")
        batch = spark.createDataFrame(
            [(5, text)], "doc_id long, text string")
        (row,) = incremental_dedup(batch, existing).collect()
        assert row["is_dup"] and row["dup_of"] == 1

    def test_string_band_key_index_is_refused(self, spark):
        """An index persisted with string band keys (the format before
        64-bit band hashes) would match nothing: it is refused with a
        rebuild hint instead."""
        from pincette_json_streams_spark.functions.dedup import (
            incremental_dedup, minhash_index,
        )
        docs = spark.createDataFrame(
            [(1, "an old index built before the band keys were hashed")],
            "doc_id long, text string")
        old = minhash_index(docs).withColumn(
            "bks", F.col("bks").cast("array<string>"))
        with pytest.raises(ValueError, match="rebuild it with minhash_index"):
            incremental_dedup(docs, old)


class TestTokenDrift:
    def test_top_movers_and_finiteness(self, spark):
        from pincette_json_streams_spark.functions.text import token_drift
        a = spark.createDataFrame(
            [(1, "common words common words alpha alpha alpha")],
            "doc_id long, text string")
        b = spark.createDataFrame(
            [(2, "common words common words beta beta beta")],
            "doc_id long, text string")
        rows = token_drift(a, b, top_k=10).collect()
        by_tok = {r["token"]: r for r in rows}
        # the two one-sided tokens are the top movers, ahead of shared
        top2 = {rows[0]["token"], rows[1]["token"]}
        assert top2 == {"alpha", "beta"}
        # one-sided tokens still get finite contributions (smoothing)
        assert by_tok["alpha"]["n_b"] == 0
        assert by_tok["alpha"]["js_contrib"] > 0
        # identical distributions drift ~0
        same = token_drift(a, a, top_k=5).collect()
        assert all(abs(r["js_contrib"]) < 1e-6 for r in same)

    def test_incremental_consistent_with_full_pairing(self, spark):
        """Consistency: a batch doc is flagged dup by incremental_dedup
        exactly when the FULL minhash_lsh_pairs run over index+batch
        contains a qualifying pair (partner in the index, or an earlier
        batch id) — the incremental path loses nothing vs the one-shot."""
        from pincette_json_streams_spark.functions.dedup import (
            incremental_dedup, minhash_lsh_pairs,
        )
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text").limit(200)
        existing = docs.filter(F.col("doc_id") % 5 == 0)
        batch = docs.filter(F.col("doc_id") % 5 != 0)

        inc = {r["doc_id"]: r for r in
               incremental_dedup(batch, existing, threshold=0.5).collect()}
        pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()

        expected_dup: dict[int, int] = {}
        for p in pairs:
            for doc, other in ((p["id_a"], p["id_b"]),
                               (p["id_b"], p["id_a"])):
                if doc % 5 == 0 or doc not in inc:
                    continue  # doc must be a batch member
                if other % 5 == 0 or other < doc:
                    expected_dup[doc] = min(
                        expected_dup.get(doc, other), other)
        got_dup = {d: r["dup_of"] for d, r in inc.items() if r["is_dup"]}
        assert got_dup == expected_dup


class TestSkewAndSketch:
    def test_salted_agg_equals_plain(self, spark):
        from pincette_json_streams_spark.functions.skew import salted_agg
        orders = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet")
        got = {r["o_orderstatus"]: r for r in salted_agg(
            orders, "o_orderstatus",
            {"rev": ("sum", "o_totalprice"),
             "n": ("count", "o_orderkey"),
             "mx": ("max", "o_totalprice"),
             "avg_p": ("avg", "o_totalprice")},
            salt_buckets=8,
        ).collect()}
        want = {r["o_orderstatus"]: r for r in orders.groupBy(
            "o_orderstatus").agg(
            F.sum("o_totalprice").alias("rev"),
            F.count("o_orderkey").alias("n"),
            F.max("o_totalprice").alias("mx"),
            F.avg("o_totalprice").alias("avg_p"),
        ).collect()}
        assert set(got) == set(want)
        for k in got:
            assert abs(got[k]["rev"] - want[k]["rev"]) < 1e-6
            assert got[k]["n"] == want[k]["n"]
            assert got[k]["mx"] == want[k]["mx"]
            assert abs(got[k]["avg_p"] - want[k]["avg_p"]) < 1e-9

    def test_salted_agg_rejects_holistic(self, spark):
        import pytest as _pt

        from pincette_json_streams_spark.functions.skew import salted_agg
        df = spark.range(5).selectExpr("id AS k", "id AS v")
        with _pt.raises(ValueError, match="not algebraic"):
            salted_agg(df, "k", {"m": ("median", "v")})

    def test_kmv_accuracy(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            kmv_distinct,
        )
        rows = ([("big", f"tok{i}") for i in range(3000)]
                + [("small", f"s{i}") for i in range(20)])
        df = spark.createDataFrame(rows, "lang string, token string")
        got = {r["lang"]: r["est_distinct"] for r in
               kmv_distinct(df, "lang", "token", k=64).collect()}
        # below k: exact
        assert got["small"] == 20
        # above k: within the ~1/sqrt(k) relative-error envelope (x2)
        assert abs(got["big"] - 3000) / 3000 < 0.25


class TestImageDecode:
    @staticmethod
    def _png(raw_scanlines: bytes, w: int, h: int, ctype: int = 2):
        """Minimal PNG writer (test fixture only): IHDR + one IDAT of
        the given raw (filter-byte-prefixed) scanline stream + IEND."""
        import struct
        import zlib

        def chunk(typ, data):
            c = struct.pack(">I", len(data)) + typ + data
            return c + struct.pack(
                ">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

        ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw_scanlines))
                + chunk(b"IEND", b""))

    def test_png_rgb_with_filters(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            decode_image,
        )
        # 2x2 RGB: row1 = red, green (filter 0); row2 = blue, white
        # written with the Up filter (cur - prev mod 256)
        row1 = bytes([255, 0, 0, 0, 255, 0])
        row2 = bytes([0, 0, 255, 255, 255, 255])
        up = bytes((c - p) % 256 for c, p in zip(row2, row1))
        raw = b"\x00" + row1 + b"\x02" + up
        png = self._png(raw, 2, 2)

        df = spark.createDataFrame(
            [("p", bytearray(png)), ("junk", bytearray(b"\xff\xd8\xffx"))],
            "asset_id string, media binary",
        )
        got = {r["asset_id"]: r["image"].asDict()
               for r in decode_image(df, hist_bins=4).collect()}
        img = got["p"]
        assert img["format"] == "png"
        assert (img["width"], img["height"], img["channels"]) == (2, 2, 3)
        # pixel means: R=(255+0+0+255)/4, G=(0+255+0+255)/4,
        #              B=(0+0+255+255)/4
        assert img["mean_rgb"] == [127.5, 127.5, 127.5]
        assert abs(sum(img["luma_hist"]) - 1.0) < 1e-6
        # JPEG: honestly undecodable without a DCT codec -> NULLs
        assert got["junk"]["format"] is None

    def test_resize_and_dhash(self, spark):
        """Integer box-resize + dHash over the REAL decoder: exact
        hand-computed luma grid (BT.709 integer weights, floor div),
        exact dHash bits, graceful NULLs on undecodable payloads,
        upscale-by-nearest, and the 64-bit dhash capacity guard."""
        from pincette_json_streams_spark.functions.multimodal import (
            resize_image,
        )
        # 2x2 RGB: red, green / blue, white (Up filter on row 2)
        row1 = bytes([255, 0, 0, 0, 255, 0])
        row2 = bytes([0, 0, 255, 255, 255, 255])
        up = bytes((c - p) % 256 for c, p in zip(row2, row1))
        png = self._png(b"\x00" + row1 + b"\x02" + up, 2, 2)
        df = spark.createDataFrame(
            [("p", bytearray(png)), ("junk", bytearray(b"\x00\x01"))],
            "asset_id string, media binary")
        got = {r["asset_id"]: r["thumb"].asDict()
               for r in resize_image(df, width=2, height=2).collect()}
        t = got["p"]
        # luma: red 2126*255//10000=54, green 182, blue 18, white 255
        assert t["pixels"] == [54, 182, 18, 255]
        assert (t["grid_w"], t["grid_h"]) == (2, 2)
        # dHash wide grid (3x2): rows [54,54,182] / [18,18,255]
        # bits: 54<54=0, 54<182=1, 18<18=0, 18<255=1 -> 0b0101
        assert t["dhash"] == 0b0101
        assert got["junk"]["format"] is None
        assert got["junk"]["dhash"] is None
        # 1x1 box average: (54+182+18+255)//4
        one = {r["asset_id"]: r["thumb"].asDict()
               for r in resize_image(df, width=1, height=1).collect()}
        assert one["p"]["pixels"] == [127]
        # upscale 4x1: nearest columns, rows averaged
        wide = {r["asset_id"]: r["thumb"].asDict()
                for r in resize_image(df, width=4, height=1).collect()}
        assert wide["p"]["pixels"] == [36, 36, 218, 218]
        # identical images share a dhash; the capacity guard raises
        import pytest as _pt
        with _pt.raises(ValueError):
            resize_image(df, width=9, height=8)

    def test_png_sub_and_paeth_filters_roundtrip(self, spark):
        """Filters 1 (Sub) and 4 (Paeth) must reconstruct exactly."""
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image,
        )
        row1 = bytes([10, 20, 30, 40, 50, 60])
        # Sub filter: cur - left(bpp=3)
        sub = bytes([10, 20, 30]) + bytes(
            (c - a) % 256 for c, a in zip(row1[3:], row1[:3]))
        row2 = bytes([15, 25, 35, 45, 55, 65])
        # Paeth with full left/up context — encode per spec
        paeth = bytearray()
        for i, c in enumerate(row2):
            a = row2[i - 3] if i >= 3 else 0
            b = row1[i]
            cc = row1[i - 3] if i >= 3 else 0
            p = a + b - cc
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
            paeth.append((c - pred) % 256)
        raw = b"\x01" + sub + b"\x04" + bytes(paeth)
        img = _decode_image(self._png(raw, 2, 2), 4)
        import numpy as np
        want = np.array([list(row1), list(row2)], dtype=np.uint8)
        r = img["mean_rgb"]
        rgb = want.reshape(2, 2, 3)
        assert r == [round(float(rgb[:, :, c].mean()), 4)
                     for c in range(3)]

    def test_bmp_24bit(self, spark):
        import struct

        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image,
        )
        # 2x1 BMP, 24-bit BI_RGB: pixels (bottom-up) BGR
        w, h = 2, 1
        stride = (w * 3 + 3) & ~3
        pixels = bytes([255, 0, 0,  0, 0, 255]) + b"\x00" * (stride - 6)
        header = (b"BM" + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
                  + struct.pack("<Iii", 40, w, h)
                  + struct.pack("<HH", 1, 24)
                  + struct.pack("<IIiiII", 0, len(pixels), 2835, 2835,
                                0, 0))
        img = _decode_image(header + pixels, 4)
        assert img["format"] == "bmp"
        assert (img["width"], img["height"]) == (2, 1)
        # BGR [255,0,0] = blue pixel; BGR [0,0,255] = red pixel
        assert img["mean_rgb"] == [127.5, 0.0, 127.5]


class TestPropertyRoundTrips:
    def test_png_decode_roundtrip_random(self):
        """Property: decode(encode(pixels, random per-row filters)) ==
        pixels exactly — the unfiltering math is bit-correct for every
        filter type on arbitrary content (driver-side, no Spark)."""
        import zlib

        import numpy as np
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.multimodal import (
            _png_unfilter,
        )

        @settings(max_examples=20, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.integers(1, 5), st.integers(1, 5),
               st.integers(0, 2 ** 31 - 1))
        def check(w, h, seed):
            rng = np.random.RandomState(seed)
            img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
            bpp, stride = 3, w * 3
            raw = bytearray()
            for y in range(h):
                ftype = int(rng.randint(0, 5))
                cur = img[y].reshape(-1).astype(np.int32)
                prev = img[y - 1].reshape(-1).astype(np.int32) if y \
                    else np.zeros(stride, np.int32)
                filt = np.zeros(stride, np.int32)
                for i in range(stride):
                    a = int(cur[i - bpp]) if i >= bpp else 0
                    b = int(prev[i])
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2}.get(ftype)
                    if pred is None:  # Paeth
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if pa <= pb and pa <= pc else \
                            (b if pb <= pc else c)
                    filt[i] = (int(cur[i]) - pred) % 256
                raw.append(ftype)
                raw.extend(filt.astype(np.uint8).tobytes())
            decoded = _png_unfilter(bytes(raw), w, h, bpp)
            assert np.array_equal(decoded, img)

        check()

    def test_sequence_packing_matches_naive(self, spark):
        """Property: per-shard packing equals the pure-Python
        concat-and-chunk reference on random documents."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.sampling import (
            sequence_packing,
        )

        doc = st.tuples(st.integers(0, 1), st.integers(1, 12))

        @settings(max_examples=5, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.lists(doc, min_size=1, max_size=12, unique=True))
        def check(docs):
            rows = [(i, f"s{s}", "w " * n) for i, (s, n) in
                    enumerate(docs)]
            df = spark.createDataFrame(
                rows, "doc_id long, source string, text string")
            got = {(r["source"], r["seq_id"]):
                   (r["n_docs"], r["n_tokens"])
                   for r in sequence_packing(df, budget=8).collect()}

            want: dict = {}
            for src in sorted({f"s{s}" for s, _ in docs}):
                offset = 0
                members = sorted(
                    (i, n) for i, (s, n) in enumerate(docs)
                    if f"s{s}" == src)
                for _i, n in members:
                    seq = offset // 8
                    d, t = want.get((src, seq), (0, 0))
                    want[(src, seq)] = (d + 1, t + n)
                    offset += n
            assert got == want

        check()

    def test_kmv_sketch_merge_associative(self, spark):
        """Merging per-snapshot sketches equals sketching the union —
        the property that lets a growing corpus update cardinality
        without rescanning old snapshots."""
        from pincette_json_streams_spark.functions.profiling import (
            kmv_estimate, kmv_merge, kmv_sketch,
        )
        rows_a = [("en", f"tok{i}") for i in range(500)]
        rows_b = [("en", f"tok{i}") for i in range(300, 900)]  # overlap
        a = spark.createDataFrame(rows_a, "lang string, token string")
        b = spark.createDataFrame(rows_b, "lang string, token string")
        k = 32
        merged = kmv_merge(kmv_sketch(a, "lang", "token", k),
                           kmv_sketch(b, "lang", "token", k),
                           group_col="lang", k=k)
        direct = kmv_sketch(a.unionByName(b), "lang", "token", k)
        mh = merged.collect()[0]["hashes"]
        dh = direct.collect()[0]["hashes"]
        assert mh == dh  # identical k-minimum sets, not just estimates
        est = kmv_estimate(merged, "lang", k).collect()[0]
        assert abs(est["est_distinct"] - 900) / 900 < 0.35

    def test_kmv_overlap_exact_below_k(self, spark):
        """Groups whose combined hash set stays below k were seen WHOLE:
        union/intersection/Jaccard must be exact counts."""
        from pincette_json_streams_spark.functions.profiling import (
            kmv_overlap, kmv_sketch,
        )
        rows = [("a", f"v{i}") for i in range(10)] + \
               [("b", f"v{i}") for i in range(5, 20)]
        df = spark.createDataFrame(rows, "g string, v string")
        sk = kmv_sketch(df, "g", "v", k=64)
        (r,) = kmv_overlap(sk, "g", k=64).collect()
        assert (r["group_a"], r["group_b"]) == ("a", "b")
        assert r["est_union"] == 20          # |v0..v19|
        assert r["est_intersection"] == 5    # v5..v9
        assert r["jaccard_e6"] == 5 * 1_000_000 // 20

    def test_kmv_overlap_estimates_track_truth(self, spark):
        """Estimation path (n >= k): union/intersection estimates land
        within KMV's ~1/sqrt(k) band, identical slices give jaccard 1e6,
        and disjoint slices give intersection 0."""
        from pincette_json_streams_spark.functions.profiling import (
            kmv_overlap, kmv_sketch,
        )
        rows = (
            [("a", f"v{i}") for i in range(1000)]
            + [("b", f"v{i}") for i in range(500, 1500)]   # 50% overlap
            + [("c", f"v{i}") for i in range(1000)]        # == a
            + [("d", f"w{i}") for i in range(1000)]        # disjoint
        )
        df = spark.createDataFrame(rows, "g string, v string")
        k = 128
        out = {(r["group_a"], r["group_b"]): r
               for r in kmv_overlap(kmv_sketch(df, "g", "v", k), "g",
                                    k).collect()}
        ab = out[("a", "b")]
        assert abs(ab["est_union"] - 1500) / 1500 < 0.3
        assert abs(ab["est_intersection"] - 500) / 500 < 0.5
        ac = out[("a", "c")]
        assert ac["jaccard_e6"] == 1_000_000
        ad = out[("a", "d")]
        assert ad["est_intersection"] == 0 and ad["jaccard_e6"] == 0

    def test_kmv_overlap_allpairs_broadcast(self, spark):
        """The all-pairs join runs over the one-row-per-group sketch
        frame: no sort-merge join, no cartesian over data rows."""
        from pincette_json_streams_spark.functions.profiling import (
            kmv_overlap, kmv_sketch,
        )
        rows = [(f"g{j}", f"v{i+j}") for j in range(4) for i in range(50)]
        df = spark.createDataFrame(rows, "g string, v string")
        out = kmv_overlap(kmv_sketch(df, "g", "v", 16), "g", 16)
        assert out.count() == 6  # 4 choose 2
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan


class TestRetention:
    def test_cohort_matrix(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            retention_cohorts,
        )
        D = 86_400_000_000_000
        # u1 first day0, active day0+day1; u2 first day0 only;
        # u3 first day1, active day1+day2 (two events same day dedup)
        rows = [(1, 0), (1, D + 5), (2, 10), (3, D), (3, D + 1),
                (3, 2 * D)]
        df = spark.createDataFrame(rows, "user_id long, ts_nanos long")
        got = {(r["cohort"], r["offset"]): (r["n_users"], r["retention"])
               for r in retention_cohorts(df).collect()}
        assert got[(0, 0)] == (2, 1.0)
        assert got[(0, 1)] == (1, 0.5)
        assert got[(1, 0)] == (1, 1.0)
        assert got[(1, 1)] == (1, 1.0)
        assert (0, 2) not in got


class TestDuplicateSpans:
    """Exact-substring (window) dedup — functions/text.py
    duplicate_spans / strip_duplicate_spans."""

    @pytest.fixture(scope="class")
    def span_docs(self, spark):
        # shared 6-token run "a b c d e f" sits inside docs 10 and 11 at
        # different offsets; doc 12 shares nothing; doc 13 is an exact
        # copy of doc 10 (fully duplicated)
        shared = "a b c d e f"
        return spark.createDataFrame(
            [
                (10, f"x1 x2 {shared} y1 y2"),
                (11, f"z1 z2 z3 {shared} w1"),
                (12, "p q r s t u v w"),
                (13, f"x1 x2 {shared} y1 y2"),
            ],
            "doc_id long, text string",
        )

    def test_detects_shared_spans(self, span_docs):
        from pincette_json_streams_spark.functions.text import (
            duplicate_spans,
        )
        out = {
            r["doc_id"]: r.asDict()
            for r in duplicate_spans(
                span_docs, width=4, min_docs=2
            ).collect()
        }
        # doc 12 shares no 4-token window
        assert out[12]["dup_windows"] == 0
        assert out[12]["dup_ratio"] == 0.0
        # docs 10 and 13 are identical -> every window duplicated,
        # one maximal span covering the whole doc
        assert out[10]["dup_windows"] == out[10]["n_windows"]
        assert out[10]["n_spans"] == 1
        assert out[10]["dup_tokens"] == out[10]["n_tokens"]
        assert out[10]["dup_ratio"] == 1.0
        # doc 11 shares exactly the 6-token run with 10/13: its three
        # 4-token windows inside the run merge into one span of 6 tokens
        assert out[11]["dup_windows"] == 3
        assert out[11]["n_spans"] == 1
        assert out[11]["dup_tokens"] == 6

    def test_strip_keeps_canonical_copy(self, span_docs):
        from pincette_json_streams_spark.functions.text import (
            strip_duplicate_spans,
        )
        out = {
            r["doc_id"]: r.asDict()
            for r in strip_duplicate_spans(span_docs, width=4).collect()
        }
        # doc 10 is the lowest id containing the shared windows: verbatim
        assert out[10]["text_clean"] == "x1 x2 a b c d e f y1 y2"
        assert out[10]["n_kept"] == out[10]["n_tokens"]
        # doc 13 (exact copy) is fully stripped but still present
        assert out[13]["n_kept"] == 0
        assert out[13]["text_clean"] == ""
        # doc 11 loses exactly the shared 6-token run
        assert out[11]["text_clean"] == "z1 z2 z3 w1"
        # doc 12 untouched
        assert out[12]["n_kept"] == out[12]["n_tokens"]

    def test_overlapping_islands_merge(self, spark):
        from pincette_json_streams_spark.functions.text import (
            duplicate_spans,
        )
        # two duplicated 3-windows at starts 0 and 2 overlap ([0,3) and
        # [2,5)) without being consecutive -> must merge into ONE span
        df = spark.createDataFrame(
            [
                (0, "a b c d e q1 q2 q3"),
                (1, "a b c r1 r2 r3 r4"),
                (2, "s1 c d e s2 s3 s4"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r.asDict()
            for r in duplicate_spans(df, width=3, min_docs=2).collect()
        }
        assert out[0]["dup_windows"] == 2
        assert out[0]["n_spans"] == 1
        assert out[0]["dup_tokens"] == 5


class TestWeb:
    """URL canonicalization — functions/web.py."""

    def test_normalize_url(self, spark):
        from pincette_json_streams_spark.functions.web import normalize_url
        cases = [
            # scheme/host case, default port, fragment
            ("HTTPS://WWW.Example.COM:443/a#frag", "https://www.example.com/a"),
            ("http://host.io:80/x", "http://host.io/x"),
            # non-default port survives
            ("http://host.io:8080/x", "http://host.io:8080/x"),
            # trailing slash, tracking params dropped, params sorted
            ("https://e.com/p/?utm_source=x&b=2&a=1", "https://e.com/p?a=1&b=2"),
            ("https://e.com/p?gclid=123&fbclid=9", "https://e.com/p"),
            # empty params dropped; only-tracking query vanishes entirely
            ("https://e.com/?utm_a=1&utm_b=2", "https://e.com"),
            # not a URL -> NULL
            ("not a url", None),
            ("", None),
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [r["n"] for r in df.select(
            normalize_url(F.col("url")).alias("n")).collect()]
        assert got == [want for _, want in cases]

    def test_normalize_idempotent(self, spark):
        from pincette_json_streams_spark.functions.web import normalize_url
        raw = ["HTTPS://A.B:443/x/?b=2&a=1&utm_x=1#f",
               "http://q.io:80//deep/path/?z=1"]
        df = spark.createDataFrame([(u,) for u in raw], "url string")
        once = df.select(normalize_url(F.col("url")).alias("u"))
        twice = once.select(normalize_url(F.col("u")).alias("u"))
        assert [r["u"] for r in once.collect()] == \
               [r["u"] for r in twice.collect()]

    def test_strip_www_and_host(self, spark):
        from pincette_json_streams_spark.functions.web import (
            host_of, normalize_url,
        )
        df = spark.createDataFrame(
            [("https://www.site.org:9999/d",)], "url string")
        r = df.select(
            normalize_url(F.col("url"), strip_www=True).alias("n"),
            host_of(F.col("url")).alias("h"),
        ).collect()[0]
        assert r["n"] == "https://site.org:9999/d"
        assert r["h"] == "www.site.org"

    def test_url_dedup_keeps_lowest_and_unparsed(self, spark):
        from pincette_json_streams_spark.functions.web import url_dedup
        df = spark.createDataFrame(
            [
                (1, "https://e.com/a?b=2&a=1"),
                (2, "HTTPS://E.COM:443/a/?a=1&b=2&utm_k=v"),  # same canon
                (3, "https://e.com/other"),
                (4, "garbage"),
            ],
            "doc_id long, url string",
        )
        out = {r["doc_id"]: r for r in url_dedup(df).collect()}
        assert sorted(out) == [1, 3, 4]          # 2 collapsed into 1
        assert out[1]["n_dups"] == 2
        assert out[3]["n_dups"] == 1
        assert out[4]["canonical_url"] is None   # unparsed kept as-is


class TestLayout:
    """Z-order write layout — functions/layout.py."""

    def test_key_interleaves(self, spark):
        from pincette_json_streams_spark.functions.layout import zorder_key
        # 4x4 grid, bits=2: hand-checkable Morton codes
        rows = [(x, y) for x in range(4) for y in range(4)]
        df = spark.createDataFrame(rows, "x int, y int")
        out = {(r["x"], r["y"]): r["zkey"] for r in
               zorder_key(df, ["x", "y"], bits=2).collect()}
        # scaled value == raw value here (min 0, max 3 -> *3/3)
        def morton(x, y):
            z = 0
            for b in range(2):
                z |= ((x >> b) & 1) << (2 * b)
                z |= ((y >> b) & 1) << (2 * b + 1)
            return z
        assert out == {(x, y): morton(x, y) for x, y in rows}

    def test_constant_column_collapses(self, spark):
        from pincette_json_streams_spark.functions.layout import zorder_key
        df = spark.createDataFrame([(7, i) for i in range(8)], "c int, v int")
        ks = [r["zkey"] for r in zorder_key(df, ["c", "v"], bits=3).collect()]
        # constant dim contributes 0 bits; key strictly follows v
        assert sorted(ks) == ks or sorted(set(ks)) == sorted(ks)
        assert len(set(ks)) == 8

    def test_bits_bound(self, spark):
        from pincette_json_streams_spark.functions.layout import zorder_key
        df = spark.createDataFrame([(1, 2)], "a int, b int")
        with pytest.raises(ValueError):
            zorder_key(df, ["a", "b"], bits=32)

    def test_clustering_tightens_bounds(self, spark):
        from pincette_json_streams_spark.functions.layout import (
            cluster_by_zorder, partition_bounds,
        )
        import random
        rng = random.Random(7)
        pts = [(rng.randrange(1024), rng.randrange(1024))
               for _ in range(4000)]
        df = spark.createDataFrame(pts, "x int, y int")

        def avg_area(frame):
            b = partition_bounds(frame, ["x", "y"]).collect()
            areas = [max(r["max_x"] - r["min_x"], 1) *
                     max(r["max_y"] - r["min_y"], 1) for r in b]
            return sum(areas) / len(areas)

        clustered = cluster_by_zorder(df, ["x", "y"], 16, bits=10)
        baseline = df.repartition(16)
        # z-order partitions cover compact rectangles: both dims tighten,
        # hash partitions cover ~the full domain each
        assert avg_area(clustered) < 0.35 * avg_area(baseline)


class TestGifDecode:
    """Real GIF LZW decode — functions/multimodal.py."""

    @staticmethod
    def _pack_codes(codes):
        """LSB-first variable-width code packer (GIF89a appendix F)."""
        bits = 0
        acc = 0
        out = bytearray()
        for code, size in codes:
            acc |= code << bits
            bits += size
            while bits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                bits -= 8
        if bits:
            out.append(acc & 0xFF)
        return bytes(out)

    @classmethod
    def _encode_gif(cls, w, h, palette, pixels, interlaced=False):
        """Minimal GIF89a encoder (test fixture only): emits literal
        pixel codes with the standard dictionary-growth accounting, so
        the decoder's table/width logic is exercised for real."""
        import struct
        ncol = len(palette)
        depth = max((ncol - 1).bit_length(), 1)
        mcs = max(depth, 2)
        clear, end = 1 << mcs, (1 << mcs) + 1
        codes = [(clear, mcs + 1)]
        size = mcs + 1
        next_code = end + 1
        prev = False
        for p in pixels:
            codes.append((p, size))
            if prev:
                next_code += 1
                if next_code == (1 << size) and size < 12:
                    size += 1
            prev = True
        codes.append((end, size))
        data = cls._pack_codes(codes)
        gct = b"".join(bytes(c) for c in palette)
        gct += b"\x00\x00\x00" * ((1 << depth) - ncol)
        ip = 0x40 if interlaced else 0
        return (b"GIF89a"
                + struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
                + gct
                + b"\x2C" + struct.pack("<HHHHB", 0, 0, w, h, ip)
                + bytes([mcs])
                + bytes([len(data)]) + data + b"\x00"
                + b"\x3B")

    def _decode(self, blob):
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image,
        )
        return _decode_image(blob, 16)

    def test_hand_packed_2x2(self):
        """Byte-level fixture: codes hand-derived from the spec (clear,
        0, 1, 1, 0, end with the width bump after the 4th code)."""
        import struct
        data = self._pack_codes(
            [(4, 3), (0, 3), (1, 3), (1, 3), (0, 4), (5, 4)])
        gif = (b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0x81, 0, 0)
               + b"\x00\x00\x00\xff\xff\xff"          # black, white
               + b"\x00\x00\x00" * 2                  # pad table to 4
               + b"\x2C" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
               + b"\x02" + bytes([len(data)]) + data + b"\x00\x3B")
        out = self._decode(gif)
        assert out["format"] == "gif"
        assert (out["width"], out["height"]) == (2, 2)
        # pixels 0,1,1,0 over black/white -> mean 127.5 each channel
        assert out["mean_rgb"] == [127.5, 127.5, 127.5]

    def test_roundtrip_with_dict_growth(self):
        import numpy as np
        rng = np.random.RandomState(3)
        w, h = 13, 9
        palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
        pixels = rng.randint(0, 4, size=w * h).tolist()
        out = self._decode(self._encode_gif(w, h, palette, pixels))
        assert out["format"] == "gif"
        assert (out["width"], out["height"]) == (w, h)
        px = np.array(palette)[np.array(pixels).reshape(h, w)]
        want = [round(float(px[:, :, c].mean()), 4) for c in range(3)]
        assert out["mean_rgb"] == want

    def test_interlaced(self):
        import numpy as np
        w, h = 4, 8
        palette = [(i * 16, i * 16, i * 16) for i in range(16)]
        # display image: row r is constant value r
        display = [[r] * w for r in range(h)]
        from pincette_json_streams_spark.functions.multimodal import (
            _gif_deinterlace_rows,
        )
        order = _gif_deinterlace_rows(h)
        stored = []
        for r in order:
            stored += display[r]
        out = self._decode(
            self._encode_gif(w, h, palette, stored, interlaced=True))
        assert out["format"] == "gif"
        # deinterlaced luma rises monotonically row by row: overall mean
        # equals the plain-row mean
        px = np.array(palette)[np.array(display)]
        want = [round(float(px[:, :, c].mean()), 4) for c in range(3)]
        assert out["mean_rgb"] == want

    def test_extension_blocks_skipped(self):
        import struct
        base = self._encode_gif(2, 1, [(9, 9, 9), (200, 10, 10)], [0, 1])
        # splice a graphics-control extension between header and image
        gce = b"\x21\xF9\x04\x00\x00\x00\x00\x00"
        idx = base.index(b"\x2C")
        gif = base[:idx] + gce + base[idx:]
        out = self._decode(gif)
        assert out["format"] == "gif"
        assert out["width"] == 2

    def test_truncated_returns_nulls(self):
        blob = self._encode_gif(4, 4, [(0, 0, 0), (1, 1, 1)],
                                [0, 1] * 8)[:20]
        out = self._decode(blob)
        assert out["format"] is None


class TestSemanticDedup:
    """SemDeDup-shaped cluster-bounded dedup — functions/similarity.py."""

    def test_drops_within_cluster_only(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            semantic_dedup,
        )
        # two well-separated clusters along axes 0 and 1; ids 1/2 are
        # near-identical in cluster A, id 20 is a near-copy of 21 in B,
        # id 22 points the other way (kept)
        vecs = [
            (1,  [1.0, 0.02, 0.0]),
            (2,  [1.0, 0.03, 0.0]),   # dup of 1 (same cluster)
            (3,  [0.9, -0.4, 0.1]),   # same cluster, dissimilar enough
            (20, [0.0, 1.0, 0.05]),
            (21, [0.0, 1.0, 0.06]),   # dup of 20
            (22, [0.3, 0.7, -0.6]),
        ]
        df = spark.createDataFrame(
            [(i, v) for i, v in vecs], "vec_id long, embedding array<double>")
        cent = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
            "cluster_id long, centroid array<double>")
        out = {r["vec_id"]: r for r in
               semantic_dedup(df, cent, threshold=0.95).collect()}
        assert out[1]["keep"] and not out[2]["keep"]
        assert out[3]["keep"]
        assert out[20]["keep"] and not out[21]["keep"]
        assert out[22]["keep"]
        assert out[1]["cluster_id"] == out[2]["cluster_id"] == 0
        assert out[20]["cluster_id"] == 1

    def test_cross_cluster_dups_survive(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            semantic_dedup,
        )
        # identical vectors forced into different clusters by
        # tie-breaking? No -- assignment is deterministic, so place two
        # identical vectors and two centroids so each vector is
        # equidistant; the min-cluster_id tie-break puts BOTH in cluster
        # 0 and the dup IS caught.  The cluster-boundary miss case needs
        # genuinely different nearest centroids:
        df = spark.createDataFrame(
            [(1, [1.0, 0.09]), (2, [0.09, 1.0])],
            "vec_id long, embedding array<double>")
        cent = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
            "cluster_id long, centroid array<double>")
        out = {r["vec_id"]: r for r in
               semantic_dedup(df, cent, threshold=0.1).collect()}
        # cosine(v1,v2) ~ 0.178 >= 0.1, but they live in different
        # clusters -> both kept (the documented SemDeDup trade-off)
        assert out[1]["keep"] and out[2]["keep"]
        assert out[1]["cluster_id"] != out[2]["cluster_id"]


class _JpegTestEncoder:
    """Minimal baseline JPEG encoder (test fixture only, ITU-T.81):
    forward DCT + uniform quant, canonical Huffman tables BUILT FROM
    the emitted symbol set (written to DHT, so the decoder's table
    construction is exercised for real), byte stuffing, 4:4:4 / 4:2:0 /
    grayscale, optional restart intervals."""

    def __init__(self, quant=1):
        import numpy as np
        self.q = int(quant)
        x, u = np.meshgrid(np.arange(8), np.arange(8))
        M = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
        M[0, :] /= np.sqrt(2.0)
        self.M = M
        from pincette_json_streams_spark.functions.multimodal import (
            _JPEG_ZIGZAG,
        )
        self.zz = _JPEG_ZIGZAG

    # ---- plane / block helpers -------------------------------------
    def _planes(self, img, subsample):
        import numpy as np
        img = np.asarray(img, dtype=np.float64)
        if img.ndim == 2:
            return [img], [(1, 1)]
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample == "420":
            def half(p):
                hh = (p.shape[0] + 1) // 2 * 2
                ww = (p.shape[1] + 1) // 2 * 2
                pp = np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])),
                            mode="edge")
                return (pp[0::2, 0::2] + pp[1::2, 0::2]
                        + pp[0::2, 1::2] + pp[1::2, 1::2]) / 4.0
            return [y, half(cb), half(cr)], [(2, 2), (1, 1), (1, 1)]
        return [y, cb, cr], [(1, 1), (1, 1), (1, 1)]

    def _blocks(self, planes, samps, w, h):
        """Yield (comp_index, block 8x8) in interleaved MCU order."""
        import numpy as np
        hmax = max(s[0] for s in samps)
        vmax = max(s[1] for s in samps)
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        padded = []
        for p, (sh, sv) in zip(planes, samps):
            ph, pw = mcuy * 8 * sv, mcux * 8 * sh
            padded.append(np.pad(
                p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                mode="edge"))
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (p, (sh, sv)) in enumerate(zip(padded, samps)):
                    for vy in range(sv):
                        for vx in range(sh):
                            py, px = (my * sv + vy) * 8, (mx * sh + vx) * 8
                            yield ci, p[py:py + 8, px:px + 8]
        self._mcu_count = mcux * mcuy

    def _symbols(self, blocks, ncomp, blocks_per_mcu=None, restart=0):
        """Quantized coefficients -> (dc_syms, ac_syms, per-block code
        stream [(kind, sym, extra_bits, nbits)]).  DC predictors reset
        at restart-interval boundaries (spec F.1.2.1.3)."""
        import numpy as np
        pred = [0] * ncomp
        stream = []
        dc_used, ac_used = set(), set()
        for bi, (ci, blk) in enumerate(blocks):
            if (restart and blocks_per_mcu and bi
                    and bi % blocks_per_mcu == 0
                    and (bi // blocks_per_mcu) % restart == 0):
                pred = [0] * ncomp
            coef = self.M @ (blk - 128.0) @ self.M.T
            qc = np.round(coef / self.q).astype(np.int64)
            seq = qc.reshape(64)[self.zz]
            diff = int(seq[0]) - pred[ci]
            pred[ci] = int(seq[0])
            t = int(abs(diff)).bit_length()
            dc_used.add(t)
            stream.append(("dc", ci, t, diff))
            run = 0
            last_nz = max(
                [k for k in range(1, 64) if seq[k]] or [0])
            for k in range(1, 64):
                v = int(seq[k])
                if k > last_nz:
                    ac_used.add(0x00)
                    stream.append(("ac", ci, 0x00, 0))
                    break
                if v == 0:
                    run += 1
                    if run == 16:
                        ac_used.add(0xF0)
                        stream.append(("ac", ci, 0xF0, 0))
                        run = 0
                    continue
                s = int(abs(v)).bit_length()
                sym = (run << 4) | s
                ac_used.add(sym)
                stream.append(("ac", ci, sym, v))
                run = 0
            else:
                if int(seq[63]) != 0:
                    pass  # block ended on a nonzero coef: no EOB needed
        return sorted(dc_used), sorted(ac_used), stream

    @staticmethod
    def _canon_table(symbols):
        """All codes at one length L with n <= 2^L - 1 (keeps the
        all-ones code unused, as the spec requires for padding)."""
        n = len(symbols)
        L = max((n + 1 - 1).bit_length(), 1)
        while (1 << L) - 1 < n:
            L += 1
        counts = [0] * 16
        counts[L - 1] = n
        codes = {sym: (L, i) for i, sym in enumerate(symbols)}
        return counts, list(symbols), codes

    def encode(self, img, subsample="444", restart=0):
        import struct
        import numpy as np
        img = np.asarray(img)
        h, w = img.shape[:2]
        planes, samps = self._planes(img, subsample)
        ncomp = len(planes)
        blocks = list(self._blocks(planes, samps, w, h))
        bpm = sum(sh * sv for sh, sv in samps)
        dc_syms, ac_syms, stream = self._symbols(
            blocks, ncomp, blocks_per_mcu=bpm, restart=restart)
        dc_counts, dc_list, dc_codes = self._canon_table(dc_syms)
        ac_counts, ac_list, ac_codes = self._canon_table(ac_syms)

        # --- bit writer with stuffing and restart support ----------
        out = bytearray()
        acc, nb = 0, 0

        def put(code, size):
            nonlocal acc, nb
            acc = (acc << size) | (code & ((1 << size) - 1))
            nb += size
            while nb >= 8:
                byte = (acc >> (nb - 8)) & 0xFF
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)
                nb -= 8

        def flush():
            nonlocal acc, nb
            if nb:
                put((1 << (8 - nb)) - 1, 8 - nb)

        def put_val(v, t):
            if t:
                put(v if v >= 0 else v + (1 << t) - 1, t)

        # group stream into per-MCU runs for restart markers,
        # splitting on DC-symbol counts (one DC per block)
        blocks_per_mcu = bpm
        mcu_streams = [[]]
        dc_seen = 0
        for item in stream:
            if item[0] == "dc":
                if dc_seen and dc_seen % blocks_per_mcu == 0 \
                        and restart and \
                        (dc_seen // blocks_per_mcu) % restart == 0:
                    mcu_streams.append([])
                dc_seen += 1
            mcu_streams[-1].append(item)

        payload = bytearray()
        for si, seg in enumerate(mcu_streams):
            out = bytearray()
            acc, nb = 0, 0
            for kind, ci, sym, v in seg:
                codes = dc_codes if kind == "dc" else ac_codes
                L, c = codes[sym]
                put(c, L)
                if kind == "dc":
                    put_val(v, sym)
                elif sym not in (0x00, 0xF0):
                    put_val(v, sym & 15)
            flush()
            payload += out
            if si < len(mcu_streams) - 1:
                payload += bytes([0xFF, 0xD0 + (si % 8)])

        # --- segments ----------------------------------------------
        def seg(marker, body):
            return bytes([0xFF, marker]) + struct.pack(
                ">H", len(body) + 2) + body

        qt = np.zeros(64, np.int64)
        qt[self.zz] = self.q  # uniform: zigzag order == same values
        dqt = seg(0xDB, bytes([0x00]) + bytes(
            int(x) for x in np.full(64, self.q)))
        sof_comps = b"".join(
            bytes([i + 1, (sh << 4) | sv, 0])
            for i, (sh, sv) in enumerate(samps))
        sof = seg(0xC0, struct.pack(">BHHB", 8, h, w, ncomp) + sof_comps)
        dht = seg(0xC4, bytes([0x00]) + bytes(dc_counts) + bytes(dc_list))
        dht += seg(0xC4, bytes([0x10]) + bytes(ac_counts) + bytes(ac_list))
        sos_comps = b"".join(bytes([i + 1, 0x00])
                             for i in range(ncomp))
        sos = seg(0xDA, bytes([ncomp]) + sos_comps + b"\x00\x3f\x00")
        dri = seg(0xDD, struct.pack(">H", restart)) if restart else b""
        return (b"\xff\xd8" + dqt + sof + dht + dri + sos
                + bytes(payload) + b"\xff\xd9")


class TestJpegDecode:
    """Real baseline JPEG decode — functions/multimodal.py."""

    def _decode(self, blob):
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image,
        )
        return _decode_image(blob, 16)

    def _decode_px(self, blob):
        from pincette_json_streams_spark.functions.multimodal import (
            _jpeg_decode,
        )
        return _jpeg_decode(blob)

    def test_flat_gray_block_exact(self):
        import numpy as np
        img = np.full((8, 8), 128, np.uint8)
        out = self._decode(_JpegTestEncoder().encode(img))
        assert out["format"] == "jpeg"
        assert (out["width"], out["height"]) == (8, 8)
        # flat 128: every DCT coefficient is 0 -> exact reconstruction
        assert out["mean_rgb"] == [128.0, 128.0, 128.0]

    def test_gray_gradient_roundtrip(self):
        import numpy as np
        img = np.linspace(0, 255, 24 * 16).reshape(24, 16)\
            .round().astype(np.uint8)
        px = self._decode_px(_JpegTestEncoder().encode(img))
        assert px.shape == (24, 16, 3)
        # uniform quant=1: reconstruction within DCT rounding error
        assert np.abs(px[:, :, 0].astype(int) - img.astype(int)).max() <= 2

    def test_color_444_roundtrip(self):
        import numpy as np
        rng = np.random.RandomState(11)
        img = rng.randint(0, 256, (16, 24, 3)).astype(np.uint8)
        # smooth it so chroma subsampling error doesn't dominate
        img = (img // 4 + 96).astype(np.uint8)
        px = self._decode_px(_JpegTestEncoder().encode(img, "444"))
        assert np.abs(px.astype(int) - img.astype(int)).max() <= 4

    def test_color_420_roundtrip(self):
        import numpy as np
        # smooth gradient: 4:2:0 chroma loss stays small
        yy, xx = np.mgrid[0:32, 0:48]
        img = np.dstack([
            (xx * 5) % 256, (yy * 3) % 256, ((xx + yy) * 2) % 256,
        ]).astype(np.uint8)
        img = (img // 2 + 64).astype(np.uint8)
        px = self._decode_px(_JpegTestEncoder().encode(img, "420"))
        assert px.shape == (32, 48, 3)
        err = np.abs(px.astype(int) - img.astype(int)).mean()
        assert err < 8.0

    def test_odd_dimensions(self):
        import numpy as np
        img = np.full((19, 13, 3), 200, np.uint8)
        out = self._decode(_JpegTestEncoder().encode(img, "420"))
        assert (out["width"], out["height"]) == (13, 19)
        assert abs(out["mean_rgb"][0] - 200.0) <= 1.0

    def test_restart_markers(self):
        import numpy as np
        img = np.linspace(0, 255, 32 * 32).reshape(32, 32)\
            .round().astype(np.uint8)
        blob = _JpegTestEncoder().encode(img, restart=2)
        assert b"\xff\xd0" in blob       # RST0 actually present
        px = self._decode_px(blob)
        assert np.abs(px[:, :, 0].astype(int) - img.astype(int)).max() <= 2

    def test_quantized_compression(self):
        import numpy as np
        yy, xx = np.mgrid[0:16, 0:16]
        img = ((xx + yy) * 8 % 256).astype(np.uint8)
        px = self._decode_px(_JpegTestEncoder(quant=16).encode(img))
        # coarse quant: lossy but recognizably close
        assert np.abs(px[:, :, 0].astype(int) - img.astype(int)).mean() < 16

    def test_malformed_progressive_rejected(self):
        # flipping SOF0 -> SOF2 leaves a baseline SOS header
        # (Ss=0, Se=63) that is invalid as a progressive DC scan:
        # the decoder must reject it to NULL fields, not crash
        import numpy as np
        blob = bytearray(_JpegTestEncoder().encode(
            np.full((8, 8), 99, np.uint8)))
        idx = blob.index(b"\xff\xc0")
        blob[idx + 1] = 0xC2             # flip SOF0 -> SOF2
        out = self._decode(bytes(blob))
        assert out["format"] is None     # honest NULLs, no crash

    def test_lossless_sof_rejected(self):
        import numpy as np
        blob = bytearray(_JpegTestEncoder().encode(
            np.full((8, 8), 99, np.uint8)))
        idx = blob.index(b"\xff\xc0")
        blob[idx + 1] = 0xC3             # SOF3 lossless: unsupported
        out = self._decode(bytes(blob))
        assert out["format"] is None


class TestRound3Properties:
    """Property tests for the round-3 operators."""

    def test_jpeg_roundtrip_random(self):
        """Property: decode(encode(img)) stays within DCT rounding error
        at quant=1 for arbitrary gray content (driver-side, no Spark)."""
        import numpy as np
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.multimodal import (
            _jpeg_decode,
        )

        @settings(max_examples=10, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.integers(1, 3), st.integers(1, 3),
               st.integers(0, 2 ** 31 - 1))
        def check(bw, bh, seed):
            rng = np.random.RandomState(seed)
            img = rng.randint(0, 256, (bh * 8, bw * 8), dtype=np.uint8)
            px = _jpeg_decode(_JpegTestEncoder().encode(img))
            assert np.abs(
                px[:, :, 0].astype(int) - img.astype(int)).max() <= 2

        check()

    def test_gif_roundtrip_random(self):
        """Property: GIF LZW decode inverts the literal-code encoder for
        arbitrary palettes/dimensions, exact pixel equality."""
        import numpy as np
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image,
        )

        @settings(max_examples=10, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.integers(1, 12), st.integers(1, 12),
               st.integers(2, 8), st.integers(0, 2 ** 31 - 1))
        def check(w, h, ncol, seed):
            rng = np.random.RandomState(seed)
            palette = [tuple(int(x) for x in rng.randint(0, 256, 3))
                       for _ in range(ncol)]
            pixels = rng.randint(0, ncol, w * h).tolist()
            out = _decode_image(
                TestGifDecode._encode_gif(w, h, palette, pixels), 16)
            assert out["format"] == "gif"
            px = np.array(palette)[np.array(pixels).reshape(h, w)]
            want = [round(float(px[:, :, c].mean()), 4) for c in range(3)]
            assert out["mean_rgb"] == want

        check()

    def test_duplicate_spans_matches_reference(self, spark):
        """Property: duplicate_spans equals a brute-force pure-Python
        reference (window sets + interval merge) on random corpora."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from pincette_json_streams_spark.functions.text import (
            duplicate_spans,
        )

        word = st.sampled_from(list("abcdefg"))
        doc = st.lists(word, min_size=1, max_size=20)

        @settings(max_examples=5, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.lists(doc, min_size=2, max_size=6), st.integers(2, 4))
        def check(docs, width):
            texts = [" ".join(d) for d in docs]
            # pure-python reference
            wins = {}
            per_doc = []
            for i, d in enumerate(docs):
                n = len(d)
                starts = list(range(max(n - width + 1, 1)))
                ws = [" ".join(d[s:s + width]) for s in starts]
                per_doc.append((n, ws))
                for wd in set(ws):
                    wins.setdefault(wd, set()).add(i)
            expect = {}
            for i, (n, ws) in enumerate(per_doc):
                dup_starts = [s for s, wd in enumerate(ws)
                              if len(wins[wd]) >= 2]
                spans = []
                for s in dup_starts:
                    e = min(s + width, n)
                    if spans and s <= spans[-1][1]:
                        spans[-1] = (spans[-1][0], max(spans[-1][1], e))
                    else:
                        spans.append((s, e))
                cov = sum(e - s for s, e in spans)
                expect[i] = (n, len(ws), len(dup_starts), len(spans), cov)
            df = spark.createDataFrame(
                list(enumerate(texts)), "doc_id long, text string")
            got = {r["doc_id"]: (r["n_tokens"], r["n_windows"],
                                 r["dup_windows"], r["n_spans"],
                                 r["dup_tokens"])
                   for r in duplicate_spans(df, width=width).collect()}
            assert got == expect

        check()

    def test_zorder_axis_monotonic(self, spark):
        """Property: with one coordinate fixed, the Morton key is
        monotonic in the other coordinate (per-axis order preserved)."""
        from pincette_json_streams_spark.functions.layout import zorder_key
        n = 16
        rows = [(x, 7) for x in range(n)] + [(3, y) for y in range(n)]
        df = spark.createDataFrame(rows, "x int, y int")
        out = zorder_key(df, ["x", "y"], bits=4).collect()
        along_x = sorted(
            ((r["x"], r["zkey"]) for r in out if r["y"] == 7))
        assert [z for _, z in along_x] == sorted(
            z for _, z in along_x)
        along_y = sorted(
            ((r["y"], r["zkey"]) for r in out if r["x"] == 3))
        assert [z for _, z in along_y] == sorted(
            z for _, z in along_y)

    def test_normalize_url_idempotent_random(self, spark):
        """Property: normalize_url is idempotent over randomized URL
        shapes (case, ports, params, fragments)."""
        import random
        from pincette_json_streams_spark.functions.web import normalize_url
        rng = random.Random(42)
        urls = []
        for _ in range(60):
            scheme = rng.choice(["http", "HTTPS", "https", "HTTP"])
            host = rng.choice(["A.b.C", "www.X.io", "h-1.example.COM"])
            port = rng.choice(["", ":80", ":443", ":8080"])
            path = rng.choice(["", "/", "/a/B", "/a//b/", "/x" * 3])
            params = "&".join(rng.sample(
                ["a=1", "B=2", "utm_source=x", "gclid=9", "z", ""],
                rng.randint(0, 5)))
            frag = rng.choice(["", "#f", "#sec-2"])
            urls.append(
                f"{scheme}://{host}{port}{path}"
                + (f"?{params}" if params else "") + frag)
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = [r["u"] for r in
                df.select(normalize_url(F.col("url")).alias("u")).collect()]
        df2 = spark.createDataFrame([(u,) for u in once], "url string")
        twice = [r["u"] for r in
                 df2.select(normalize_url(F.col("url")).alias("u"))
                 .collect()]
        assert once == twice


class TestCmsAndWeightedSample:
    """Count-min sketch + A-ES weighted sampling."""

    def test_cms_never_underestimates(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            cms_estimate, cms_sketch,
        )
        import random
        rng = random.Random(5)
        vals = [f"tok{rng.randint(0, 40)}" for _ in range(2000)]
        df = spark.createDataFrame([(v,) for v in vals], "v string")
        sketch = cms_sketch(df, "v", depth=4, width=64)
        # sketch size is bounded by depth*width regardless of input
        assert sketch.count() <= 4 * 64
        exact = {}
        for v in vals:
            exact[v] = exact.get(v, 0) + 1
        probe = spark.createDataFrame(
            [(v,) for v in exact], "v string")
        est = {r["v"]: r["est"] for r in
               cms_estimate(sketch, probe, "v", depth=4, width=64)
               .collect()}
        n = len(vals)
        for v, c in exact.items():
            assert est[v] >= c                      # CMS guarantee
            assert est[v] <= c + 2 * n / 64 * 4     # loose error bound

    def test_cms_merge_equals_whole(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            cms_merge, cms_sketch,
        )
        df = spark.createDataFrame(
            [(f"t{i % 7}",) for i in range(300)], "v string")
        a = df.limit(120)
        b = df.offset(120)
        merged = {(r["d"], r["b"]): r["cnt"] for r in cms_merge(
            cms_sketch(a, "v", 3, 32), cms_sketch(b, "v", 3, 32)
        ).collect()}
        whole = {(r["d"], r["b"]): r["cnt"] for r in
                 cms_sketch(df, "v", 3, 32).collect()}
        assert merged == whole                      # mergeability

    def test_weighted_sample_deterministic_and_biased(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            weighted_sample,
        )
        rows = [(i, "g", 1000.0 if i < 10 else 0.001)
                for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, g string, w double")
        got1 = sorted(r["doc_id"] for r in
                      weighted_sample(df, "w", 8, group_col="g").collect())
        got2 = sorted(r["doc_id"] for r in
                      weighted_sample(df, "w", 8, group_col="g").collect())
        assert got1 == got2                         # rerun-stable
        # weight 1000 vs 0.001: the heavy ids dominate the sample
        assert sum(1 for i in got1 if i < 10) >= 7

    def test_weighted_sample_excludes_nonpositive(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            weighted_sample,
        )
        df = spark.createDataFrame(
            [(1, 0.0), (2, -3.0), (3, 2.0)], "doc_id long, w double")
        got = [r["doc_id"] for r in
               weighted_sample(df, "w", 10).collect()]
        assert got == [3]


class TestLake:
    """Write-side lake layout — sources/lake.py."""

    @pytest.fixture(scope="class")
    def lineitem(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet")

    def test_partitioned_write_and_manifest(self, spark, lineitem,
                                            tmp_path_factory):
        from pincette_json_streams_spark.sources.lake import (
            dataset_manifest, write_dataset,
        )
        out = str(tmp_path_factory.mktemp("lake") / "ds")
        man = write_dataset(
            lineitem, out, partition_by=["l_returnflag"],
            zorder=["l_orderkey", "l_partkey"], files_per_partition=6,
        )
        # hive dirs per flag value
        import os
        flags = sorted(d.split("=")[1] for d in os.listdir(out)
                       if d.startswith("l_returnflag="))
        assert flags == ["A", "N", "R"]
        assert man["rows"] == lineitem.count()
        assert man["n_files"] >= 3
        # stored manifest round-trips
        man2 = dataset_manifest(out)
        assert man2["rows"] == man["rows"]
        # partition pruning reaches the plan
        df = spark.read.parquet(out).filter(F.col("l_returnflag") == "A")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan

    def test_zorder_improves_prune_fraction(self, spark, lineitem,
                                            tmp_path_factory):
        from pincette_json_streams_spark.sources.lake import (
            prune_report, write_dataset,
        )
        base = tmp_path_factory.mktemp("lake2")
        clustered = write_dataset(
            lineitem, str(base / "clustered"),
            zorder=["l_orderkey", "l_partkey"], files_per_partition=8,
        )
        shuffled = write_dataset(
            lineitem.repartition(8), str(base / "shuffled"),
        )
        # narrow range on ONE of the clustered columns
        keys = [r["l_orderkey"] for r in
                lineitem.select("l_orderkey").collect()]
        lo = sorted(keys)[0]
        hi = sorted(keys)[len(keys) // 20]          # ~5% of the domain
        pred = {"l_orderkey": (lo, hi)}
        c = prune_report(clustered, pred)
        s = prune_report(shuffled, pred)
        assert c["files_total"] >= 4
        assert c["files_skipped"] >= 1
        assert c["skip_fraction"] > s["skip_fraction"]
        # pruning is SAFE: surviving files hold every matching row
        import pyarrow.parquet as pq
        from pathlib import Path
        matches = 0
        for f in c["kept"]:
            t = pq.read_table(Path(str(base / "clustered")) / f,
                              columns=["l_orderkey"])
            matches += sum(1 for v in t.column(0).to_pylist()
                           if lo <= v <= hi)
        want = sum(1 for v in keys if lo <= v <= hi)
        assert matches == want

    def test_prune_report_partition_column(self, spark, lineitem,
                                           tmp_path_factory):
        from pincette_json_streams_spark.sources.lake import (
            prune_report, write_dataset,
        )
        out = str(tmp_path_factory.mktemp("lake3") / "ds")
        man = write_dataset(lineitem, out,
                            partition_by=["l_returnflag"])
        rep = prune_report(man, {"l_returnflag": ("A", "A")})
        assert rep["files_skipped"] >= 1
        assert all("l_returnflag=A" in f for f in rep["kept"])


class _JpegProgressiveTestEncoder(_JpegTestEncoder):
    """Progressive (SOF2) test encoder: DC first/refine + per-component
    AC first/refine with EOB-run accumulation and Al=1->0 successive
    approximation — enough scan-script variety to exercise every
    branch of the progressive decoder."""

    def _coef_blocks(self, planes, samps, w, h):
        """Per-comp dict: padded block grid of zigzag quantized coefs."""
        import numpy as np
        hmax = max(s[0] for s in samps)
        vmax = max(s[1] for s in samps)
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        out = []
        for p, (sh, sv) in zip(planes, samps):
            ph, pw = mcuy * 8 * sv, mcux * 8 * sh
            pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                        mode="edge")
            grid = np.zeros((ph // 8, pw // 8, 64), np.int64)
            for by in range(ph // 8):
                for bx in range(pw // 8):
                    blk = pp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                    coef = self.M @ (blk - 128.0) @ self.M.T
                    qc = np.round(coef / self.q).astype(np.int64)
                    grid[by, bx] = qc.reshape(64)[self.zz]
            out.append(grid)
        return out, mcux, mcuy

    def encode_progressive(self, img, subsample="444"):
        import struct
        import numpy as np
        img = np.asarray(img)
        h, w = img.shape[:2]
        planes, samps = self._planes(img, subsample)
        ncomp = len(planes)
        grids, mcux, mcuy = self._coef_blocks(planes, samps, w, h)
        hmax = max(s[0] for s in samps)
        vmax = max(s[1] for s in samps)

        def used_blocks(ci):
            sh, sv = samps[ci]
            cw = -(-w * sh // hmax)
            ch = -(-h * sv // vmax)
            return -(-ch // 8), -(-cw // 8)

        # ---- emission core: run once collecting, once writing -------
        class Sink:
            def __init__(self, dc_codes=None, ac_codes=None):
                self.dc_syms, self.ac_syms = set(), set()
                self.dc_codes, self.ac_codes = dc_codes, ac_codes
                self.out = bytearray()
                self.acc = 0
                self.nb = 0

            def bit(self, v):
                self.put_raw(v & 1, 1)

            def put_raw(self, code, size):
                if self.dc_codes is None:
                    return
                self.acc = (self.acc << size) | (code & ((1 << size) - 1))
                self.nb += size
                while self.nb >= 8:
                    byte = (self.acc >> (self.nb - 8)) & 0xFF
                    self.out.append(byte)
                    if byte == 0xFF:
                        self.out.append(0x00)
                    self.nb -= 8

            def huff(self, table, sym):
                (self.dc_syms if table == "dc" else self.ac_syms).add(sym)
                if self.dc_codes is not None:
                    codes = (self.dc_codes if table == "dc"
                             else self.ac_codes)
                    L, c = codes[sym]
                    self.put_raw(c, L)

            def val(self, v, t):
                if t:
                    self.put_raw(
                        v if v >= 0 else v + (1 << t) - 1, t)

            def flush(self):
                if self.dc_codes is not None and self.nb:
                    self.put_raw((1 << (8 - self.nb)) - 1, 8 - self.nb)

        def dc_first(s):
            pred = [0] * ncomp
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in range(ncomp):
                        sh, sv = samps[ci]
                        for vy in range(sv):
                            for vx in range(sh):
                                dc = int(grids[ci][my * sv + vy,
                                                   mx * sh + vx, 0]) >> 1
                                diff = dc - pred[ci]
                                pred[ci] = dc
                                t = abs(diff).bit_length()
                                s.huff("dc", t)
                                s.val(diff, t)
            s.flush()

        def dc_refine(s):
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci in range(ncomp):
                        sh, sv = samps[ci]
                        for vy in range(sv):
                            for vx in range(sh):
                                s.bit(int(grids[ci][my * sv + vy,
                                                    mx * sh + vx, 0]))
            s.flush()

        def ac_first(s, ci):
            bh, bw = used_blocks(ci)
            eobrun = 0

            def flush_eob():
                nonlocal eobrun
                while eobrun:
                    r = min(eobrun.bit_length() - 1, 14)
                    s.huff("ac", r << 4)
                    if r:
                        s.put_raw(eobrun - (1 << r), r)
                    eobrun = 0
            for by in range(bh):
                for bx in range(bw):
                    seq = grids[ci][by, bx]
                    red = [
                        (1 if v > 0 else -1) * (abs(int(v)) >> 1)
                        for v in seq
                    ]
                    nz = [k for k in range(1, 64) if red[k]]
                    if not nz:
                        eobrun += 1
                        if eobrun == (1 << 14):
                            flush_eob()
                        continue
                    flush_eob()
                    run = 0
                    for k in range(1, 64):
                        v = red[k]
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            s.huff("ac", 0xF0)
                            run -= 16
                        t = abs(v).bit_length()
                        s.huff("ac", (run << 4) | t)
                        s.val(v, t)
                        run = 0
                    if run:
                        eobrun += 1
            flush_eob()
            s.flush()

        def ac_refine_block(seq, s):
            # Mirrors the decoder traversal exactly: correction bits
            # are emitted in the positions the decoder consumes them —
            # per ZRL 16-zero span, per coded-symbol span, and in the
            # EOB tail.  (A previously-significant coefficient has
            # |v| >= 2; a newly-significant one |v| == 1.)
            k = 1
            while True:
                n = next((j for j in range(k, 64)
                          if abs(int(seq[j])) == 1), None)
                if n is None:
                    rem_corr = [j for j in range(k, 64)
                                if abs(int(seq[j])) >= 2]
                    rem_zero = any(int(seq[j]) == 0
                                   for j in range(k, 64))
                    if rem_corr or rem_zero:
                        s.huff("ac", 0x00)       # EOB (run 1)
                        for j in rem_corr:
                            s.bit(abs(int(seq[j])) & 1)
                    return
                r = sum(1 for j in range(k, n) if int(seq[j]) == 0)
                while r > 15:
                    s.huff("ac", 0xF0)           # ZRL: 16-zero span
                    zeros = 0
                    while zeros < 16:
                        if int(seq[k]) != 0:
                            s.bit(abs(int(seq[k])) & 1)
                        else:
                            zeros += 1
                        k += 1
                    r -= 16
                s.huff("ac", (r << 4) | 1)
                s.bit(1 if int(seq[n]) > 0 else 0)
                for j in range(k, n):
                    if int(seq[j]) != 0:
                        s.bit(abs(int(seq[j])) & 1)
                k = n + 1
                if k > 63:
                    return

        def ac_refine(s, ci):
            bh, bw = used_blocks(ci)
            for by in range(bh):
                for bx in range(bw):
                    ac_refine_block(grids[ci][by, bx], s)
            s.flush()

        scans = [("dc_first", None, 0, 0, 0, 1),
                 ("dc_refine", None, 0, 0, 1, 0)]
        for ci in range(ncomp):
            scans.append(("ac_first", ci, 1, 63, 0, 1))
        for ci in range(ncomp):
            scans.append(("ac_refine", ci, 1, 63, 1, 0))

        def run_scan(kind, ci, s):
            if kind == "dc_first":
                dc_first(s)
            elif kind == "dc_refine":
                dc_refine(s)
            elif kind == "ac_first":
                ac_first(s, ci)
            else:
                ac_refine(s, ci)

        def seg(marker, body):
            return bytes([0xFF, marker]) + struct.pack(
                ">H", len(body) + 2) + body

        out = b"\xff\xd8"
        import numpy as np
        out += seg(0xDB, bytes([0x00]) + bytes(
            int(x) for x in np.full(64, self.q)))
        sof_comps = b"".join(
            bytes([i + 1, (sh << 4) | sv, 0])
            for i, (sh, sv) in enumerate(samps))
        out += seg(0xC2, struct.pack(">BHHB", 8, h, w, ncomp)
                   + sof_comps)
        for kind, ci, ss_, se_, ah_, al_ in scans:
            probe = Sink()
            run_scan(kind, ci, probe)
            dc_counts, dc_list, dc_codes = self._canon_table(
                sorted(probe.dc_syms) or [0])
            ac_counts, ac_list, ac_codes = self._canon_table(
                sorted(probe.ac_syms) or [0])
            writer = Sink(dc_codes, ac_codes)
            run_scan(kind, ci, writer)
            out += seg(0xC4, bytes([0x00]) + bytes(dc_counts)
                       + bytes(dc_list))
            out += seg(0xC4, bytes([0x10]) + bytes(ac_counts)
                       + bytes(ac_list))
            comps_in_scan = (range(ncomp) if kind.startswith("dc")
                             else [ci])
            sos_comps = b"".join(
                bytes([i + 1, 0x00]) for i in comps_in_scan)
            out += seg(0xDA, bytes([len(list(comps_in_scan))])
                       + sos_comps
                       + bytes([ss_, se_, (ah_ << 4) | al_]))
            out += bytes(writer.out)
        return out + b"\xff\xd9"


class TestJpegProgressive:
    """Progressive JPEG decode (SOF2, multi-scan)."""

    def _decode_px(self, blob):
        from pincette_json_streams_spark.functions.multimodal import (
            _jpeg_decode,
        )
        return _jpeg_decode(blob)

    def test_flat_gray(self):
        import numpy as np
        img = np.full((8, 8), 128, np.uint8)
        px = self._decode_px(
            _JpegProgressiveTestEncoder().encode_progressive(img))
        assert np.array_equal(px[:, :, 0], img)

    def test_gray_gradient(self):
        import numpy as np
        img = np.linspace(0, 255, 24 * 16).reshape(24, 16)\
            .round().astype(np.uint8)
        px = self._decode_px(
            _JpegProgressiveTestEncoder().encode_progressive(img))
        assert np.abs(px[:, :, 0].astype(int) - img.astype(int)).max() <= 2

    def test_color_444(self):
        import numpy as np
        rng = np.random.RandomState(23)
        img = (rng.randint(0, 256, (16, 24, 3)) // 4 + 96)\
            .astype(np.uint8)
        px = self._decode_px(
            _JpegProgressiveTestEncoder().encode_progressive(img, "444"))
        assert np.abs(px.astype(int) - img.astype(int)).max() <= 4

    def test_color_420_odd_dims(self):
        import numpy as np
        yy, xx = np.mgrid[0:19, 0:29]
        img = np.dstack([(xx * 5) % 256, (yy * 7) % 256,
                         ((xx + yy) * 3) % 256]).astype(np.uint8)
        img = (img // 2 + 64).astype(np.uint8)
        px = self._decode_px(
            _JpegProgressiveTestEncoder().encode_progressive(img, "420"))
        assert px.shape == (19, 29, 3)
        assert np.abs(px.astype(int) - img.astype(int)).mean() < 8.0

    def test_eob_runs_exercised(self):
        import numpy as np
        # mostly-flat image -> many all-zero-AC blocks -> EOBn > 1
        img = np.full((40, 40), 100, np.uint8)
        img[0, 0] = 255
        blob = _JpegProgressiveTestEncoder().encode_progressive(img)
        px = self._decode_px(blob)
        assert abs(int(px[20, 20, 0]) - 100) <= 2
        assert px[0, 0, 0] > 180

    def test_progressive_equals_baseline(self):
        import numpy as np
        rng = np.random.RandomState(77)
        img = (rng.randint(0, 256, (16, 16)) // 2 + 60).astype(np.uint8)
        base = self._decode_px(_JpegTestEncoder().encode(img))
        prog = self._decode_px(
            _JpegProgressiveTestEncoder().encode_progressive(img))
        # identical quantized coefficients -> identical reconstruction
        assert np.array_equal(base, prog)


class TestContainerProbe:
    """MP4 / WebP container probing — functions/multimodal.py."""

    @staticmethod
    def _box(typ, body):
        import struct
        return struct.pack(">I", len(body) + 8) + typ + body

    def _probe(self, blob):
        from pincette_json_streams_spark.functions.multimodal import (
            _probe_bytes,
        )
        return _probe_bytes(blob)

    def test_mp4_mvhd_tkhd(self):
        import struct
        B = self._box
        # mvhd v0: timescale 1000, duration 5000 ms
        mvhd = B(b"mvhd", bytes(12) + struct.pack(">II", 1000, 5000)
                 + bytes(80))
        # tkhd v0: width/height at offset 80 inside the body, 16.16
        tkhd = B(b"tkhd", bytes(80)
                 + struct.pack(">II", 640 << 16, 360 << 16))
        trak = B(b"trak", tkhd)
        moov = B(b"moov", mvhd + trak)
        ftyp = B(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        out = self._probe(ftyp + moov)
        assert out["format"] == "mp4"
        assert out["duration_ms"] == 5000
        assert (out["width"], out["height"]) == (640, 360)

    def test_mp4_v1_boxes(self):
        import struct
        B = self._box
        mvhd = B(b"mvhd", b"\x01" + bytes(19)
                 + struct.pack(">IQ", 90000, 90000 * 7) + bytes(80))
        moov = B(b"moov", mvhd)
        out = self._probe(B(b"ftyp", b"mp42mp42") + moov)
        assert out["format"] == "mp4"
        assert out["duration_ms"] == 7000

    def test_webp_vp8x_and_vp8l(self):
        hdr = b"RIFF" + b"\x00\x00\x00\x00" + b"WEBP"
        vp8x = (b"VP8X" + b"\x0a\x00\x00\x00" + b"\x00" * 4
                + (799).to_bytes(3, "little")
                + (449).to_bytes(3, "little"))
        out = self._probe(hdr + vp8x)
        assert out["format"] == "webp"
        assert (out["width"], out["height"]) == (800, 450)
        bits = (63) | (127 << 14)          # w-1=63, h-1=127
        vp8l = (b"VP8L" + b"\x05\x00\x00\x00" + b"\x2f"
                + bits.to_bytes(4, "little"))
        out2 = self._probe(hdr + vp8l)
        assert (out2["width"], out2["height"]) == (64, 128)

    def test_truncated_mp4_safe(self):
        out = self._probe(b"\x00\x00\x00\x08ftyp")
        assert out["format"] == "mp4" and out["width"] is None


class TestAviFrames:
    """REAL MJPEG-in-AVI frame sampling — functions/multimodal.py."""

    @staticmethod
    def _avi(frames):
        import struct

        def chunk(cid, body):
            pad = b"\x00" if len(body) % 2 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        movi = b"movi" + b"".join(chunk(b"00dc", f) for f in frames)
        lst = chunk(b"LIST", movi)
        body = b"AVI " + lst
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_samples_decode_as_jpeg(self, spark):
        import numpy as np
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image, sample_frames,
        )
        enc = _JpegTestEncoder()
        shades = [60, 120, 180, 240, 30, 90]
        frames = [enc.encode(np.full((8, 8), s, np.uint8))
                  for s in shades]
        df = spark.createDataFrame(
            [(1, bytearray(self._avi(frames)))],
            "vid long, media binary")
        out = sample_frames(df, n_frames=3).collect()[0]["frames"]
        assert len(out) == 3
        idxs = [f["idx"] for f in out]
        assert idxs == sorted(set(idxs))          # evenly spaced, ordered
        for f in out:
            dec = _decode_image(bytes(f["frame"]), 16)
            assert dec["format"] == "jpeg"
            # each frame is flat: its mean equals the encoded shade
            assert abs(dec["mean_rgb"][0] - shades[f["idx"]]) <= 1.0

    def test_non_avi_falls_back_to_stub(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            sample_frames,
        )
        df = spark.createDataFrame(
            [(1, bytearray(b"\x00\x01\x02\x03" * 100))],
            "vid long, media binary")
        out = sample_frames(df).collect()[0]["frames"]
        assert len(out) == 4                      # stub slices

    def test_video_fingerprint_and_near_pairs(self, spark):
        """Video on the shared Hamming index: per sampled frame one
        64-bit dHash lane (REAL MJPEG-AVI decode), videos pair by
        matching frames through the banded index.  Identical-content
        videos pair on every sampled frame at distance 0; a
        structurally different video stays out; codec-stub payloads
        and NULLs emit NO rows (honest absence, not garbage
        lanes)."""
        import numpy as np

        from pincette_json_streams_spark.functions.multimodal import (
            video_fingerprint, video_near_pairs,
        )
        enc = _JpegTestEncoder()

        def grad(k):
            # roll the gradient by k columns: each frame index gets a
            # structurally DISTINCT image (distinct dHash), so a frame
            # matches only its counterpart in the duplicate video
            base = np.tile(np.arange(0, 256, 16, dtype=np.uint8),
                           (16, 1))[:, :16]
            return np.roll(base, k * 3, axis=1)

        va = [enc.encode(grad(k)) for k in range(4)]
        vb = [enc.encode(grad(k)) for k in range(4)]
        vc = [enc.encode(grad(k).T.copy()) for k in range(4)]
        df = spark.createDataFrame(
            [(1, bytearray(self._avi(va))),
             (2, bytearray(self._avi(vb))),
             (3, bytearray(self._avi(vc))),
             (4, bytearray(b"not a video" * 50)), (5, None)],
            "vid long, media binary")
        fps = video_fingerprint(df, n_frames=4).collect()
        got = sorted((r["vid"], r["frame_idx"]) for r in fps)
        assert got == [(v, i) for v in (1, 2, 3) for i in range(4)]
        assert all(r["dhash"] is not None for r in fps)
        pairs = [(r["vid_a"], r["vid_b"], r["matching_frames"],
                  r["min_hamming"])
                 for r in video_near_pairs(df, n_frames=4).collect()]
        assert pairs == [(1, 2, 4, 0)]
        # a corrupt frame inside a REAL container emits a NULL-dhash
        # row (honest, filterable); the good frames still pair
        vd = [va[0], b"\xff\xd8corrupt jpeg body", va[2], va[3]]
        df2 = spark.createDataFrame(
            [(1, bytearray(self._avi(va))),
             (6, bytearray(self._avi(vd)))],
            "vid long, media binary")
        fps2 = video_fingerprint(df2, n_frames=4).collect()
        by = {(r["vid"], r["frame_idx"]): r["dhash"] for r in fps2}
        assert by[(6, 1)] is None
        assert by[(6, 0)] == by[(1, 0)]
        p2 = [(r["vid_a"], r["vid_b"], r["matching_frames"])
              for r in video_near_pairs(df2, n_frames=4).collect()]
        assert p2 == [(1, 6, 3)]
        # string ids (URL-keyed corpora) ride the delimited frame key
        dfs = spark.createDataFrame(
            [("http://a/clip", bytearray(self._avi(va))),
             ("http://b/clip", bytearray(self._avi(vb))),
             ("http://c/clip", bytearray(self._avi(vc)))],
            "vid string, media binary")
        ps = [(r["vid_a"], r["vid_b"], r["matching_frames"],
               r["min_hamming"])
              for r in video_near_pairs(dfs, n_frames=4).collect()]
        assert ps == [("http://a/clip", "http://b/clip", 4, 0)]

    def test_packed_key_range_guard(self, spark):
        """The packed frame key (vid * 2^32 + frame_idx) is guarded:
        integer vids outside [0, 2^31) RAISE instead of shift-decoding
        to the wrong vid and emitting mis-attributed pairs (ADVICE
        r10); boundary vids just inside the range pack, join and
        decode correctly."""
        import numpy as np
        import pytest

        from pincette_json_streams_spark.functions.multimodal import (
            video_near_pairs,
        )
        enc = _JpegTestEncoder()
        base = np.tile(np.arange(0, 256, 16, dtype=np.uint8),
                       (16, 1))[:, :16]
        frames = [enc.encode(np.roll(base, k * 3, axis=1))
                  for k in range(2)]
        blob = bytearray(self._avi(frames))
        hi = (1 << 31) - 1
        df_ok = spark.createDataFrame(
            [(hi, blob), (hi - 1, blob)], "vid long, media binary")
        ok = [(r["vid_a"], r["vid_b"], r["matching_frames"])
              for r in video_near_pairs(df_ok, n_frames=2).collect()]
        assert ok == [(hi - 1, hi, 2)]
        for bad in (-1, 1 << 31):
            df_bad = spark.createDataFrame(
                [(bad, blob), (1, blob)], "vid long, media binary")
            with pytest.raises(Exception, match="packed key needs"):
                video_near_pairs(df_bad, n_frames=2).collect()


class TestDecoderFuzz:
    """Decoders must never crash on hostile bytes — NULL fields only
    (the executor-side contract: one bad asset can't fail a batch)."""

    def test_random_bytes_safe(self):
        import random
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image, _probe_bytes,
        )
        rng = random.Random(99)
        magics = [b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"GIF89a",
                  b"BM", b"RIFF", b"\x00\x00\x00\x18ftyp", b""]
        for trial in range(300):
            head = magics[trial % len(magics)]
            blob = head + bytes(rng.getrandbits(8)
                                for _ in range(rng.randint(0, 200)))
            out = _decode_image(blob, 16)
            assert set(out) == {"format", "width", "height",
                                "channels", "mean_rgb", "luma_hist"}
            _probe_bytes(blob)      # must not raise either

    def test_truncated_real_files_safe(self):
        import numpy as np
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image,
        )
        img = np.linspace(0, 255, 256).reshape(16, 16)\
            .round().astype(np.uint8)
        whole = _JpegTestEncoder().encode(img)
        prog = _JpegProgressiveTestEncoder().encode_progressive(img)
        gif = TestGifDecode._encode_gif(
            4, 4, [(0, 0, 0), (9, 9, 9)], [0, 1] * 8)
        for blob in (whole, prog, gif):
            for cut in range(0, len(blob), 7):
                out = _decode_image(blob[:cut], 16)
                assert "format" in out   # no exception escapes


class TestDecontaminateSpans:
    """Span-level benchmark decontamination — functions/text.py."""

    def test_strips_bench_spans_only(self, spark):
        from pincette_json_streams_spark.functions.text import (
            decontaminate_spans,
        )
        bench = spark.createDataFrame(
            [(100, "the secret benchmark answer is forty two")],
            "doc_id long, text string")
        train = spark.createDataFrame(
            [(1, "intro words the secret benchmark answer is forty two "
                 "outro words"),
             (2, "completely unrelated training content here today"),
             (3, "the secret benchmark answer is forty two")],
            "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               decontaminate_spans(train, bench, width=4).collect()}
        # doc 1: the 8-token contaminated run is stripped, context kept
        assert out[1]["text_clean"] == "intro words outro words"
        # doc 2 untouched
        assert out[2]["n_kept"] == out[2]["n_tokens"]
        # doc 3 is pure contamination -> fully stripped but present
        assert out[3]["n_kept"] == 0 and out[3]["text_clean"] == ""

    def test_benchmark_docs_not_in_output(self, spark):
        from pincette_json_streams_spark.functions.text import (
            decontaminate_spans,
        )
        bench = spark.createDataFrame(
            [(9, "a b c d")], "doc_id long, text string")
        train = spark.createDataFrame(
            [(1, "x y z w")], "doc_id long, text string")
        got = [r["doc_id"] for r in
               decontaminate_spans(train, bench, width=4).collect()]
        assert got == [1]


class TestBpe:
    """Distributed BPE tokenizer (functions/bpe.py): driver-side merge
    loop over the Spark word-frequency table, Arrow-batched encoding."""

    FREQS = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]

    def test_train_classic_example(self):
        from pincette_json_streams_spark.functions.bpe import train_bpe
        merges = train_bpe(self.FREQS, n_merges=5)
        # Sennrich et al. running example: es(9) -> est(9) -> est</w>(9)
        # -> lo(7) -> low(7); ties break (count desc, pair asc)
        assert merges == [("e", "s"), ("es", "t"), ("est", "</w>"),
                          ("l", "o"), ("lo", "w")]

    def test_train_deterministic(self):
        from pincette_json_streams_spark.functions.bpe import train_bpe
        assert train_bpe(self.FREQS, 8) == train_bpe(self.FREQS, 8)

    def test_encode_word_roundtrip_property(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pincette_json_streams_spark.functions.bpe import (
            EOW, _encode_word, train_bpe,
        )
        merges = train_bpe(self.FREQS, 6)
        ranks = {tuple(p): i for i, p in enumerate(merges)}

        @settings(max_examples=200, deadline=None)
        @given(st.text(alphabet="lowernwidest", min_size=1, max_size=12))
        def check(word):
            toks = _encode_word(word, ranks)
            assert "".join(toks) == word + EOW
            assert len(toks) <= len(word) + 1

        check()

    def test_zero_merges_is_chars(self):
        from pincette_json_streams_spark.functions.bpe import _encode_word
        assert _encode_word("abc", {}) == ["a", "b", "c", "</w>"]

    def test_pair_counts_match_first_merge(self, spark):
        from pincette_json_streams_spark.functions.bpe import (
            adjacent_pair_counts, train_bpe, word_frequencies,
        )
        docs = spark.createDataFrame(
            [("low low low low low lower lower newest newest newest "
              "newest newest newest widest widest widest",)],
            "text string")
        wf = word_frequencies(docs)
        assert dict((r["word"], r["freq"]) for r in wf.collect()) == dict(
            self.FREQS)
        top = (adjacent_pair_counts(wf)
               .orderBy(F.desc("count"), "left", "right").first())
        merges = train_bpe(wf, 1)
        assert (top["left"], top["right"]) == merges[0]
        assert top["count"] == 9

    def test_encode_dataframe(self, spark):
        from pincette_json_streams_spark.functions.bpe import (
            bpe_encode, train_bpe,
        )
        merges = train_bpe(self.FREQS, 5)
        df = spark.createDataFrame(
            [(1, "newest lowest"), (2, None)], "id long, text string")
        out = {r["id"]: r["tokens"]
               for r in bpe_encode(df, merges).collect()}
        # newest -> n ew est</w> pieces via greedy lowest-rank merging
        assert "".join(out[1]) == "newest</w>lowest</w>"
        assert "est</w>" in out[1]
        assert out[2] == []

    def test_vocab(self):
        from pincette_json_streams_spark.functions.bpe import (
            bpe_vocab, train_bpe,
        )
        merges = train_bpe(self.FREQS, 3)
        v = bpe_vocab(merges, alphabet=list("abc"))
        assert v[:4] == ["a", "b", "c", "</w>"]
        assert v[4:] == ["es", "est", "est</w>"]


class TestGifFrames:
    """Animated-GIF frame sampling (functions/multimodal.py
    _gif_frames): every extracted frame is a standalone GIF the real
    LZW decoder reads back pixel-exact."""

    def _animated(self):
        # splice two single-frame fixtures into one animated GIF:
        # header+GCT from frame A, both image blocks, one trailer
        f1 = TestGifDecode._encode_gif(
            2, 2, [(255, 0, 0), (0, 255, 0)], [0, 1, 1, 0])
        f2 = TestGifDecode._encode_gif(
            2, 2, [(255, 0, 0), (0, 255, 0)], [1, 0, 0, 1])
        # image block starts at the 0x2C byte (header 13 + GCT)
        blk1 = f1[f1.index(0x2C):-1]
        blk2 = f2[f2.index(0x2C):-1]
        # a graphic-control extension between frames, like real files
        gce = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
        return f1[:f1.index(0x2C)] + blk1 + gce + blk2 + b"\x3B"

    def test_frames_decode_pixel_exact(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image, _gif_frames,
        )
        gif = self._animated()
        frames = _gif_frames(gif)
        assert len(frames) == 2
        d0 = _decode_image(frames[0], 16)
        d1 = _decode_image(frames[1], 16)
        assert (d0["width"], d0["height"]) == (2, 2)
        # frame 0 = RG/GR, frame 1 = GR/RG: identical means, swapped px
        assert d0["mean_rgb"] == d1["mean_rgb"] == [127.5, 127.5, 0.0]

    def test_sample_frames_dataframe(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            sample_frames,
        )
        gif = self._animated()
        df = spark.createDataFrame([(1, bytearray(gif))],
                                   "id long, media binary")
        out = sample_frames(df, n_frames=4).collect()[0]["frames"]
        assert [f["idx"] for f in out] == [0, 1]
        assert bytes(out[0]["frame"])[:6] == b"GIF89a"

    def test_non_gif_falls_through(self):
        from pincette_json_streams_spark.functions.multimodal import (
            _gif_frames,
        )
        assert _gif_frames(b"\x89PNG\r\n\x1a\nxxxx") is None


class TestPca:
    """Distributed PCA (functions/similarity.py): tree-aggregated
    moments + driver eigendecomposition, verified against numpy."""

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import numpy as np
        rng = np.random.default_rng(7)
        # anisotropic 8-dim data so components are well-separated
        base = rng.normal(size=(200, 8)) * np.array(
            [8, 4, 2, 1, 0.5, 0.25, 0.1, 0.05])
        R, _ = np.linalg.qr(rng.normal(size=(8, 8)))
        X = (base @ R) + rng.normal(size=8)
        df = spark.createDataFrame(
            [(i, x.tolist()) for i, x in enumerate(X)],
            "vec_id long, embedding array<double>").repartition(4)
        return df, X

    def test_moments_match_numpy(self, emb):
        import numpy as np
        from pincette_json_streams_spark.functions.similarity import (
            embedding_moments,
        )
        df, X = emb
        n, mean, cov = embedding_moments(df)
        assert n == 200
        assert np.allclose(mean, X.mean(0), atol=1e-9)
        assert np.allclose(cov, np.cov(X.T, bias=True), atol=1e-8)

    def test_components_match_numpy_eigh(self, emb):
        import numpy as np
        from pincette_json_streams_spark.functions.similarity import (
            pca_components,
        )
        df, X = emb
        mean, comps, ev, evr = pca_components(df, 3)
        w, V = np.linalg.eigh(np.cov(X.T, bias=True))
        order = np.argsort(w)[::-1][:3]
        assert np.allclose(ev, w[order], atol=1e-7)
        assert evr[0] > 0.7 and abs(evr.sum() - 1) > 0  # dominated dim
        # components equal up to the deterministic sign fix
        for j, o in enumerate(order):
            ref = V[:, o]
            i = np.argmax(np.abs(comps[:, j]))
            if ref[i] < 0:
                ref = -ref
            assert np.allclose(comps[:, j], ref, atol=1e-7)

    def test_project_and_whiten(self, emb):
        import numpy as np
        from pincette_json_streams_spark.functions.similarity import (
            pca_project,
        )
        df, X = emb
        out = pca_project(df, 3, whiten=True)
        P = np.array([r["pca"] for r in
                      out.orderBy("vec_id").collect()])
        assert P.shape == (200, 3)
        # whitened projection: identity covariance, zero mean
        assert np.allclose(P.mean(0), 0, atol=1e-6)
        assert np.allclose(np.cov(P.T, bias=True), np.eye(3), atol=1e-4)

    def test_reuse_trained_basis(self, emb):
        import numpy as np
        from pincette_json_streams_spark.functions.similarity import (
            pca_components, pca_project,
        )
        df, X = emb
        basis = pca_components(df, 2)
        a = pca_project(df, 2, components=basis)
        b = pca_project(df, 2)
        pa = {r["vec_id"]: r["pca"] for r in a.collect()}
        pb = {r["vec_id"]: r["pca"] for r in b.collect()}
        for k in pa:
            assert np.allclose(pa[k], pb[k], atol=1e-9)


class TestCounterIncrease:
    def test_resets_and_rate(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            counter_increase,
        )
        df = spark.createDataFrame(
            [("a", 0, 10.0), ("a", 10, 15.0), ("a", 20, 3.0),
             ("a", 30, 8.0), ("b", 0, 5.0)],
            "k string, t long, v double")
        out = {r["k"]: r.asDict()
               for r in counter_increase(df, "k", "t", "v").collect()}
        # a: +5, reset(+3), +5 -> increase 13 over span 30
        assert out["a"]["n_samples"] == 4
        assert out["a"]["n_resets"] == 1
        assert out["a"]["increase"] == pytest.approx(13.0)
        assert out["a"]["rate"] == pytest.approx(13.0 / 30)
        # single sample: no steps, no rate
        assert out["b"]["increase"] is None
        assert out["b"]["rate"] is None

    def test_monotonic_equals_last_minus_first(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pincette_json_streams_spark.functions.timeseries import (
            counter_increase,
        )

        @settings(max_examples=10, deadline=None)
        @given(st.lists(st.integers(0, 100), min_size=2, max_size=8))
        def check(vals):
            vals = sorted(vals)
            df = spark.createDataFrame(
                [("k", i, float(v)) for i, v in enumerate(vals)],
                "k string, t long, v double")
            r = counter_increase(df, "k", "t", "v").collect()[0]
            assert r["n_resets"] == 0
            assert r["increase"] == pytest.approx(vals[-1] - vals[0])

        check()


class TestCdcChunks:
    """Content-defined chunking (FastCDC shape): deterministic gear
    boundaries, coverage, and the shift-invariance property that
    motivates CDC over fixed-size chunking."""

    def _chunks(self, spark, blobs, **kw):
        from pincette_json_streams_spark.functions.multimodal import (
            cdc_chunks,
        )
        df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in enumerate(blobs)],
            "media_id long, media binary")
        return cdc_chunks(df, **kw).collect()

    def test_coverage_and_determinism(self, spark):
        import hashlib
        data = hashlib.sha256(b"seed").digest() * 400   # 12.8 KB
        rows = self._chunks(spark, [data, data])
        by_id = {}
        for r in rows:
            by_id.setdefault(r["media_id"], []).append(r)
        for rid, ch in by_id.items():
            ch.sort(key=lambda r: r["chunk_idx"])
            assert ch[0]["offset"] == 0
            assert sum(c["length"] for c in ch) == len(data)
            for a, b in zip(ch, ch[1:]):
                assert b["offset"] == a["offset"] + a["length"]
            assert all(256 <= c["length"] <= 4096 for c in ch[:-1])
        # identical blobs chunk identically
        assert [(c["offset"], c["chunk_hash"]) for c in by_id[0]] == \
            [(c["offset"], c["chunk_hash"]) for c in by_id[1]]

    def test_shift_invariance(self, spark):
        import hashlib
        base = b"".join(hashlib.sha256(b"%d" % i).digest()
                        for i in range(600))  # ~19 KB
        shifted = b"XYZ" + base               # 3 bytes inserted at front
        rows = self._chunks(spark, [base, shifted])
        h0 = {r["chunk_hash"] for r in rows if r["media_id"] == 0}
        h1 = {r["chunk_hash"] for r in rows if r["media_id"] == 1}
        # content-defined boundaries resynchronize: almost all chunks
        # are shared despite the shift (fixed-size chunking shares 0)
        shared = len(h0 & h1)
        assert shared >= 0.8 * len(h0), (shared, len(h0), len(h1))

    def test_null_and_tiny_blobs(self, spark):
        rows = self._chunks(spark, [b"abc"])
        assert len(rows) == 1
        assert rows[0]["length"] == 3 and rows[0]["offset"] == 0


class TestCdcChunksStringIds:
    def test_string_id_column(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            cdc_chunks,
        )
        df = spark.createDataFrame(
            [("s3://bucket/a", bytearray(b"x" * 600))],
            "uri string, media binary")
        rows = cdc_chunks(df, data_col="media", id_col="uri").collect()
        assert rows and rows[0]["uri"] == "s3://bucket/a"


class TestIntervalJoin:
    def test_inner_and_left_outer(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            interval_join,
        )
        ev = spark.createDataFrame(
            [("e1", "u", 5), ("e2", "u", 15), ("e3", "u", 50),
             ("e4", "v", 5)],
            "eid string, k string, t long")
        iv = spark.createDataFrame(
            [("i1", "u", 0, 10), ("i2", "u", 5, 20), ("i3", "v", 90, 99)],
            "iid string, k string, s long, e long")
        got = sorted((r["eid"], r["iid"]) for r in interval_join(
            ev, iv, "t", "s", "e", by="k", bucket=8).collect())
        assert got == [("e1", "i1"), ("e1", "i2"), ("e2", "i2")]
        lo = interval_join(ev, iv, "t", "s", "e", by="k", bucket=8,
                           how="left_outer").collect()
        pairs = sorted((r["eid"], r["iid"]) for r in lo)
        assert pairs == [("e1", "i1"), ("e1", "i2"), ("e2", "i2"),
                         ("e3", None), ("e4", None)]

    def test_matches_naive_range_join_property(self, spark):
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from pincette_json_streams_spark.functions.timeseries import (
            interval_join,
        )

        @settings(max_examples=10, deadline=None)
        @given(
            st.lists(st.integers(0, 60), min_size=1, max_size=10),
            st.lists(st.tuples(st.integers(0, 50), st.integers(0, 20)),
                     min_size=1, max_size=6),
            st.integers(1, 30),
        )
        def check(points, spans, bucket):
            ev = spark.createDataFrame(
                [(i, t) for i, t in enumerate(points)], "eid long, t long")
            iv = spark.createDataFrame(
                [(j, s, s + ln) for j, (s, ln) in enumerate(spans)],
                "iid long, s long, e long")
            got = sorted((r["eid"], r["iid"]) for r in interval_join(
                ev, iv, "t", "s", "e", bucket=bucket).collect())
            want = sorted(
                (i, j) for i, t in enumerate(points)
                for j, (s, ln) in enumerate(spans) if s <= t <= s + ln)
            assert got == want, (bucket, got, want)

        check()


class TestCodecPlugPoint:
    """The external-codec injection seam (functions/multimodal.py
    register_codec / decode_features(extractor=)) — a registered fake
    codec must flow through sample_frames' Arrow plumbing end-to-end,
    proving a production H.264/VP9 decoder plugs in without touching
    engine code."""

    def test_registered_codec_drives_sample_frames(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            register_codec, sample_frames, unregister_codec,
        )

        register_codec(
            "fake264",
            lambda b: b.startswith(b"FAKE264"),
            lambda b: [b"frame-%d:" % i + b[7:] for i in range(6)],
        )
        try:
            df = spark.createDataFrame(
                [("v1", bytearray(b"FAKE264payload")),
                 ("v2", bytearray(b"not-a-video"))],
                "vid string, media binary")
            out = {r["vid"]: r["frames"]
                   for r in sample_frames(df, n_frames=3).collect()}
        finally:
            unregister_codec("fake264")
        # codec-matched payload: evenly spaced REAL codec frames
        got = [(f["idx"], bytes(f["frame"])) for f in out["v1"]]
        assert got == [(0, b"frame-0:payload"), (2, b"frame-2:payload"),
                       (4, b"frame-4:payload")]
        # unmatched payload still falls back to the byte-slice stub
        assert len(out["v2"]) == 3

    def test_codec_registry_is_plan_time_snapshot(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            register_codec, sample_frames, unregister_codec,
        )

        df = spark.createDataFrame(
            [("v1", bytearray(b"FAKE264x"))], "vid string, media binary")
        register_codec("fake264", lambda b: b.startswith(b"FAKE264"),
                       lambda b: [b"only"])
        try:
            planned = sample_frames(df, n_frames=2)
        finally:
            unregister_codec("fake264")
        # the codec rode the closure: executing after unregister still
        # uses it (module globals re-import empty on executors)
        frames = planned.collect()[0]["frames"]
        assert [bytes(f["frame"]) for f in frames] == [b"only"]

    def test_decode_features_extractor_injection(self, spark):
        from pincette_json_streams_spark.functions.multimodal import (
            decode_features,
        )

        df = spark.createDataFrame(
            [("m1", bytearray(b"\x01\x02\x03"))],
            "mid string, media binary")
        out = decode_features(
            df, extractor=lambda b: [float(len(b)), float(b[0])],
        ).collect()
        assert out[0]["features"] == [3.0, 1.0]


class TestLeakageFreeSplit:
    def test_no_cluster_straddles_splits(self, spark, sf_dir):
        """The guard property itself: every near-dup cluster lands
        entirely in ONE split."""
        import __spark_entry__ as entry
        out = entry.queries()["split_leakfree"](spark, sf_dir).collect()
        by_cluster = {}
        for r in out:
            by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
        assert all(len(v) == 1 for v in by_cluster.values())
        splits = {r["split"] for r in out}
        assert splits <= {"train", "test"}


def _winnow_fingerprints_columns(df, text_col="text", id_col="doc_id",
                                 k=8, window=4):
    """Pure native-Column winnowing (sequence/transform/slice/array_min)
    — the reference semantics the Arrow kernel must match bit-for-bit
    (HOF lambdas evaluate interpreted per element, ~6x slower than the
    kernel)."""
    from pincette_json_streams_spark.functions.text import (
        bind_once, normalize_text,
    )

    # Every intermediate is BOUND AS A LAMBDA VARIABLE (bind_once): the
    # naive nesting re-ran the normalization regex and the whole md5
    # gram array for every window position — O(len^2) per document and
    # unrunnable at sf0.01.  Bound, the sliding-window min is
    # O(len * window).
    def _windows(hs):
        nw = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), nw),
            lambda j: F.array_min(F.slice(hs, j, window)),
        )

    def _hashes(nm):
        ng = F.greatest(F.length(nm) - F.lit(k - 1), F.lit(1))
        return F.transform(
            F.sequence(F.lit(1), ng),
            lambda i: F.conv(
                F.md5(nm.substr(i.cast("int"), F.lit(k).cast("int")))
                .substr(1, 15),
                16, 10,
            ).cast("bigint"),
        )

    fps = F.array_distinct(
        bind_once(
            normalize_text(F.col(text_col)),
            lambda nm: bind_once(_hashes(nm), _windows),
        )
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(fps).alias("fp")
    )


class TestWinnowing:
    """Winnowing fingerprints (Schleimer et al. SIGMOD 2003 — MOSS)."""

    def test_identical_docs_share_all_fingerprints(self, spark):
        from pincette_json_streams_spark.functions.text import (
            winnow_fingerprints,
        )
        df = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog"),
             (1, "THE quick  brown fox jumps over the lazy dog"),
             (2, "an entirely different sentence about nothing")],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(df).collect()
        sets = {}
        for r in fps:
            sets.setdefault(r["id"], set()).add(r["fp"])
        # case/whitespace-normalized twins -> identical fingerprint sets
        assert sets[0] == sets[1]
        assert sets[0] != sets[2]

    def test_match_guarantee(self, spark):
        """Any shared substring of length k+window-1 yields at least one
        shared fingerprint (the winnowing guarantee)."""
        from pincette_json_streams_spark.functions.text import (
            winnow_fingerprints,
        )
        k, w = 8, 4
        shared = "abcdefghijk"          # len 11 = k + w - 1
        assert len(shared) == k + w - 1
        df = spark.createDataFrame(
            [(0, "xxxx " + shared + " yyyy zz qq"),
             (1, "totally other words " + shared + " trailing bits")],
            "doc_id long, text string",
        )
        fps = winnow_fingerprints(df, k=k, window=w).collect()
        sets = {}
        for r in fps:
            sets.setdefault(r["id"], set()).add(r["fp"])
        assert sets[0] & sets[1]

    def test_density_bound(self, spark):
        """Winnowing keeps far fewer hashes than the full gram set —
        expected density 2/(w+1); allow generous slack."""
        from pincette_json_streams_spark.functions.text import (
            winnow_fingerprints,
        )
        text = " ".join(f"tok{i} filler word number {i}" for i in range(40))
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        n_fp = winnow_fingerprints(df, k=8, window=4).count()
        n_grams = len(text) - 7
        assert n_fp < 0.6 * n_grams

    def test_pairs_find_near_dups_and_cap_df(self, spark):
        from pincette_json_streams_spark.functions.text import winnow_pairs
        df = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog tonight"),
             (1, "the quick brown fox jumps over the lazy dog today"),
             (2, "spark engines shuffle partitions across the cluster"),
             (3, "unrelated musings on cooking pasta at home")],
            "doc_id long, text string",
        )
        out = {(r["doc_a"], r["doc_b"]): r["shared"]
               for r in winnow_pairs(df, min_shared=2).collect()}
        assert (0, 1) in out
        assert all(a == 0 and b == 1 for (a, b) in out)
        # max_df=1 drops every fingerprint that appears in 2 docs
        assert winnow_pairs(df, max_df=1, min_shared=1).count() == 0

    def test_null_text_docs_never_pair(self, spark):
        """Null-text docs emit (id, NULL) fingerprint rows; the groupBy
        posting pass must drop them (equi-join NULL semantics, what the
        oracle does) — with min_shared=1 they must NOT pair with each
        other through a shared NULL fp."""
        from pincette_json_streams_spark.functions.text import winnow_pairs
        df = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog tonight"),
             (1, "the quick brown fox jumps over the lazy dog today"),
             (2, None), (3, None), (4, None)],
            "doc_id long, text string",
        )
        out = {(r["doc_a"], r["doc_b"])
               for r in winnow_pairs(df, min_shared=1).collect()}
        assert out == {(0, 1)}

    def test_plan_is_map_only_until_join(self, spark):
        """Fingerprinting itself must not aggregate-shuffle — the only
        Exchange allowed is the deliberate fan-out before the CPU-bound
        Arrow kernel (`_spread`, same pattern as the minhash family).
        Since r12 the fan-out hash-partitions on the unique doc id
        (REPARTITION_BY_NUM) instead of round-robin: deterministic
        under retry without the sortBeforeRepartition byte-sort."""
        from pincette_json_streams_spark.functions.text import (
            winnow_fingerprints,
        )
        df = spark.createDataFrame(
            [(0, "abc def ghi")], "doc_id long, text string")
        plan = winnow_fingerprints(df)._jdf.queryExecution().executedPlan() \
            .toString()
        assert plan.count("Exchange") == 1
        assert "REPARTITION_BY_NUM" in plan
        assert "hashpartitioning(doc_id" in plan

    def test_arrow_kernel_bit_identical_to_columns(self, spark):
        """The Arrow fingerprint kernel must replay the pure-Column
        md5->15-hex->bigint math exactly — the SQL oracle depends on
        it."""
        from pincette_json_streams_spark.functions.text import (
            winnow_fingerprints,
        )
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "THE quick  brown fox jumps over the lazy dog"),
            (2, "short"),
            (3, ""),
            (4, None),
            (5, "ab"),
            (6, " ".join(f"w{i % 13} tok{i % 7}" for i in range(300))),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for kk, ww in ((8, 4), (5, 3), (8, 1)):
            got = {(r["id"], r["fp"])
                   for r in winnow_fingerprints(df, k=kk, window=ww)
                   .collect()}
            want = {(r["id"], r["fp"])
                    for r in _winnow_fingerprints_columns(
                        df, k=kk, window=ww).collect()}
            assert got == want

    def test_long_doc_linear_time_canary(self, spark):
        """Regression lock for the HOF-inlining trap: a 30k-char doc
        fingerprints in seconds when norm/hash arrays are bound as
        lambda variables (computed once per row); the naive nested
        form re-evaluates them per window position — O(len^2), hours.
        Generous bound so host load can't flake it."""
        import time

        from pincette_json_streams_spark.functions.text import (
            winnow_fingerprints,
        )
        text = " ".join(f"w{i % 97} t{i % 31}" for i in range(5000))
        assert len(text) > 30000
        df = spark.createDataFrame([(0, text)], "doc_id long, text string")
        t0 = time.time()
        assert winnow_fingerprints(df).count() > 1000
        assert time.time() - t0 < 60


class TestBm25:
    def test_ranking_properties(self, spark):
        from pincette_json_streams_spark.functions.text import bm25_scores
        df = spark.createDataFrame(
            [(0, "spark spark spark is fast", "x"),
             (1, "spark once among many many other plain words here", "x"),
             (2, "no relevant terms at all in this one", "x"),
             (3, "table table spark", "x")],
            "doc_id long, text string, source string",
        )
        out = {r["doc_id"]: r for r in
               bm25_scores(df, ["spark", "table"]).collect()}
        # doc 2 has no query terms -> absent
        assert 2 not in out
        # higher tf of 'spark' (similar dl) -> higher score
        assert out[0]["score_e4"] > out[1]["score_e4"]
        # two matched terms beat one at comparable length
        assert out[3]["score_e4"] > out[1]["score_e4"]
        # score is the e4 grid scaled back
        for r in out.values():
            assert abs(r["score"] - r["score_e4"] / 1e4) < 1e-9

    def test_idf_penalizes_common_terms(self, spark):
        from pincette_json_streams_spark.functions.text import bm25_scores
        rows = [(i, "common filler text", "x") for i in range(8)]
        rows.append((100, "rareword common", "x"))
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string")
        out = {r["doc_id"]: r["score_e4"] for r in
               bm25_scores(df, ["rareword", "common"]).collect()}
        # within doc 100 the rare term contributes more than the common
        only_common = out[0]
        both = out[100]
        assert both > 2 * only_common  # rare idf dominates


class TestImportanceWeights:
    def test_target_lookalikes_rank_first(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            importance_weights,
        )
        rows = []
        for i in range(6):
            rows.append((i, "alpha beta gamma delta epsilon zeta", "tgt"))
        for i in range(6, 12):
            rows.append((i, "one two three four five six", "raw"))
        # a raw doc written in target vocabulary
        rows.append((100, "alpha beta gamma delta", "raw"))
        # a raw doc in raw vocabulary
        rows.append((101, "one two three four", "raw"))
        df = spark.createDataFrame(
            rows, "doc_id long, text string, source string")
        out = {r["doc_id"]: r for r in
               importance_weights(df, F.col("source") == "tgt").collect()}
        assert out[100]["weight_e4"] > out[101]["weight_e4"]
        assert out[100]["n_tokens"] == 4
        for r in out.values():
            assert abs(r["weight"] - r["weight_e4"] / 1e4) < 1e-9

    def test_weights_deterministic(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            importance_weights,
        )
        df = spark.createDataFrame(
            [(i, f"word{i % 3} word{i % 5} tail", "s" + str(i % 2))
             for i in range(20)],
            "doc_id long, text string, source string",
        )
        a = sorted(map(tuple, importance_weights(
            df, F.col("source") == "s0").collect()))
        b = sorted(map(tuple, importance_weights(
            df, F.col("source") == "s0").collect()))
        assert a == b


class TestHll:
    """HyperLogLog register sketch (Flajolet et al. 2007)."""

    def test_estimate_within_error(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hll_distinct,
        )
        df = spark.range(0, 5000).select(
            (F.col("id") % 2).alias("g"), (F.col("id") % 1700).alias("v"))
        out = {r["g"]: r["est_distinct"]
               for r in hll_distinct(df, "g", "v", p=9).collect()}
        # p=9 -> ~4.6% std error; allow 4 sigma
        for g, true in ((0, 850), (1, 850)):
            assert abs(out[g] - true) / true < 0.2

    def test_linear_counting_small_groups(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hll_distinct,
        )
        df = spark.range(0, 400).select(
            F.lit("a").alias("g"), (F.col("id") % 37).alias("v"))
        out = hll_distinct(df, "g", "v", p=9).collect()[0]
        # tiny cardinality lands in the linear-counting branch and is
        # near-exact
        assert abs(out["est_distinct"] - 37) <= 2

    def test_merge_equals_whole(self, spark):
        """Registers merged from disjoint halves == registers of the
        union (max is associative/commutative/idempotent)."""
        from pincette_json_streams_spark.functions.profiling import (
            hll_distinct, hll_estimate, hll_merge, hll_sketch,
        )
        df = spark.range(0, 3000).select(
            F.lit("g").alias("g"), (F.col("id") % 900).alias("v"),
            (F.col("id") % 3).alias("part"))
        whole = hll_distinct(df, "g", "v").collect()[0]["est_distinct"]
        sks = [hll_sketch(df.filter(F.col("part") == i), "g", "v")
               for i in range(3)]
        merged = hll_estimate(
            hll_merge(*sks, group_col="g"), "g"
        ).collect()[0]["est_distinct"]
        assert merged == whole

    def test_duplicates_do_not_move_estimate(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hll_distinct,
        )
        base = spark.range(0, 500).select(
            F.lit("g").alias("g"), F.col("id").alias("v"))
        dup = base.unionAll(base).unionAll(base)
        a = hll_distinct(base, "g", "v").collect()[0]["est_distinct"]
        b = hll_distinct(dup, "g", "v").collect()[0]["est_distinct"]
        assert a == b

    def test_single_shuffle_plan(self, spark):
        """The sketch is ONE hash-agg: exactly one Exchange in the
        register-table plan (map-side combine collapses repeats)."""
        from pincette_json_streams_spark.functions.profiling import (
            hll_sketch,
        )
        df = spark.range(0, 100).select(
            F.lit("g").alias("g"), F.col("id").alias("v"))
        plan = hll_sketch(df, "g", "v")._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan.count("Exchange") == 1

    def test_windowed_rollup_law(self, spark):
        """Daily sketches merged by register-max must estimate <= the
        sum of daily estimates (repeat visitors collapse), and equal
        the direct whole-range sketch exactly (merge = rescan)."""
        from pincette_json_streams_spark.functions.profiling import (
            hll_estimate, hll_sketch,
        )
        # 3 days, users repeat across days: 0..199 each day + day*50
        rows = [(d, u) for d in range(3)
                for u in list(range(200)) + [1000 + d * 50 + i
                                             for i in range(50)]]
        df = spark.createDataFrame(rows, "day long, u long")
        keyed = df.select(
            F.concat_ws("#", F.lit("all"), F.col("day").cast("string"))
            .alias("g"), "u")
        daily = hll_sketch(keyed, "g", "u", p=9)
        d_est = hll_estimate(daily, "g", p=9).agg(
            F.sum("est_distinct")).collect()[0][0]
        merged = (
            daily.select(F.lit("all").alias("k"), "idx", "m", "sketch_p")
            .groupBy("k", "idx")
            .agg(F.max("m").alias("m"),
                 F.first("sketch_p").alias("sketch_p"))
        )
        m_est = hll_estimate(merged, "k", p=9).collect()[0]["est_distinct"]
        direct = hll_estimate(
            hll_sketch(df.select(F.lit("all").alias("k"), "u"), "k", "u",
                       p=9), "k", p=9).collect()[0]["est_distinct"]
        assert m_est <= d_est
        assert m_est == direct


class TestPrefixFilterPairs:
    """Exact Jaccard join with prefix filtering (PPJoin family)."""

    def _docs(self, spark):
        base = "the quick brown fox jumps over the lazy dog tonight"
        rows = [
            (1, base),
            (2, base + " again"),                      # near-dup of 1
            (3, base.replace("quick", "sly")),         # partial overlap
            (4, "completely different words about spark adaptive "
                "query execution engines"),
            (5, base),                                 # exact dup of 1
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @staticmethod
    def _brute(rows, n=3, pct=60):
        import re
        out = []
        toks = {}
        for i, t in rows:
            ws = [w for w in re.sub(r"\s+", " ", t.lower()).strip()
                  .split(" ") if w]
            toks[i] = {" ".join(ws[j:j + n])
                       for j in range(len(ws) - n + 1)}
        ids = sorted(toks)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = toks[ids[x]], toks[ids[y]]
                if not a or not b:
                    continue
                inter = len(a & b)
                uni = len(a | b)
                if inter * 100 >= pct * uni:
                    out.append((ids[x], ids[y], inter, uni))
        return sorted(out)

    def test_no_false_negatives_vs_brute_force(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            prefix_filter_pairs,
        )
        df = self._docs(spark)
        got = sorted((r["id_a"], r["id_b"], r["inter"], r["uni"])
                     for r in prefix_filter_pairs(
                         df, threshold_pct=60, n=3).collect())
        want = self._brute([(r["doc_id"], r["text"])
                            for r in df.collect()])
        assert got == want
        assert (1, 5) in {(a, b) for a, b, *_ in got}  # the exact dup

    def test_exact_dup_scores_full_jaccard(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            prefix_filter_pairs,
        )
        pairs = {(r["id_a"], r["id_b"]): r["jacc_e6"]
                 for r in prefix_filter_pairs(
                     self._docs(spark), threshold_pct=60).collect()}
        assert pairs[(1, 5)] == 1_000_000

    def test_prefix_posts_fewer_tokens_than_full_index(self, spark):
        """The point of the algorithm: the posting join input must be
        the short rare-first prefix, not the full gram set.  At t=60%
        the prefix is |T| - ceil(0.6|T|) + 1 ≈ 0.4|T| tokens."""
        from pincette_json_streams_spark.functions.dedup import (
            prefix_filter_pairs,
        )
        from pincette_json_streams_spark.functions.text import (
            normalize_text,
        )
        df = self._docs(spark)
        full = df.select(F.explode(F.array_distinct(F.expr(
            "transform(sequence(1, greatest(size(split(text, ' ')) - 2,"
            " 0)), i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"
        )))).count()
        # run the operator and count rows fed into the posting join via
        # the plan: cheap proxy — recompute the prefix length law
        toks = df.select(F.size(F.array_distinct(F.expr(
            "transform(sequence(1, greatest(size(split(text, ' ')) - 2,"
            " 0)), i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"
        ))).alias("sz")).collect()
        posted = sum(r["sz"] - (60 * r["sz"] + 99) // 100 + 1
                     for r in toks)
        assert posted < full * 0.6


class TestEwmaHalflife:
    """Integer-exact EWMA with half-life decay (timeseries.py)."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "user_id long, t long, eid long, value double")

    def test_hand_computed_series(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            ewma_halflife,
        )
        df = self._df(spark, [(1, 1, 1, 1.0), (1, 2, 2, 2.0),
                              (1, 3, 3, 4.0)])
        got = {r["t"]: r for r in ewma_halflife(
            df, order_by=["t", "eid"], group_col="user_id",
            window=8).collect()}
        # t=1: frame [1e6],       num = 1e6*1,        den = 1
        assert (got[1]["ewma_num"], got[1]["ewma_den"]) == (10**6, 1)
        # t=2: frame [1e6, 2e6],  num = 1e6*1 + 2e6*2, den = 3
        assert (got[2]["ewma_num"], got[2]["ewma_den"]) == (5 * 10**6, 3)
        # t=3: frame [1,2,4]e6,   num = 1e6 + 2e6*2 + 4e6*4, den = 7
        assert (got[3]["ewma_num"], got[3]["ewma_den"]) == (21 * 10**6, 7)
        assert got[3]["ewma"] == 3 * 10**6  # 21e6/7 exactly

    def test_frame_truncates_to_window(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            ewma_halflife,
        )
        rows = [(1, t, t, 1.0) for t in range(1, 13)]
        got = ewma_halflife(self._df(spark, rows),
                            order_by=["t", "eid"], group_col="user_id",
                            window=4).collect()
        by_t = {r["t"]: r for r in got}
        assert by_t[12]["n_in_frame"] == 4
        assert by_t[12]["ewma_den"] == 15  # 2^4 - 1
        # constant series: ewma == the constant on the grid
        assert by_t[12]["ewma"] == 10**6

    def test_nan_rows_dropped(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            ewma_halflife,
        )
        df = self._df(spark, [(1, 1, 1, 1.0),
                              (1, 2, 2, float("nan")),
                              (1, 3, 3, float("inf")),
                              (1, 4, 4, 3.0)])
        got = ewma_halflife(df, order_by=["t", "eid"],
                            group_col="user_id", window=8).collect()
        assert sorted(r["t"] for r in got) == [1, 4]
        by_t = {r["t"]: r for r in got}
        # the NaN/inf rows are absent from the frame, not zero-filled
        assert by_t[4]["n_in_frame"] == 2
        assert by_t[4]["ewma_num"] == 10**6 + 2 * 3 * 10**6

    def test_single_shuffle_plan(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            ewma_halflife,
        )
        df = self._df(spark, [(1, 1, 1, 1.0)])
        plan = ewma_halflife(df, order_by=["t", "eid"],
                             group_col="user_id", window=8) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1


class TestRrfFuse:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009)."""

    def test_fusion_math_and_list_count(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            rrf_fuse,
        )
        a = spark.createDataFrame([(1, 1), (2, 2)], "id long, rank long")
        b = spark.createDataFrame([(2, 1), (3, 2)], "id long, rank long")
        got = {r["id"]: (r["rrf"], r["n_lists"])
               for r in rrf_fuse([a, b]).collect()}
        u = 10 ** 9
        assert got[1] == (u // 61, 1)
        assert got[2] == (u // 62 + u // 61, 2)
        assert got[3] == (u // 62, 1)

    def test_doc_in_both_lists_beats_single_list_winner(self, spark):
        """A mid-rank doc present in BOTH lists outranks a doc that is
        rank 1 in only one list — the property RRF exists for."""
        from pincette_json_streams_spark.functions.similarity import (
            rrf_fuse,
        )
        a = spark.createDataFrame([(1, 1), (9, 5)], "id long, rank long")
        b = spark.createDataFrame([(2, 1), (9, 5)], "id long, rank long")
        rows = sorted(rrf_fuse([a, b]).collect(), key=lambda r: -r["rrf"])
        assert rows[0]["id"] == 9

    def test_empty_list_rejected(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            rrf_fuse,
        )
        with pytest.raises(ValueError):
            rrf_fuse([])


class TestPageRank:
    """All-integer fixed-iteration PageRank (functions/graph.py)."""

    EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 3)]
    # node 5 appears only as a dangling sink via 3->5? no — add one:
    EDGES += [(3, 5)]  # 5 has no out-edges: exercises dangling mass

    @staticmethod
    def _mirror(edges, iters=3, total=10 ** 12, d=85):
        """Pure-Python replay of the documented integer recurrence."""
        nodes = sorted({u for e in edges for u in e})
        n = len(nodes)
        deg = {}
        for u, _ in edges:
            deg[u] = deg.get(u, 0) + 1
        r = {v: total // n for v in nodes}
        base = ((100 - d) * total) // (100 * n)
        for _ in range(iters):
            dang = sum(r[v] for v in nodes if v not in deg)
            inm = {v: 0 for v in nodes}
            for u, v in edges:
                inm[v] += r[u] // deg[u]
            r = {v: base + (d * (inm[v] + dang // n)) // 100
                 for v in nodes}
        return r

    def test_matches_python_mirror(self, spark):
        from pincette_json_streams_spark.functions.graph import pagerank
        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        got = {r["node"]: r["rank"]
               for r in pagerank(df, iters=3).collect()}
        assert got == self._mirror(self.EDGES, iters=3)

    def test_mass_approximately_conserved(self, spark):
        """Integer floors lose < ~2N units per iteration; total mass
        must stay within that envelope of 1e12."""
        from pincette_json_streams_spark.functions.graph import pagerank
        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        total = sum(r["rank"] for r in pagerank(df, iters=3).collect())
        n, iters = 5, 3
        assert abs(10 ** 12 - total) < 100 * n * (iters + 1)

    def test_hub_outranks_leaf(self, spark):
        """Node 3 receives edges from everyone: it must rank first."""
        from pincette_json_streams_spark.functions.graph import pagerank
        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        rows = sorted(pagerank(df, iters=3).collect(),
                      key=lambda r: -r["rank"])
        assert rows[0]["node"] == 3

    def test_negative_node_ids_rejected(self, spark):
        """The dangling-mass sentinel is node -1: a real node -1 would
        silently merge its in-mass with the dangling mass, so the
        non-negative-id contract is enforced (in the same job that
        already counts vertices), not just documented."""
        from pincette_json_streams_spark.functions.graph import pagerank
        df = spark.createDataFrame([(0, -1), (-1, 2)],
                                   "src long, dst long")
        with pytest.raises(ValueError, match="non-negative node ids"):
            pagerank(df, iters=1)

    def test_no_per_iteration_driver_data_collects(self, spark):
        """The per-iteration rank state is lineage-cut with a lazy
        localCheckpoint (without it the unrolled DAG re-evaluates the
        edge derivation exponentially — 240 duplicate file scans at
        iters=3); under AQE that materializes a BOUNDED number of
        stage-jobs per iteration at construction.  Guard: the
        per-iteration construction cost stays a small constant (a
        driver-side collect of rank DATA would add py4j transfer and
        blow past it), and no rank rows ever reach the driver — the
        returned plan still ends in Spark-side joins."""
        from pincette_json_streams_spark.functions.graph import pagerank
        df = spark.createDataFrame(self.EDGES, "src long, dst long")
        tracker = spark.sparkContext.statusTracker()

        def jobs_during(iters):
            # job ids are monotonic: max-id deltas survive the UI store
            # evicting old jobs in a long shared session (len() deltas
            # go wrong after spark.ui.retainedJobs evictions)
            before = max(tracker.getJobIdsForGroup(None) or [0])
            pagerank(df, iters=iters)
            return max(tracker.getJobIdsForGroup(None) or [0]) - before

        j3, j6 = jobs_during(3), jobs_during(6)
        per_iter = (j6 - j3) / 3.0
        assert per_iter <= 8, (j3, j6)
        # the result is never a local literal: rank mass stays in a
        # distributed plan (a collect-and-relit loop would parallelize
        # a Python list back in)
        plan = pagerank(df, iters=2)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan \
            or "Join" in plan


@pytest.mark.usefixtures("distributed_graphs")
class TestPageRankDistributed(TestPageRank):
    """Every TestPageRank test again, forced onto the distributed loop."""


class TestTheilSen:
    """Theil-Sen robust trend (functions/timeseries.py)."""

    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "user_id long, ts_nanos long, event_id long, "
                  "value double")

    def test_perfect_line_recovers_slope(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            theil_sen_slopes,
        )
        # value = 2*t (t in seconds): every pairwise slope is exactly
        # 2 value-units/s = 2e6 grid-units/s
        rows = [(1, t * 10 ** 9, t, 2.0 * t) for t in range(1, 8)]
        (r,) = theil_sen_slopes(self._df(spark, rows)).collect()
        assert r["slope_e6"] == 2_000_000
        assert r["n_points"] == 7 and r["n_pairs"] == 21

    def test_minority_corruption_cannot_flip_trend(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            theil_sen_slopes,
        )
        # 8 clean rising points + 2 wild outliers: OLS would swing
        # negative; the median slope stays at the clean trend
        rows = [(1, t * 10 ** 9, t, float(t)) for t in range(1, 9)]
        rows += [(1, 9 * 10 ** 9, 9, -1000.0), (1, 10 ** 10, 10, 500.0)]
        (r,) = theil_sen_slopes(self._df(spark, rows)).collect()
        assert 900_000 <= r["slope_e6"] <= 1_100_000

    def test_equal_time_pairs_excluded_and_cap(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            theil_sen_slopes,
        )
        # two points in the SAME second (vertical pair dropped) plus one
        # later point; cap at 2 points keeps the earliest two by (t, id)
        rows = [(1, 5 * 10 ** 8, 1, 1.0), (1, 6 * 10 ** 8, 2, 9.0),
                (1, 2 * 10 ** 9, 3, 3.0)]
        (r,) = theil_sen_slopes(self._df(spark, rows)).collect()
        assert r["n_pairs"] == 2  # (p1,p3), (p2,p3); (p1,p2) vertical
        capped = theil_sen_slopes(self._df(spark, rows),
                                  max_points=2).collect()
        assert capped == []  # both kept points share the second -> no
        # valid pair -> no median row for the group


class TestCollocations:
    """NPMI collocation mining (functions/text.py)."""

    def test_matches_python_mirror_and_ranks_phrase_first(self, spark):
        import math
        import re
        from pincette_json_streams_spark.functions.text import (
            collocations,
        )
        docs = [
            (i, "the new york office sent the report to new york today")
            for i in range(3)
        ] + [(10 + i, "some filler words appear here and there") for i in
             range(3)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {(r["w1"], r["w2"]): (r["cxy"], r["pmi_e4"], r["npmi_e4"])
               for r in collocations(df, min_count=3).collect()}

        # python mirror
        uni, big, b = {}, {}, 0
        for _, t in docs:
            ws = [w for w in re.sub(r"\s+", " ", t.lower()).strip()
                  .split(" ") if w]
            for w in ws:
                uni[w] = uni.get(w, 0) + 1
            for x, y in zip(ws, ws[1:]):
                big[(x, y)] = big.get((x, y), 0) + 1
                b += 1
        n = sum(uni.values())
        for (x, y), cxy in big.items():
            if cxy < 3:
                continue
            pmi = math.log((cxy * n * n) / (b * uni[x] * uni[y]))
            npmi = pmi / math.log(b / cxy)
            assert got[(x, y)] == (
                cxy, math.floor(pmi * 1e4 + 0.5),
                math.floor(npmi * 1e4 + 0.5)), (x, y)
        # "new york" is a perfect collocation: highest npmi
        top = max(got, key=lambda k: got[k][2])
        assert top == ("new", "york")

    def test_min_count_prunes(self, spark):
        from pincette_json_streams_spark.functions.text import (
            collocations,
        )
        df = spark.createDataFrame(
            [(1, "alpha beta gamma")], "doc_id long, text string")
        assert collocations(df, min_count=2).count() == 0


class TestRobustZscores:
    """Median/MAD robust z-scores (functions/profiling.py)."""

    def test_hand_computed(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            robust_zscores,
        )
        # values 1..5: med=3e6; |d|={2,1,0,1,2}e6 sorted {0,1,1,2,2},
        # lower median (rank 3) = 1e6 -> z = (v-3e6)*1e6 div 1e6
        df = spark.createDataFrame(
            [("a", i, float(i)) for i in range(1, 6)],
            "g string, id long, value double")
        got = {r["id"]: r["z_e6"] for r in robust_zscores(
            df, "value", "g", "id").collect()}
        assert got == {1: -2_000_000, 2: -1_000_000, 3: 0,
                       4: 1_000_000, 5: 2_000_000}

    def test_one_spike_cannot_drag_the_gauge(self, spark):
        """The reason MAD exists: replacing one value with a 1e9 spike
        must leave every other score unchanged (median and MAD are
        insensitive to a single outlier), while the spike itself z's
        off the chart."""
        from pincette_json_streams_spark.functions.profiling import (
            robust_zscores,
        )
        base = [("a", i, float(i)) for i in range(1, 6)]
        spiked = base[:4] + [("a", 5, 1e9)]
        z0 = {r["id"]: r["z_e6"] for r in robust_zscores(
            spark.createDataFrame(base, "g string, id long, value double"),
            "value", "g", "id").collect()}
        z1 = {r["id"]: r["z_e6"] for r in robust_zscores(
            spark.createDataFrame(spiked, "g string, id long, value double"),
            "value", "g", "id").collect()}
        for i in (1, 2, 4):
            assert z1[i] == z0[i]
        assert z1[5] > 10_000 * 1_000_000  # the spike screams

    def test_nan_and_zero_mad_groups_dropped(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            robust_zscores,
        )
        df = spark.createDataFrame(
            [("const", 1, 7.0), ("const", 2, 7.0), ("const", 3, 7.0),
             ("n", 4, float("nan")), ("n", 5, 1.0)],
            "g string, id long, value double")
        rows = robust_zscores(df, "value", "g", "id").collect()
        # constant group: MAD 0 -> excluded; NaN row dropped leaves a
        # single-point group whose MAD is also 0 -> excluded
        assert rows == []


class TestTriangleCounts:
    """Degree-ordered exact triangle counting (functions/graph.py)."""

    @staticmethod
    def _brute(edges):
        from itertools import combinations
        adj = {}
        es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        counts = {}
        for tri in combinations(sorted(adj), 3):
            a, b, c = tri
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for n in tri:
                    counts[n] = counts.get(n, 0) + 1
        return counts

    def test_k4_every_node_in_three_triangles(self, spark):
        from pincette_json_streams_spark.functions.graph import (
            clustering_coefficients, triangle_counts,
        )
        edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"]
               for r in triangle_counts(df).collect()}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}
        cc = {r["node"]: r["coeff_e6"]
              for r in clustering_coefficients(df).collect()}
        assert cc == {1: 1_000_000, 2: 1_000_000,
                      3: 1_000_000, 4: 1_000_000}

    def test_path_graph_has_no_triangles(self, spark):
        from pincette_json_streams_spark.functions.graph import (
            clustering_coefficients, triangle_counts,
        )
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long")
        assert triangle_counts(df).count() == 0
        cc = {r["node"]: (r["triangles"], r["coeff_e6"])
              for r in clustering_coefficients(df).collect()}
        assert cc == {2: (0, 0), 3: (0, 0)}  # deg-1 endpoints excluded

    def test_matches_brute_force_with_dupes_and_loops(self, spark):
        """Duplicate edges, reversed duplicates and self-loops must
        not change the simple-graph triangle counts."""
        from pincette_json_streams_spark.functions.graph import (
            triangle_counts,
        )
        edges = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 3), (3, 4),
                 (4, 5), (3, 5), (5, 3), (1, 4), (2, 5), (4, 2),
                 (6, 7), (7, 8), (6, 8), (1, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"]
               for r in triangle_counts(df).collect()}
        assert got == self._brute(edges)


class TestBloomFilter:
    """Bloom-filter build + probe (join pruning / runtime filter)."""

    def test_no_false_negatives(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            bloom_bits, bloom_prefilter,
        )
        members = spark.range(0, 200).select(F.col("id").alias("k"))
        probe = spark.range(0, 1000).select(F.col("id").alias("k"))
        bits = bloom_bits(members, "k", mbits=1 << 12, k=3)
        surv = {r["k"] for r in
                bloom_prefilter(probe, bits, "k", mbits=1 << 12, k=3)
                .collect()}
        assert set(range(200)) <= surv  # every true member survives

    def test_false_positives_are_deterministic(self, spark):
        """The md5 hash family makes the FP set a pure function of
        (members, mbits, k): two independent builds agree exactly."""
        from pincette_json_streams_spark.functions.profiling import (
            bloom_bits, bloom_prefilter,
        )
        members = spark.range(0, 300).select(F.col("id").alias("k"))
        probe = spark.range(300, 4000).select(F.col("id").alias("k"))

        def run():
            bits = bloom_bits(members, "k", mbits=1 << 10, k=2)
            return sorted(r["k"] for r in bloom_prefilter(
                probe, bits, "k", mbits=1 << 10, k=2).collect())

        a, b = run(), run()
        assert a == b
        assert len(a) > 0  # 2^10 bits / 300 keys: FPs must exist

    def test_bits_bounded_by_mbits(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            bloom_bits,
        )
        df = spark.range(0, 5000).select(F.col("id").alias("k"))
        bits = bloom_bits(df, "k", mbits=256, k=4)
        got = bits.agg(F.count(F.lit(1)), F.min("pos"), F.max("pos")) \
            .collect()[0]
        assert got[0] <= 256 and got[1] >= 0 and got[2] < 256

    def test_probe_plan_is_pure_map(self, spark):
        """The probe must be a single map over the scan — the bitmap
        rides as an array literal, so there is NO join and NO exchange
        anywhere in the probe plan: prune before any shuffle, without
        re-evaluating the build side k times."""
        from pincette_json_streams_spark.functions.profiling import (
            bloom_bits, bloom_prefilter,
        )
        members = spark.range(0, 100).select(F.col("id").alias("k"))
        probe = spark.range(0, 1000).select(F.col("id").alias("k"))
        bits = bloom_bits(members, "k", mbits=1 << 12, k=3)
        plan = bloom_prefilter(probe, bits, "k", mbits=1 << 12, k=3) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan
        assert "Exchange" not in plan

    def test_one_md5_per_row(self, spark):
        """Kirsch-Mitzenmacher double hashing: the probe plan must
        carry exactly one md5 call per row no matter k."""
        from pincette_json_streams_spark.functions.profiling import (
            bloom_bits, bloom_prefilter,
        )
        members = spark.range(0, 50).select(F.col("id").alias("k"))
        probe = spark.range(0, 100).select(F.col("id").alias("k"))
        bits = bloom_bits(members, "k", mbits=1 << 10, k=5)
        opt = bloom_prefilter(probe, bits, "k", mbits=1 << 10, k=5) \
            ._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("md5(") <= 2  # h1 + h2 share one digest subtree

    def test_null_keys_never_member_never_crash(self, spark):
        """SQL membership semantics: a NULL build key is never a
        member (and must not crash the bitmap fold); a NULL probe key
        never passes (pandas would otherwise hash the literal string
        'None' — an engine divergence)."""
        from pincette_json_streams_spark.functions.profiling import (
            bloom_bits, bloom_prefilter,
        )
        members = spark.createDataFrame([(1,), (2,), (None,)], "k long")
        probe = spark.createDataFrame([(1,), (None,), (5,)], "k long")
        bits = bloom_bits(members, "k", mbits=1 << 10, k=3)
        got = sorted(r["k"] for r in bloom_prefilter(
            probe, bits, "k", mbits=1 << 10, k=3).collect())
        assert None not in got
        assert 1 in got

    def test_mbits_literal_guard(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            bloom_bits, bloom_prefilter,
        )
        members = spark.range(0, 10).select(F.col("id").alias("k"))
        bits = bloom_bits(members, "k", mbits=1 << 10, k=2)
        with pytest.raises(ValueError):
            bloom_prefilter(members, bits, "k", mbits=1 << 27, k=2)


class TestProductQuantization:
    """PQ encode + ADC search (Jegou, Douze & Schmid, PAMI 2011)."""

    @pytest.fixture(scope="class")
    def emb(self, spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def test_every_vector_gets_m_codes(self, spark, emb):
        from pincette_json_streams_spark.functions.similarity import (
            pq_codebooks, pq_encode,
        )
        cb = pq_codebooks(emb, m=4, k=16, dim=64)
        assert cb.count() == 4 * 16
        codes = pq_encode(emb, cb, m=4, dim=64)
        n = emb.count()
        assert codes.count() == 4 * n
        per = codes.groupBy("id").count().filter("count != 4").count()
        assert per == 0
        rng = codes.agg(F.min("code"), F.max("code")).collect()[0]
        assert rng[0] >= 0 and rng[1] <= 15

    def test_codeword_vectors_selfcode_at_zero(self, spark, emb):
        """The 16 seed vectors must encode to their own codeword with
        distance 0 in every subspace (the codebook IS their data)."""
        from pincette_json_streams_spark.functions.similarity import (
            pq_codebooks, pq_encode,
        )
        cb = pq_codebooks(emb, m=4, k=16, dim=64)
        codes = pq_encode(emb, cb, m=4, dim=64)
        seeds = codes.filter(F.col("id") < 16)
        bad = seeds.filter(
            (F.col("dist") != 0) | (F.col("code") != F.col("id"))
        ).count()
        assert bad == 0

    def test_adc_query_ranks_itself_first(self, spark, emb):
        from pincette_json_streams_spark.functions.similarity import (
            pq_adc_topk, pq_codebooks,
        )
        cb = pq_codebooks(emb, m=4, k=16, dim=64)
        top = pq_adc_topk(emb, cb, query_id=0, n=5, m=4, dim=64).collect()
        assert top[0]["vec_id"] == 0 and top[0]["adc"] == 0
        assert all(top[i]["adc"] <= top[i + 1]["adc"]
                   for i in range(len(top) - 1))

    def test_codebook_is_broadcast(self, spark, emb):
        from pincette_json_streams_spark.functions.similarity import (
            pq_codebooks, pq_encode,
        )
        cb = pq_codebooks(emb, m=4, k=16, dim=64)
        plan = pq_encode(emb, cb, m=4, dim=64)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_refine_reduces_distortion(self, spark, emb):
        """Lloyd monotonicity: 2 refinement iterations must cut total
        quantization distortion below the init-from-data seed (measured
        29% down at sf0.001; the half-up grid rounding doesn't break
        the descent)."""
        from pincette_json_streams_spark.functions.similarity import (
            pq_codebooks, pq_encode, pq_refine_codebooks,
        )
        cb0 = pq_codebooks(emb, m=4, k=16, dim=64)
        cb2 = pq_refine_codebooks(emb, cb0, iters=2, m=4, dim=64)
        assert cb2.count() == 4 * 16
        d0 = pq_encode(emb, cb0, m=4, dim=64).agg(
            F.sum("dist")).collect()[0][0]
        d2 = pq_encode(emb, cb2, m=4, dim=64).agg(
            F.sum("dist")).collect()[0][0]
        assert d2 < d0

    def test_refine_recall_gauge(self, spark, emb):
        """VERDICT r5 done-criterion: ADC recall@10 with refined
        codebooks >= the init-from-data baseline, averaged over the
        first 50 corpus queries against exact integer-L2 ground truth.
        Fully deterministic (no RNG anywhere), so the comparison is
        exact, not flaky."""
        import numpy as np
        from pincette_json_streams_spark.functions.similarity import (
            pq_codebooks, pq_refine_codebooks,
        )
        rows = emb.select("vec_id", "embedding").orderBy("vec_id") \
            .collect()
        ids = np.array([r["vec_id"] for r in rows])
        X = np.floor(np.array([r["embedding"] for r in rows],
                              dtype=np.float64) * 1000 + 0.5) \
            .astype(np.int64)

        def gauge(cb_df):
            p = cb_df.toPandas().sort_values(["j", "code"])
            C = np.zeros((4, 16, 16), dtype=np.int64)
            for _, r in p.iterrows():
                C[r["j"], r["code"]] = np.array(r["center"])
            codes = np.zeros((len(X), 4), dtype=np.int64)
            for j in range(4):
                sub = X[:, j * 16:(j + 1) * 16]
                d = ((sub[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d.argmin(axis=1)
            recs = []
            for qi in range(50):
                q = X[qi]
                truth = set(ids[np.argsort(
                    ((X - q) ** 2).sum(axis=1), kind="stable")[:10]])
                adc = np.zeros(len(X), dtype=np.int64)
                for j in range(4):
                    qd = ((C[j] - q[j * 16:(j + 1) * 16][None, :]) ** 2) \
                        .sum(axis=1)
                    adc += qd[codes[:, j]]
                got = set(ids[np.lexsort((ids, adc))[:10]])
                recs.append(len(got & truth) / 10)
            return sum(recs) / len(recs)

        cb0 = pq_codebooks(emb, m=4, k=16, dim=64)
        cb2 = pq_refine_codebooks(emb, cb0, iters=2, m=4, dim=64)
        assert gauge(cb2) >= gauge(cb0)

    def test_refine_keeps_empty_cell_centers(self, spark):
        """A codeword that attracts no members must keep its previous
        center (Lloyd empty-cluster policy), not vanish."""
        from pincette_json_streams_spark.functions.similarity import (
            pq_codebooks, pq_refine_codebooks,
        )
        # 4 tight clusters of vectors + 4 seed ids far away: some seeds
        # never win a vector, so their cells stay empty through Lloyd.
        rows = [(i, [float(1000 + i)] * 8) for i in range(4)] + \
               [(10 + i, [0.001 * i] * 8) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cb0 = pq_codebooks(df, m=2, k=4, dim=8)
        cb1 = pq_refine_codebooks(df, cb0, iters=2, m=2, dim=8)
        assert cb1.count() == 2 * 4
        nulls = cb1.filter(F.col("center").isNull()).count()
        assert nulls == 0



class TestVerifyPairsEditdist:
    """Edit-distance verification of candidate pairs (precision stage
    after LSH recall)."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "THE quick  brown fox jumps over the lazy dog"),
             (3, "the quick brown fox jumped over a lazy dog"),
             (4, "completely different text about spark shuffles")],
            "doc_id long, text string")

    def test_scores_and_threshold(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            verify_pairs_editdist,
        )
        docs = self._docs(spark)
        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
        out = {(r["id_a"], r["id_b"]): r["sim"]
               for r in verify_pairs_editdist(pairs, docs).collect()}
        assert out[(1, 2)] == 1.0          # normalization-identical
        assert 0.8 < out[(1, 3)] < 1.0     # near-dup
        assert out[(1, 4)] < 0.5           # unrelated
        # threshold filters
        from pincette_json_streams_spark.functions.dedup import (
            verify_pairs_editdist as v,
        )
        kept = v(pairs, docs, min_sim=0.8).count()
        assert kept == 2

    def test_cap_bounds_comparison(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            verify_pairs_editdist,
        )
        docs = spark.createDataFrame(
            [(1, "abc " * 500 + "TAIL-A"), (2, "abc " * 500 + "TAIL-B")],
            "doc_id long, text string")
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        # identical within the cap -> sim 1.0 even though tails differ
        (r,) = verify_pairs_editdist(pairs, docs, cap=100).collect()
        assert r["sim"] == 1.0

    def test_pairs_broadcast_not_doc_shuffle(self, spark):
        from pincette_json_streams_spark.functions.dedup import (
            verify_pairs_editdist,
        )
        docs = self._docs(spark)
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        plan = verify_pairs_editdist(pairs, docs)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestEmbeddingOutliers:
    def test_planted_outlier_found(self, spark):
        import numpy as np

        from pincette_json_streams_spark.functions.similarity import (
            embedding_outliers,
        )
        rng = np.random.RandomState(7)
        base = rng.normal(0, 0.01, (60, 8)) + np.array(
            [1.0] + [0.0] * 7)          # tight cluster near e1
        out = -np.array([1.0] + [0.0] * 7) + rng.normal(0, 0.01, (3, 8))
        rows = [(i, v.tolist()) for i, v in enumerate(np.vstack([base, out]))]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        found = {r["id"] for r in embedding_outliers(df, z_min=2.0).collect()}
        assert {60, 61, 62} <= found
        assert not (found & set(range(40)))

    def test_constant_distance_corpus_is_empty_not_nan(self, spark):
        """All-identical embeddings => stddev 0 => (d - mu)/sd would be
        0/0 = NaN, and floor(NaN) under ANSI mode kills the job.  A
        constant distribution has no outliers: must return empty."""
        from pincette_json_streams_spark.functions.similarity import (
            embedding_outliers,
        )
        rows = [(i, [1.0, 0.0, 0.0]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        assert embedding_outliers(df, z_min=-10.0).count() == 0

    def test_no_data_shuffle_in_plan(self, spark):
        import numpy as np

        from pincette_json_streams_spark.functions.similarity import (
            embedding_outliers,
        )
        rng = np.random.RandomState(3)
        rows = [(i, rng.normal(size=4).tolist()) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        plan = embedding_outliers(df, z_min=-10.0)._jdf.queryExecution() \
            .executedPlan().toString()
        # the only join is the broadcast of the 1-row stats frame
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" not in plan


class TestHdrSketch:
    """HDR-histogram mergeable quantile sketch."""

    def _vals(self, spark, vals, g=None):
        if g is None:
            return spark.createDataFrame([(float(v),) for v in vals],
                                         "v double")
        return spark.createDataFrame(
            [(gg, float(v)) for gg, v in zip(g, vals)],
            "g string, v double")

    def test_bucket_bounds_contain_values(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hdr_sketch,
        )
        vals = [0.0, 0.7, 1, 2, 3, 63, 64, 65, 1000, 123456.78]
        sk = hdr_sketch(self._vals(spark, vals), "v", sig_bits=5).collect()
        assert sum(r["n"] for r in sk) == len(vals)
        for r in sk:
            assert r["bucket_lo"] < r["bucket_hi"]
        # every value falls inside its bucket
        buckets = [(r["bucket_lo"], r["bucket_hi"]) for r in sk]
        for v in vals:
            assert any(lo <= int(v) < hi for lo, hi in buckets)

    def test_relative_width_bound(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hdr_sketch,
        )
        import random
        rnd = random.Random(5)
        vals = [rnd.uniform(1, 1e9) for _ in range(500)]
        for r in hdr_sketch(self._vals(spark, vals), "v",
                            sig_bits=6).collect():
            lo, hi = r["bucket_lo"], r["bucket_hi"]
            if lo >= (1 << 6):      # full-mantissa buckets
                assert (hi - lo) / lo <= 1 / (1 << 6) + 1e-12

    def test_merge_equals_whole(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hdr_merge, hdr_sketch,
        )
        import random
        rnd = random.Random(9)
        vals = [rnd.uniform(0, 1e6) for _ in range(400)]
        whole = {(r["bucket_lo"], r["bucket_hi"]): r["n"]
                 for r in hdr_sketch(self._vals(spark, vals), "v")
                 .collect()}
        a = hdr_sketch(self._vals(spark, vals[:150]), "v")
        b = hdr_sketch(self._vals(spark, vals[150:]), "v")
        merged = {(r["bucket_lo"], r["bucket_hi"]): r["n"]
                  for r in hdr_merge(a, b).collect()}
        assert merged == whole

    def test_quantiles_bracket_exact(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hdr_quantiles, hdr_sketch,
        )
        import random
        rnd = random.Random(3)
        vals = sorted(rnd.uniform(1, 1e5) for _ in range(1000))
        sk = hdr_sketch(self._vals(spark, vals), "v", sig_bits=6)
        out = {r["q"]: (r["lo"], r["hi"])
               for r in hdr_quantiles(sk, [0.5, 0.9, 0.99]).collect()}
        import math
        for q, (lo, hi) in out.items():
            exact = vals[max(math.ceil(q * len(vals)), 1) - 1]
            assert lo <= exact < hi + 1   # enclosing bucket (int floor)

    def test_grouped_and_plan_shape(self, spark):
        from pincette_json_streams_spark.functions.profiling import (
            hdr_quantiles, hdr_sketch,
        )
        df = self._vals(spark, [1, 2, 4, 8, 100, 200, 400, 800],
                        g=["a"] * 4 + ["b"] * 4)
        sk = hdr_sketch(df, "v", group_col="g")
        out = hdr_quantiles(sk, [0.5], group_col="g").collect()
        assert {r["g"] for r in out} == {"a", "b"}
        # the quantile join is a broadcast of the tiny q table
        plan = hdr_quantiles(sk, [0.5], group_col="g") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan


class TestHdrQuantilesStage:
    def test_pipeline_stage(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [("a", float(v)) for v in range(1, 101)], "g string, v double")
        pctx = PipelineContext()
        out = compile_pipeline(df, [
            {"$hdrQuantiles": {"value": "v", "by": "g", "sigBits": 6,
                               "q": [0.5], "_collection": "sk"}},
        ], pctx)
        (r,) = out.collect()
        assert r["g"] == "a" and r["lo"] <= 50 <= r["hi"]
        # the sketch state registered for later merging
        assert "sk" in pctx.catalog
        assert pctx.catalog["sk"].columns == ["g", "bucket_lo",
                                              "bucket_hi", "n"]


class TestKmvStages:
    def test_sketch_stage_estimate_and_catalog(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [("en", f"tok{i}") for i in range(200)]
            + [("de", f"tok{i}") for i in range(100, 260)],
            "lang string, token string")
        pctx = PipelineContext()
        out = compile_pipeline(df, [
            {"$kmvSketch": {"value": "token", "by": "lang", "k": 32,
                            "estimate": True, "_collection": "sk"}},
        ], pctx).collect()
        est = {r["lang"]: r["est_distinct"] for r in out}
        assert abs(est["en"] - 200) / 200 < 0.5
        assert "sk" in pctx.catalog
        assert pctx.catalog["sk"].columns == ["lang", "hashes", "sketch_k"]

    def test_overlap_stage(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [("a", f"v{i}") for i in range(10)]
            + [("b", f"v{i}") for i in range(5, 20)],
            "g string, v string")
        (r,) = compile_pipeline(df, [
            {"$kmvOverlap": {"value": "v", "by": "g", "k": 64}},
        ], PipelineContext()).collect()
        assert (r["group_a"], r["group_b"]) == ("a", "b")
        assert r["est_union"] == 20 and r["est_intersection"] == 5

    def test_batch_only_on_stream(self, spark):
        import pytest as _pytest

        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, UnsupportedExpression, compile_pipeline,
        )
        sdf = (spark.readStream.format("rate").load()
               .selectExpr("value AS v", "'g' AS g"))
        with _pytest.raises(UnsupportedExpression):
            compile_pipeline(sdf, [
                {"$kmvSketch": {"value": "v", "by": "g"}}
            ], PipelineContext())


class TestNearDupsStage:
    def test_pairs_and_verify(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog tonight"),
             (2, "the quick brown fox jumps over the lazy dog today"),
             (3, "spark engines shuffle partitions across the cluster")],
            "doc_id long, text string")
        out = compile_pipeline(df, [
            {"$nearDups": {"threshold": 0.4,
                           "verify": {"cap": 200, "minSim": 0.5}}},
        ], PipelineContext()).collect()
        assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
        (r,) = out
        assert r["jaccard"] >= 0.4 and r["sim"] >= 0.5


class TestEwmaStage:
    def test_pipeline_stage(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [(1, 1, 1.0), (1, 2, 2.0), (1, 3, 4.0)],
            "user_id long, t long, value double")
        out = compile_pipeline(df, [
            {"$ewma": {"value": "value", "by": "user_id",
                       "orderBy": ["t"], "window": 8}},
        ], PipelineContext()).collect()
        by_t = {r["t"]: r for r in out}
        assert by_t[3]["ewma"] == 3 * 10 ** 6  # 21e6 / 7 exactly


class TestPrefixJaccardStage:
    def test_pipeline_stage(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        base = "the quick brown fox jumps over the lazy dog tonight"
        df = spark.createDataFrame(
            [(1, base), (2, base + " again"),
             (3, "spark engines shuffle partitions across the cluster")],
            "doc_id long, text string")
        out = compile_pipeline(df, [
            {"$prefixJaccard": {"thresholdPct": 60, "n": 3}},
        ], PipelineContext()).collect()
        assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
        assert out[0]["jacc_e6"] >= 600000


class TestRobustZStage:
    def test_pipeline_stage(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [("a", i, float(i)) for i in range(1, 6)],
            "g string, id long, value double")
        out = compile_pipeline(df, [
            {"$robustZ": {"value": "value", "by": "g", "id": "id"}},
        ], PipelineContext()).collect()
        got = {r["id"]: r["z_e6"] for r in out}
        assert got[3] == 0 and got[5] == 2_000_000


class TestHdrDomainClamp:
    def test_nan_inf_negative_huge_never_crash_ansi(self, spark):
        """ANSI mode kills long casts on inf/overflow; the sketch must
        clamp: null/NaN/negatives -> [0,1), +inf/huge -> top bucket."""
        from pincette_json_streams_spark.functions.profiling import (
            hdr_sketch,
        )
        df = spark.createDataFrame(
            [(float("nan"),), (float("inf"),), (float("-inf"),),
             (-5.0,), (1e18,), (None,), (7.0,)], "v double")
        rows = {(r["bucket_lo"], r["bucket_hi"]): r["n"]
                for r in hdr_sketch(df, "v").collect()}
        assert rows[(0, 1)] == 4          # nan, -inf, -5, null
        assert sum(rows.values()) == 7
        assert all(lo < hi for lo, hi in rows)
        top = max(rows)[0]
        assert top == 1 << 62             # +inf clamped to 2^62


class TestAnsiHostileValues:
    """A single NaN/inf row must never kill a 100 TB job under Spark's
    default ANSI mode."""

    def test_quantize_nonfinite_elements(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            quantize_embeddings,
        )
        df = spark.createDataFrame(
            [(1, [float("inf"), 1.0]), (2, [0.5, float("nan")])],
            "vec_id long, embedding array<double>")
        rows = {r["vec_id"]: (list(r["q"]), r["q_scale"])
                for r in quantize_embeddings(df).collect()}
        # non-finite -> 0; scale from the finite elements only
        assert rows[1][0] == [0, 127]
        assert rows[2][0] == [127, 0]

    def test_weighted_sample_nan_weight_excluded(self, spark):
        from pincette_json_streams_spark.functions.sampling import (
            weighted_sample,
        )
        df = spark.createDataFrame(
            [(1, float("inf")), (2, 1.0), (3, float("nan"))],
            "doc_id long, w double")
        got = sorted(r["doc_id"]
                     for r in weighted_sample(df, "w", 5).collect())
        assert got == [1, 2]      # NaN excluded; +inf weight legal


class TestOutliersHostileVectors:
    def test_nan_zero_null_vectors_excluded_not_fatal(self, spark):
        """A NaN element, a zero vector (cosine 0/0) or a null row must
        be excluded from the centroid, the stats AND the output — not
        poison the mean or kill the job (ANSI floor(NaN))."""
        import numpy as np

        from pincette_json_streams_spark.functions.similarity import (
            embedding_outliers,
        )
        rows = [(i, np.random.RandomState(i).normal(size=4).tolist())
                for i in range(20)]
        rows += [(99, [float("nan"), 1.0, 1.0, 1.0]),
                 (98, [0.0] * 4), (97, None)]
        df = spark.createDataFrame(rows,
                                   "vec_id long, embedding array<double>")
        out = embedding_outliers(df, z_min=-100).collect()
        assert len(out) == 20
        assert not ({97, 98, 99} & {r["id"] for r in out})


class TestAnnHostileCorpusRows:
    def test_nan_null_embeddings_never_rank(self, spark):
        """NaN cosine scores come back as SQL NULL (Arrow NaN -> null)
        and NULL sorts last under desc — a hostile corpus row must
        never enter any query's top-k."""
        import numpy as np

        from pincette_json_streams_spark.functions.similarity import (
            brute_force_topk,
        )
        rows = [(i, np.random.RandomState(i).normal(size=4).tolist())
                for i in range(10)]
        rows += [(99, [float("nan")] * 4), (98, None)]
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        qs = spark.createDataFrame([(0, rows[0][1])],
                                   "query_id long, embedding array<double>")
        got = {r["vec_id"] for r in brute_force_topk(corpus, qs, k=5)
               .collect()}
        assert not ({98, 99} & got) and len(got) == 5


class TestSequenceExplosionGuards:
    def test_gapfill_corrupt_epoch_fails_fast(self, spark):
        """A millis-where-seconds epoch must raise an actionable error,
        not OOM the executor building a 10^8-row grid."""
        import pytest

        from pincette_json_streams_spark.functions.timeseries import (
            time_bucket_gapfill,
        )
        from pyspark.sql import functions as F
        df = spark.createDataFrame(
            [("a", 1_600_000_000, 1.0),
             ("a", 1_600_000_000_000, 2.0)],     # corrupt: millis
            "k string, ts long, v double")
        with pytest.raises(Exception, match="spans over"):
            time_bucket_gapfill(
                df, by="k", ts="ts", bucket=60,
                aggs={"s": F.sum("v")}).collect()
        # sane spans still fill
        ok = spark.createDataFrame(
            [("a", 0, 1.0), ("a", 180, 2.0)], "k string, ts long, v double")
        assert time_bucket_gapfill(
            ok, by="k", ts="ts", bucket=60,
            aggs={"s": F.sum("v")}).count() == 4


class TestBinarySketchAnn:
    def test_signature_bits(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            binary_signatures,
        )
        # 64 dims: dim 1 (big-endian bit 31 of lane 0) and dim 64
        # (bit 0 of lane 1) positive
        vec = [1.0] + [-1.0] * 62 + [0.5]
        df = spark.createDataFrame([(1, vec)],
                                   "vec_id long, embedding array<float>")
        (r,) = binary_signatures(df).collect()
        assert r["sig_0"] == 1 << 31
        assert r["sig_1"] == 1
        # zero is NOT positive (strict > 0, both engines)
        df0 = spark.createDataFrame([(1, [0.0] * 64)],
                                    "vec_id long, embedding array<float>")
        (r0,) = binary_signatures(df0).collect()
        assert r0["sig_0"] == 0 and r0["sig_1"] == 0

    def test_hamming_topk_orders_by_sign_agreement(self, spark):
        from pincette_json_streams_spark.functions.similarity import (
            hamming_topk,
        )
        base = [1.0] * 64
        flip8 = [1.0] * 56 + [-1.0] * 8
        flip32 = [1.0] * 32 + [-1.0] * 32
        df = spark.createDataFrame(
            [(0, base), (1, flip8), (2, flip32)],
            "vec_id long, embedding array<float>")
        q = df.filter("vec_id = 0") \
            .selectExpr("vec_id AS query_id", "embedding")
        rows = {r["rank"]: (r["vec_id"], r["hamming"])
                for r in hamming_topk(df, q, k=3).collect()}
        assert rows[1] == (0, 0)      # self
        assert rows[2] == (1, 8)
        assert rows[3] == (2, 32)

    def test_no_shuffle_before_topk_window(self, spark):
        """Sketching is a projection; the only exchange feeds the
        per-query rank window (plus the broadcast of the query side)."""
        from pincette_json_streams_spark.functions.similarity import (
            hamming_topk,
        )
        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = df.filter("vec_id % 100 = 0") \
            .selectExpr("vec_id AS query_id", "embedding")
        out = hamming_topk(df, q)
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        import re
        shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
        assert shuffles <= 2, plan[:2000]  # window exchange (tree+details)
        assert "CartesianProduct" not in plan

    def test_lsh_guaranteed_radius(self, spark):
        """Pigeonhole contract: with 8 byte-bands and 1-bit probes,
        every neighbour within Hamming (1 + 1) * 8 - 1 = 15 MUST be a
        candidate — plant vectors at distance 0, 8 (one flip per band)
        and 15 (two flips in seven bands, one in the eighth: the
        farthest the guarantee covers) and check they rank exactly as
        the exact kernel would."""
        from pincette_json_streams_spark.functions.similarity import (
            hamming_lsh_topk,
        )
        base = [1.0] * 64
        # one sign flip inside EVERY byte-band -> per-band distance 1,
        # total 8
        spread8 = [(-1.0 if i % 8 == 0 else 1.0) for i in range(64)]
        # bands 0-6 differ in two bits, band 7 in one: only band 7 is
        # within a 1-bit probe
        spread15 = [(-1.0 if i % 8 < 2 and i < 56 or i == 56 else 1.0)
                    for i in range(64)]
        df = spark.createDataFrame(
            [(0, base), (1, spread8), (2, spread15)],
            "vec_id long, embedding array<float>")
        q = df.filter("vec_id = 0") \
            .selectExpr("vec_id AS query_id", "embedding")
        rows = {r["rank"]: (r["vec_id"], r["hamming"])
                for r in hamming_lsh_topk(df, q, k=3).collect()}
        assert rows[1] == (0, 0)
        assert rows[2] == (1, 8)
        assert rows[3] == (2, 15)

    def test_one_row_per_pair_across_colliding_bands(self, spark):
        """A pair whose sketches collide in several bands (identical
        sketches collide in all of them) is ONE output row in every
        banded operator: the first-colliding-band filter keeps one
        join row per pair.  Rows are compared as sorted lists, so a
        duplicate cannot hide behind a dict key."""
        from pincette_json_streams_spark.functions.dedup import (
            _hash_str_py, _normalize_py, simhash_pairs,
        )
        from pincette_json_streams_spark.functions.similarity import (
            binary_signatures, hamming_lsh_topk, hamming_near_pairs,
            hamming_probe,
        )
        base = [1.0] * 64
        one = [-1.0] + [1.0] * 63   # one bit off: 7 of 8 bands collide
        df = spark.createDataFrame(
            [(0, base), (1, base), (2, one)],
            "vec_id long, embedding array<float>")
        sigs = binary_signatures(df, dims=64)
        dist = {(0, 1): 0, (0, 2): 1, (1, 2): 1}

        def d(i, j):
            return 0 if i == j else dist[min(i, j), max(i, j)]

        pairs = sorted((r["id_a"], r["id_b"], r["hamming"])
                       for r in hamming_near_pairs(sigs).collect())
        assert pairs == [(0, 1, 0), (0, 2, 1), (1, 2, 1)]
        probed = sorted((r["vec_id"], r["match_id"], r["hamming"])
                        for r in hamming_probe(sigs, sigs).collect())
        assert probed == [(i, j, d(i, j)) for i in range(3)
                          for j in range(3)]
        q = df.selectExpr("vec_id AS query_id", "embedding")
        ranked = sorted((r["query_id"], r["vec_id"], r["hamming"])
                        for r in hamming_lsh_topk(df, q, k=10).collect())
        assert ranked == [(i, j, d(i, j)) for i in range(3)
                          for j in range(3)]

        # SimHash: identical texts share a signature (the digest-group
        # path); the third text's signature differs but collides with
        # theirs in at least two 10-bit bands
        texts = ["the quick brown fox", "the quick brown fox",
                 "the quick brown cat"]

        def simhash(t):
            hs = [_hash_str_py(w)
                  for w in dict.fromkeys(_normalize_py(t).split(" "))]
            return sum(1 << b for b in range(60)
                       if 2 * sum(h >> b & 1 for h in hs) > len(hs))

        a, c = simhash(texts[0]), simhash(texts[2])
        assert a != c
        assert sum((a >> s & 1023) == (c >> s & 1023)
                   for s in range(0, 60, 10)) >= 2
        docs = spark.createDataFrame(
            list(enumerate(texts, 1)), "doc_id long, text string")
        got = sorted((r["id_a"], r["id_b"])
                     for r in simhash_pairs(docs, max_hamming=60)
                     .collect())
        assert got == [(1, 2), (1, 3), (2, 3)]

    def test_rank_is_bigint_on_every_topk(self, spark):
        """Every top-k search ranks through one tail: ``rank`` is a
        bigint on the cosine and the Hamming operators alike."""
        from pincette_json_streams_spark.functions.similarity import (
            brute_force_topk, hamming_lsh_topk, hamming_topk,
            hard_negative_topk, ivf_topk,
        )
        df = spark.createDataFrame(
            [(0, [1.0] * 64, 1), (1, [-1.0] * 64, 2)],
            "vec_id long, embedding array<float>, label int")
        q = df.selectExpr("vec_id AS query_id", "embedding", "label")
        outs = [brute_force_topk(df, q), hard_negative_topk(df, q),
                ivf_topk(df, q, centroids=[[1.0] * 64]),
                hamming_topk(df, q), hamming_lsh_topk(df, q)]
        assert [o.schema["rank"].dataType.simpleString()
                for o in outs] == ["bigint"] * 5

    def test_lsh_mirror_and_recall(self, spark):
        """Pure-Python mirror of the full banded plan on deterministic
        pseudo-random vectors: the Spark result must equal the mirror
        EXACTLY (same candidates, same ranks), and candidate recall
        vs the exact kernel must clear 0.8 on this corpus."""
        import hashlib
        from pincette_json_streams_spark.functions.similarity import (
            hamming_lsh_topk, hamming_topk,
        )

        def vec(i):
            out = []
            for j in range(64):
                h = hashlib.md5(f"{i}:{j}".encode()).digest()[0]
                out.append(1.0 if h % 2 else -1.0)
            return out

        n, k = 120, 5
        data = [(i, vec(i)) for i in range(n)]
        df = spark.createDataFrame(
            data, "vec_id long, embedding array<float>")
        q = df.filter("vec_id % 40 = 0") \
            .selectExpr("vec_id AS query_id", "embedding")

        def sig(v):
            s = [0, 0]
            for lane in range(2):
                for j in range(32):
                    s[lane] = s[lane] * 2 + (1 if v[lane * 32 + j] > 0
                                             else 0)
            return s

        def bands(s):
            return [((s[b // 4] >> ((3 - b % 4) * 8)) & 255, b)
                    for b in range(8)]

        sigs = {i: sig(v) for i, v in data}
        expect = {}
        for qid in (0, 40, 80):
            probes = set()
            for bv, b in bands(sigs[qid]):
                probes.add((bv, b))
                for j in range(8):
                    probes.add((bv ^ (1 << j), b))
            cands = sorted(
                (bin(sigs[i][0] ^ sigs[qid][0]).count("1")
                 + bin(sigs[i][1] ^ sigs[qid][1]).count("1"), i)
                for i in range(n)
                if any((bv, b) in probes for bv, b in bands(sigs[i])))
            expect[qid] = [(r + 1, i, h)
                           for r, (h, i) in enumerate(cands[:k])]
        got = {}
        for r in hamming_lsh_topk(df, q, k=k).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["vec_id"], r["hamming"]))
        for qid in expect:
            assert sorted(got[qid]) == expect[qid], qid

    def test_hard_negative_topk(self, spark):
        """The label filter excludes same-label rows BEFORE ranking
        (a same-label vector closer than every negative must not
        consume a rank), ordering matches the rounded-cosine/vec_id
        contract, and a query whose label covers the whole corpus
        yields nothing."""
        from pincette_json_streams_spark.functions.similarity import (
            hard_negative_topk,
        )
        rows = [
            (0, [1.0, 0.0], 7),    # the query
            (1, [1.0, 0.001], 7),  # same label, nearest — excluded
            (2, [1.0, 0.1], 3),    # hard negative (closest other-label)
            (3, [0.0, 1.0], 3),    # easy negative
            (4, [1.0, 0.2], 7),    # same label — excluded
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label int")
        q = df.filter("vec_id = 0").selectExpr(
            "vec_id AS query_id", "embedding", "label")
        got = [(r["rank"], r["vec_id"], r["neg_label"])
               for r in hard_negative_topk(df, q, k=5)
               .orderBy("rank").collect()]
        assert got == [(1, 2, 3), (2, 3, 3)]
        # all-same-label corpus: no negatives exist
        uni = df.withColumn("label", F.lit(7))
        qq = uni.filter("vec_id = 0").selectExpr(
            "vec_id AS query_id", "embedding", "label")
        assert hard_negative_topk(uni, qq, k=5).count() == 0

    def test_balanced_topn_sample(self, spark):
        """Exact per-stratum counts, md5-rank determinism (python
        mirror), replay determinism over a grown stratum (the
        selection is RE-DERIVED — membership can change as rows are
        added; only reruns on identical data are exact replays), and
        strata smaller than n survive whole."""
        import hashlib
        from pincette_json_streams_spark.functions.sampling import (
            balanced_topn_sample,
        )
        rows = [(i, "big") for i in range(50)] + \
               [(100 + i, "small") for i in range(3)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = balanced_topn_sample(df, "lang", 5).collect()
        by_lang = {}
        for r in out:
            by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
        assert len(by_lang["big"]) == 5
        assert by_lang["small"] == {100, 101, 102}  # undersized: all
        # python mirror of the md5 ranking
        expect = set(sorted(
            range(50),
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:5])
        assert by_lang["big"] == expect
        # growth determinism: after appending 50 new keys the
        # selection still equals the python mirror over the grown
        # stratum — no RNG, no order dependence, a rerun is a replay
        grown = df.unionByName(spark.createDataFrame(
            [(1000 + i, "big") for i in range(50)],
            "doc_id long, lang string"))
        out5 = {r["doc_id"] for r in balanced_topn_sample(
            grown, "lang", 5).collect() if r["lang"] == "big"}
        expect_grown = set(sorted(
            list(range(50)) + [1000 + i for i in range(50)],
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:5])
        assert out5 == expect_grown

    def test_hamming_near_pairs_guaranteed_radius(self, spark):
        """Self-join pigeonhole: a pair at distance d < n_bands always
        shares an exact band, so max_hamming <= 7 (64-bit sketch, 8
        byte-bands) has ZERO false negatives; beyond-radius pairs must
        not appear at the default threshold."""
        from pincette_json_streams_spark.functions.similarity import (
            binary_signatures, hamming_near_pairs,
        )
        base = [1.0] * 64
        spread7 = [(-1.0 if i in (0, 9, 18, 27, 36, 45, 54) else 1.0)
                   for i in range(64)]   # one flip in 7 of 8 bands
        far = [(-1.0 if i % 2 == 0 else 1.0) for i in range(64)]
        df = spark.createDataFrame(
            [(0, base), (1, spread7), (2, far)],
            "vec_id long, embedding array<float>")
        sigs = binary_signatures(df, dims=64)
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in hamming_near_pairs(sigs).collect()}
        assert got == {(0, 1): 7}

    def test_hamming_near_pairs_lane_width_guard(self, spark):
        """A 64-bit lane (e.g. a dHash) passed with the default
        lane_bits=32 must raise at execution instead of silently
        banding only the low 32 bits (which would shrink the
        guaranteed radius from 7 to 3 with no visible signal)."""
        from pincette_json_streams_spark.functions.similarity import (
            hamming_near_pairs,
        )
        df = spark.createDataFrame(
            [(0, 1 << 40), (1, 1 << 40)], "vec_id long, dhash long")
        with pytest.raises(Exception, match="does not fit lane_bits"):
            hamming_near_pairs(df, lane_cols=["dhash"]).collect()
        # the correct call works, and negative int64 dHashes are fine
        # at lane_bits=64 (no guard applies)
        neg = spark.createDataFrame(
            [(0, -(1 << 62)), (1, -(1 << 62))],
            "vec_id long, dhash long")
        got = hamming_near_pairs(
            neg, lane_cols=["dhash"], lane_bits=64).collect()
        assert [(r["id_a"], r["id_b"], r["hamming"])
                for r in got] == [(0, 1, 0)]
        # IntegerType lanes must not defeat the guard: shiftright on
        # an int column masks the shift amount (32 & 31 = 0), so the
        # guard casts to long first (ADVICE r10)
        int_df = spark.createDataFrame(
            [(0, 7), (1, 7)], "vec_id long, sig int")
        got_i = hamming_near_pairs(
            int_df, lane_cols=["sig"], lane_bits=32).collect()
        assert [(r["id_a"], r["id_b"]) for r in got_i] == [(0, 1)]

    def test_hamming_probe_lane_width_guard(self, spark):
        """The streaming probe carries the SAME lane-width guard as
        its batch twin on BOTH sides: a 64-bit dHash probed with the
        default lane_bits=32 raises at execution (a production stream
        would otherwise silently lose recall at distances 4..7)
        instead of emitting a missable Python warning (ADVICE r10)."""
        from pincette_json_streams_spark.functions.similarity import (
            hamming_probe,
        )
        wide = spark.createDataFrame(
            [(0, 1 << 40)], "vec_id long, sig_0 long")
        ok = spark.createDataFrame(
            [(1, 5)], "vec_id long, sig_0 long")
        # probe side over-wide
        with pytest.raises(Exception, match="does not fit lane_bits"):
            hamming_probe(wide, ok, lane_cols=["sig_0"],
                          band_bits=8, lane_bits=32).collect()
        # index side over-wide
        with pytest.raises(Exception, match="does not fit lane_bits"):
            hamming_probe(ok, wide, lane_cols=["sig_0"],
                          band_bits=8, lane_bits=32).collect()
        # 64-bit lanes (negative dHashes included) pass with
        # lane_bits=64 — the guard is identity there
        neg = spark.createDataFrame(
            [(0, -(1 << 62))], "vec_id long, dhash long")
        neg2 = spark.createDataFrame(
            [(9, -(1 << 62))], "vec_id long, dhash long")
        got = hamming_probe(
            neg, neg2, lane_cols=["dhash"], lane_bits=64,
            band_bits=8).collect()
        assert [(r["vec_id"], r["match_id"], r["hamming"])
                for r in got] == [(0, 9, 0)]

    def test_hamming_pairs_image_dhash_composition(self, spark):
        """End-to-end image near-dup: PNG bytes -> resize_image dHash
        -> hamming_near_pairs on the single 64-bit lane.  Identical
        images pair at distance 0; a structurally different image
        stays out at the guaranteed radius."""
        import struct
        import zlib
        from pincette_json_streams_spark.functions.multimodal import (
            resize_image,
        )
        from pincette_json_streams_spark.functions.similarity import (
            hamming_near_pairs,
        )

        def chunk(typ, data):
            c = struct.pack(">I", len(data)) + typ + data
            return c + struct.pack(
                ">I", zlib.crc32(typ + data) & 0xFFFFFFFF)

        def png(pixels, w, h):
            raw = b"".join(b"\x00" + bytes(row) for row in pixels)
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
            return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw))
                    + chunk(b"IEND", b""))

        # 4x4 horizontal gradient (dHash-friendly structure) and an
        # inverted one
        grad = [[v for x in range(4) for v in (x * 80, x * 80, x * 80)]
                for _ in range(4)]
        inv = [[v for x in range(4)
                for v in ((3 - x) * 80, (3 - x) * 80, (3 - x) * 80)]
               for _ in range(4)]
        df = spark.createDataFrame(
            [(1, bytearray(png(grad, 4, 4))),
             (2, bytearray(png(grad, 4, 4))),
             (3, bytearray(png(inv, 4, 4)))],
            "asset_id long, media binary")
        sk = resize_image(df).select(
            "asset_id", F.col("thumb.dhash").alias("dhash"))
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in hamming_near_pairs(
                   sk, id_col="asset_id", lane_cols=["dhash"],
                   lane_bits=64, max_hamming=7).collect()}
        assert got == {(1, 2): 0}

    def test_lsh_recall_on_real_corpus(self, spark):
        """Recall gauge vs the exact kernel, ann_recall-style, on the
        real (clustered) embeddings where neighbours sit inside or
        near the guaranteed radius — sign-random corpora put top-k at
        Hamming ~d/2 where any LSH index honestly degrades."""
        from pincette_json_streams_spark.functions.similarity import (
            hamming_lsh_topk, hamming_topk,
        )
        df = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        q = df.filter("vec_id % 100 = 0") \
            .selectExpr("vec_id AS query_id", "embedding")
        exact = {(r["query_id"], r["vec_id"])
                 for r in hamming_topk(df, q, k=10).collect()}
        approx = {(r["query_id"], r["vec_id"])
                  for r in hamming_lsh_topk(df, q, k=10).collect()}
        assert len(exact & approx) / len(exact) >= 0.75

    def test_lsh_no_cartesian_and_broadcast_probes(self, spark):
        """Index contract: candidates come from a band equi-join
        against the BROADCAST probe set — never a crossJoin of the
        corpus."""
        from pincette_json_streams_spark.functions.similarity import (
            hamming_lsh_topk,
        )
        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = df.filter("vec_id % 100 = 0") \
            .selectExpr("vec_id AS query_id", "embedding")
        plan = hamming_lsh_topk(df, q)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoop" not in plan
        assert "BroadcastHashJoin" in plan


class TestMeanShiftChangepoints:
    def _df(self, spark, rows):
        return spark.createDataFrame(
            rows, "event_type string, ts_nanos long, event_id long, "
                  "value double")

    def test_detects_planted_step(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            mean_shift_changepoints,
        )
        # 20 points at 1.0 then 20 at 5.0; window=5 -> the boundary
        # (first point of the high regime, t=20) maximizes the shift
        rows = [("a", t, t, 1.0 if t < 20 else 5.0) for t in range(40)]
        out = mean_shift_changepoints(
            self._df(spark, rows), window=5, top=1).collect()
        (r,) = out
        assert r["event_id"] == 20
        assert r["shift_e6"] == 5 * 5_000_000 - 5 * 1_000_000

    def test_full_windows_only_and_hostile_values(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            mean_shift_changepoints,
        )
        rows = [("a", t, t, float("nan") if t == 3 else 1.0)
                for t in range(8)]
        rows.append(("a", 99, 99, float("inf")))
        # 8 clean points, window=4: no position has 4 before AND 4
        # after -> empty, and the NaN/inf rows never poison a sum
        out = mean_shift_changepoints(
            self._df(spark, rows), window=4, top=3).collect()
        assert out == []

    def test_single_keyed_exchange(self, spark):
        from pincette_json_streams_spark.functions.timeseries import (
            mean_shift_changepoints,
        )
        rows = [("a", t, t, float(t % 7)) for t in range(200)]
        out = mean_shift_changepoints(self._df(spark, rows), window=10)
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        import re
        shuffles = len(set(re.findall(
            r"Exchange hashpartitioning\(g[#\d, ]*", plan)))
        assert shuffles <= 1, plan[:2000]


class TestRound8Stages:
    def test_hamming_topk_stage(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [(0, [1.0] * 64), (1, [1.0] * 60 + [-1.0] * 4),
             (100, [-1.0] * 64)],
            "vec_id long, embedding array<float>")
        rows = compile_pipeline(df, [
            {"$hammingTopk": {"k": 2, "queries": {"mod": 100}}},
        ], PipelineContext()).collect()
        got = {(r["query_id"], r["rank"]): (r["vec_id"], r["hamming"])
               for r in rows}
        assert got[(0, 1)] == (0, 0)
        assert got[(0, 2)] == (1, 4)
        assert got[(100, 1)] == (100, 0)

    def test_changepoints_stage(self, spark):
        from pincette_json_streams_spark.operators.stages import (
            PipelineContext, compile_pipeline,
        )
        df = spark.createDataFrame(
            [("a", t, t, 1.0 if t < 20 else 3.0) for t in range(40)],
            "event_type string, ts_nanos long, event_id long, "
            "value double")
        (r,) = compile_pipeline(df, [
            {"$changepoints": {"window": 5, "top": 1}},
        ], PipelineContext()).collect()
        assert r["event_id"] == 20
        assert r["shift_e6"] == 5 * 3_000_000 - 5 * 1_000_000


class TestCrawl:
    """Round-12 web-crawl ingestion tier (functions/crawl.py):
    WARC demux + Arc90-style HTML main-content extraction."""

    @staticmethod
    def _warc_response(uri, body, rec_id="<urn:uuid:1>"):
        http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + body)
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Record-ID: " + rec_id.encode() + b"\r\n"
                b"WARC-Target-URI: " + uri.encode() + b"\r\n"
                b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"Content-Length: " + str(len(http)).encode()
                + b"\r\n\r\n" + http + b"\r\n\r\n")

    _WARCINFO = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
                 b"Content-Length: 9\r\n\r\nfoo: bar\n\r\n\r\n")

    def test_warc_gzip_variants_demux_identically(self, spark):
        import gzip

        from pincette_json_streams_spark.functions.crawl import (
            gzip_members, warc_records,
        )
        recs = [self._WARCINFO,
                self._warc_response("https://x.example/1",
                                    b"<p>first page body text</p>"),
                self._warc_response("https://x.example/2",
                                    b"<p>second page body text</p>")]
        plain = b"".join(recs)
        df = spark.createDataFrame(
            [("plain", bytearray(plain)),
             ("member_gz", bytearray(gzip_members(recs))),
             ("whole_gz", bytearray(gzip.compress(plain)))],
            "variant string, warc binary")
        rows = warc_records(df, "warc").collect()
        by_var = {}
        for r in rows:
            by_var.setdefault(r["variant"], []).append(
                (r["warc_type"], r["target_uri"], r["http_status"],
                 bytes(r["payload"]) if r["payload"] else None))
        assert set(by_var) == {"plain", "member_gz", "whole_gz"}
        expect = [("warcinfo", None, None, b"foo: bar\n"),
                  ("response", "https://x.example/1", 200,
                   b"<p>first page body text</p>"),
                  ("response", "https://x.example/2", 200,
                   b"<p>second page body text</p>")]
        for var, got in by_var.items():
            assert got == expect, var

    def test_warc_truncated_and_garbage_are_honest(self, spark):
        from pincette_json_streams_spark.functions.crawl import (
            warc_records,
        )
        good = self._warc_response("https://x.example/1",
                                   b"<p>kept page</p>")
        cut = self._warc_response("https://x.example/2",
                                  b"<p>lost page</p>")[:-30]
        df = spark.createDataFrame(
            [(1, bytearray(good + cut)), (2, bytearray(b"not warc")),
             (3, None)],
            "fid long, warc binary")
        rows = warc_records(df, "warc").collect()
        # the truncated trailing record demuxes to NOTHING (partial
        # demux of a truncated file, never a garbage record)
        assert [(r["fid"], r["target_uri"]) for r in rows] \
            == [(1, "https://x.example/1")]

    def test_fast_scanner_matches_html_parser(self):
        """r12: the SAFE-class regex scanner must be byte-identical to
        the html.parser path — seeded differential fuzz over nested
        tags, entities, comments, declarations, script/style CDATA
        (incl. fake tags in strings), quoted/unquoted attrs, unclosed
        tags, and a corner-case gallery.  Unsafe pages exercise the
        fallback (trivially identical); safe pages exercise the
        scanner against the reference parser."""
        import random

        from pincette_json_streams_spark.functions.crawl import (
            _SAFE_RX, _MainText, extract_main_text,
        )

        def reference(html, mbc=15, mld=0.4):
            p = _MainText()
            try:
                p.feed(html)
                p.close()
            except Exception:
                return (None, None, None)
            p._flush()
            title = " ".join("".join(p.title_parts).split())
            kept = [t for t, lc in p.blocks
                    if len(t) >= mbc and lc <= mld * len(t)]
            return (title, "\n".join(kept), len(kept))

        rng = random.Random(12345)
        tags = ["p", "div", "a", "span", "b", "title", "script",
                "style", "nav", "li", "article", "template", "svg",
                "noscript", "br", "h1", "td", "footer"]
        words = ["alpha", "beta &amp; gamma", "x &lt;y&gt;",
                 "hello world", "&#65;BC", "text & more", "caf\xe9",
                 "1 < 2", "a>b", "&amp", "&nosuch;",
                 "nul\x00data", "tail]]>"]

        def attrs():
            r = rng.random()
            if r < 0.5:
                return ""
            if r < 0.7:
                return ' class="x y"'
            if r < 0.8:
                return " href='/a/b'"
            if r < 0.88:
                return ' data-x="q>r"'  # quoted '>' => fallback class
            if r < 0.94:
                return " id=plain"
            return " a='\x00'"  # NUL in a tag => fallback class (r13)

        def page(depth=0):
            out = []
            for _ in range(rng.randint(1, 6)):
                r = rng.random()
                if r < 0.35 or depth > 4:
                    out.append(rng.choice(words))
                elif r < 0.45:
                    out.append("<!-- note %s -->"
                               % rng.choice(["x", "-", "a- -b", ">"]))
                elif r < 0.5:
                    out.append(rng.choice(
                        ["<!DOCTYPE html>", "<?pi x?>",
                         # marked sections / quote-closers: r13 ADVICE
                         # divergence classes, must hit the fallback
                         "<![CDATA[a>b]]>", "</p'>", '</b">']))
                else:
                    t = rng.choice(tags)
                    if t in ("script", "style"):
                        body = rng.choice(
                            ["var x=1;", 'var s="<p>junk</p>";',
                             "a < b && b > c", "/* -- */", ""])
                        out.append(f"<{t}{attrs()}>{body}</{t}>")
                    elif t == "br":
                        out.append("<br>" if rng.random() < 0.5
                                   else "<br/>")
                    else:
                        inner = (page(depth + 1)
                                 if rng.random() < 0.7
                                 else rng.choice(words))
                        if rng.random() < 0.9:
                            out.append(f"<{t}{attrs()}>{inner}</{t}>")
                        else:
                            out.append(f"<{t}{attrs()}>{inner}")
            return "".join(out)

        n_safe = 0
        for _ in range(2500):
            h = page()
            if _SAFE_RX.fullmatch(h) is not None:
                n_safe += 1
            assert extract_main_text(h) == reference(h), h
        assert n_safe >= 500  # the fast path is actually exercised

        corner = [
            "", "plain", "a < b", "<p>x</p>", "<<p>>", "<!-->",
            "<!--->", "<!-- -- >x-->tail", "<p>1<p>2", "</p>stray",
            "<P CLASS='X'>Mixed</P>", "<a><a>xx</a>y</a>z",
            "<script>", "<script>x",
            "<title>T &amp; <b>t</b></title><p>Some main content"
            " here</p>",
            "<script src='x'/>data after self-closed script</script>",
            "<template><p>hidden</p></template><p>visible paragraph"
            " content</p>",
            "<svg><text>ignored</text></svg><p>plenty of visible"
            " prose here</p>",
            "<div a=1 b='2' c=\"3\">unquoted and quoted attrs"
            " body</div>",
            "<p>x</p  >odd close", "<p/>solo", "<br></br>",
            "<a href=/x>link text here</a>",
            # r13 ADVICE gallery: three classes of page the r12 SAFE
            # class admitted but tokenized differently from
            # html.parser — all must now take the fallback path
            "<p>long enough text here </p'> more text</p>",
            "<p>quote close</p\">tail text goes here</p>",
            "<![CDATA[a>b]]><p>visible paragraph content</p>",
            "x<![CDATA[hidden > stuff]]>y<p>main prose block here</p>",
            "<!%s>odd marked section body here" % "[RCDATA[q>r]]",
            "<p\x00 class='x'>text with a NUL-name tag</p>",
            "<p>attr NUL<b a='\x00v'>bold text body</b></p>",
            "<p \x00>NUL in attrs of a real paragraph tag</p>",
            "</p\x00>NUL close-tag name with trailing prose",
        ]
        for h in corner:
            assert extract_main_text(h) == reference(h), h
            # and every ADVICE page must be OUT of the SAFE class
            if "\x00" in h or "<![" in h or "</p'" in h or '</p"' in h:
                assert _SAFE_RX.fullmatch(h) is None, h

    def test_html_extract_filters_and_nulls(self, spark):
        from pincette_json_streams_spark.functions.crawl import (
            html_extract,
        )
        page = ("<html><head><title>T &amp; t</title>"
                "<script>ignore<p>this</p></script></head><body>"
                "<nav><a>Home</a> <a>About</a> <a>Contact</a></nav>"
                "<p>Main content paragraph number one here.</p>"
                "<p>short</p>"
                "<div>Second real block, plain prose with "
                "<a>one link</a> inside but mostly text.</div>"
                "</body></html>")
        df = spark.createDataFrame(
            [(1, page), (2, None)], "pid long, html string")
        rows = {r["pid"]: r for r in html_extract(df, "html").collect()}
        assert rows[1]["title"] == "T & t"
        assert rows[1]["text"] == (
            "Main content paragraph number one here.\n"
            "Second real block, plain prose with one link inside "
            "but mostly text.")
        assert rows[1]["n_blocks"] == 2
        assert rows[2]["title"] is None and rows[2]["text"] is None \
            and rows[2]["n_blocks"] is None

    def test_link_density_boundary(self):
        from pincette_json_streams_spark.functions.crawl import (
            extract_main_text,
        )
        # 20 chars, 8 link chars = 0.4 exactly -> kept (<=)
        kept = "<p><a>12345678</a>x 2345678901</p>"
        t = extract_main_text(kept, min_block_chars=10,
                              max_link_density=0.4)
        assert t[1] == "12345678x 2345678901"
        # 9 link chars of 20 = 0.45 -> dropped
        t = extract_main_text("<p><a>123456789</a>x 345678901</p>",
                              min_block_chars=10,
                              max_link_density=0.4)
        assert t[1] == ""


class TestRobots:
    """Round-12 Robots Exclusion Protocol (functions/robots.py, RFC
    9309 subset): parse -> rules table -> all-native longest-match
    decision."""

    TXT = ("User-agent: *\n"
           "Disallow: /private/\n"
           "Allow: /private/pub\n"
           "Disallow: /*.pdf$\n"
           "\n"
           "User-agent: gptbot\n"
           "Disallow: /\n"
           "Allow: /api/\n")

    def _decide(self, spark, urls, agent="*"):
        from pincette_json_streams_spark.functions.robots import (
            robots_rules, url_allowed,
        )
        robots = spark.createDataFrame(
            [("example.com", self.TXT), ("open.org", None)],
            "host string, robots string")
        df = spark.createDataFrame(
            [(i, u) for i, u in enumerate(urls)],
            "uid long, url string")
        out = url_allowed(df, robots_rules(robots), agent=agent)
        return [r["allowed"] for r in out.orderBy("uid").collect()]

    def test_longest_match_wildcards_and_defaults(self, spark):
        urls = [
            "https://example.com/private/doc.html",   # Disallow
            "https://example.com/private/pub/x",      # longer Allow
            "https://example.com/report.pdf",         # /*.pdf$
            "https://example.com/report.pdf?x=1",     # $ anchor -> no
            "https://example.com/ok/page",            # no match
            "http://u@EXAMPLE.com:8080/private/y",    # host normalizes
            "https://example.com",                    # path defaults /
            "https://open.org/anything",              # no robots
        ]
        assert self._decide(spark, urls) == [
            False, True, False, True, True, False, True, True]

    def test_agent_group_selection(self, spark):
        urls = ["https://example.com/api/go",
                "https://example.com/other",
                "https://open.org/x"]
        # gptbot group overrides * entirely for example.com
        assert self._decide(spark, urls, agent="GPTBot") == [
            True, False, True]

    def test_parse_semantics(self):
        from pincette_json_streams_spark.functions.robots import (
            parse_robots,
        )
        # stacked UA lines share the group; empty Disallow is no
        # rule; comments and unknown directives drop; a UA line
        # after rules starts a NEW group
        txt = ("User-agent: a\nUser-agent: b\n"
               "Disallow: /x # comment\n"
               "Crawl-delay: 10\n"
               "Disallow:\n"
               "User-agent: c\nAllow: /y\n")
        assert parse_robots(txt) == [
            ("a", False, "/x"), ("b", False, "/x"),
            ("c", True, "/y")]
        assert parse_robots(None) == []

    def test_rules_passthrough_of_url_columns(self, spark):
        from pincette_json_streams_spark.functions.robots import (
            robots_rules, url_allowed,
        )
        robots = spark.createDataFrame(
            [("h.example", "User-agent: *\nDisallow: /no\n")],
            "host string, robots string")
        urls = spark.createDataFrame(
            [(1, "k1", "https://h.example/no/1"),
             (2, "k2", "https://h.example/yes")],
            "uid long, tag string, url string")
        rows = {r["uid"]: (r["tag"], r["allowed"])
                for r in url_allowed(
                    urls, robots_rules(robots)).collect()}
        assert rows == {1: ("k1", False), 2: ("k2", True)}


class TestReleaseCaches:
    """functions.release_caches(): the library-user cleanup for the
    internal persists (LSH group tables, the frame/window rollup lane
    table).  The CacheManager holds those entries until an explicit
    unpersist — they are NOT garbage-collected with the Python
    DataFrame — so a long-lived session needs this surface (bench.py
    clears the whole cache between queries; library callers should
    not have to nuke their own caches too)."""

    def test_release_caches_empties_cache_manager(self, spark):
        from pincette_json_streams_spark.functions import (
            release_caches,
        )
        from pincette_json_streams_spark.functions.dedup import (
            minhash_lsh_pairs,
        )
        release_caches()  # other tests' leftovers are not ours
        cm = spark._jsparkSession.sharedState().cacheManager()
        df = spark.createDataFrame(
            [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
            "id long, text string")
        minhash_lsh_pairs(df, "text", "id").collect()
        assert not cm.isEmpty()
        assert release_caches() >= 1
        assert cm.isEmpty()
        assert release_caches() == 0

    def test_lane_rollup_persist_is_tracked(self, spark):
        from pincette_json_streams_spark.functions import (
            release_caches,
        )
        from pincette_json_streams_spark.functions.multimodal import (
            _lane_rollup_pairs,
        )
        release_caches()
        fps = spark.createDataFrame(
            [(1, 0, 7), (1, 1, 9), (2, 0, 7), (2, 1, 9)],
            "vid long, frame_idx long, lane long")
        rows = _lane_rollup_pairs(
            fps, id_col="vid", idx_col="frame_idx", lane_col="lane",
            max_hamming=0, min_matching=2, out_a="vid_a",
            out_b="vid_b", count_name="matching_frames",
            op="video_near_pairs").collect()
        assert [(r["vid_a"], r["vid_b"]) for r in rows] == [(1, 2)]
        assert release_caches() >= 1


class TestRunScopedCaches:
    """An internal cache serves only the run that made it: a rewritten
    input is read afresh in the same session, by a direct function call
    and by an Application, and an Application's caches are released
    once it and its outputs are garbage."""

    NEAR_DUPS = {"application": "dups", "parts": [
        {"type": "stream", "name": "pairs", "fromTopic": "docs",
         "toTopic": "pairs", "pipeline": [
             {"$nearDups": {"text": "text", "id": "id",
                            "threshold": 0.5}}]}]}

    @staticmethod
    def _write(path, texts):
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({"id": list(range(1, len(texts) + 1)),
                                 "text": texts}), path)

    def _pairs(self, spark, path):
        from pincette_json_streams_spark import Application
        from pincette_json_streams_spark.functions.dedup import (
            minhash_lsh_pairs,
        )
        direct = minhash_lsh_pairs(spark.read.parquet(path), "text", "id")
        app = Application(self.NEAR_DUPS,
                          {"docs": spark.read.parquet(path)})
        return ({(r["id_a"], r["id_b"]) for r in direct.collect()},
                {(r["id_a"], r["id_b"])
                 for r in app.run_batch()["pairs"].collect()})

    def test_rewritten_input_is_read_afresh(self, spark, tmp_path):
        path = str(tmp_path / "docs.parquet")
        words = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        self._write(path, [words, words + " lambda",
                           "one two three four five six seven eight"])
        assert self._pairs(spark, path) == ({(1, 2)}, {(1, 2)})
        self._write(path, [words, "red green blue cyan magenta yellow",
                           "one two three four five six seven eight"])
        assert self._pairs(spark, path) == (set(), set())

    def test_application_releases_its_caches(self, spark):
        import gc

        from pincette_json_streams_spark import Application
        from pincette_json_streams_spark.functions import release_caches
        release_caches()  # other tests' leftovers are not ours
        cm = spark._jsparkSession.sharedState().cacheManager()
        docs = spark.createDataFrame(
            [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j")],
            "id long, text string")
        spec = {"application": "a", "parts": [
            {"type": "stream", "name": "s", "fromTopic": "docs",
             "toTopic": "out", "pipeline": []},
            {"type": "stream", "name": "t", "fromStream": "s",
             "toTopic": "pairs", "pipeline": [
                 {"$nearDups": {"text": "text", "id": "id"}}]}]}
        pairs = Application(spec, {"docs": docs}).run_batch()["pairs"]
        assert not cm.isEmpty()
        assert [tuple(r) for r in pairs.select("id_a", "id_b")
                .collect()] == [(1, 2)]
        del pairs
        gc.collect()
        assert cm.isEmpty()


class TestCodecSeam:
    """The register_codec extension seam, driven end-to-end with the
    shipped worked example (functions/codecs.py: uncompressed
    YUV4MPEG2 -> per-frame grayscale BMPs) — the exact shape a
    crawl-video user swaps a real H.264/MP4 decoder into."""

    @staticmethod
    def _y4m(frames_y, w, h):
        head = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420jpeg\n".encode()
        y_size = w * h
        c_size = y_size // 4
        body = b"".join(
            b"FRAME\n" + bytes(y) + b"\x80" * (2 * c_size)
            for y in frames_y)
        return head + body

    def test_y4m_codec_through_video_near_pairs(self, spark):
        import numpy as np

        from pincette_json_streams_spark.functions.codecs import (
            y4m_frames, y4m_probe,
        )
        from pincette_json_streams_spark.functions.multimodal import (
            register_codec, unregister_codec, video_near_pairs,
        )

        def grad(k):
            base = np.tile(np.arange(0, 256, 16, dtype=np.uint8),
                           (16, 1))[:, :16]
            return np.roll(base, k * 3, axis=1).tobytes()

        va = self._y4m([grad(k) for k in range(4)], 16, 16)
        vb = self._y4m([grad(k) for k in range(4)], 16, 16)
        vc = self._y4m([grad(k)[::-1] for k in range(4)], 16, 16)
        df = spark.createDataFrame(
            [(1, bytearray(va)), (2, bytearray(vb)),
             (3, bytearray(vc)), (4, bytearray(b"not a video"))],
            "vid long, media binary")
        # the y4m codec may already be registered by the driver
        # queries (q_video_frames runs earlier in a full pytest
        # session) — clear it so the no-codec contract is honest
        unregister_codec("y4m")
        # without the codec, Y4M payloads honestly emit NO rows
        assert video_near_pairs(df, n_frames=4).collect() == []
        register_codec("y4m", y4m_probe, y4m_frames)
        try:
            pairs = [(r["vid_a"], r["vid_b"], r["matching_frames"],
                      r["min_hamming"])
                     for r in video_near_pairs(df, n_frames=4)
                     .collect()]
            assert pairs == [(1, 2, 4, 0)]
        finally:
            unregister_codec("y4m")

    def test_y4m_demux_shapes(self):
        from pincette_json_streams_spark.functions.codecs import (
            y4m_frames, y4m_probe,
        )
        from pincette_json_streams_spark.functions.multimodal import (
            _decode_image,
        )
        y = bytes(range(16)) * 16
        blob = self._y4m([y, y], 16, 16)
        assert y4m_probe(blob) and not y4m_probe(b"RIFF....")
        frames = y4m_frames(blob)
        assert len(frames) == 2
        dec = _decode_image(frames[0], 16)
        assert dec["format"] == "bmp" and dec["width"] == 16
        # malformed payloads: honest absence, never an exception
        assert y4m_frames(b"YUV4MPEG2 W0 H0\n") == []
        assert y4m_frames(b"YUV4MPEG2 garbage") == []
        assert y4m_frames(blob[:40]) == []

    def test_y4m_odd_dimensions_round_up(self):
        """Spec-valid odd-dimension streams: chroma planes are
        ceil(w/2)*ceil(h/2) (4:2:0) / ceil(w/2)*h (4:2:2), NOT
        floor(w*h*frac) — a floor-sized demux misaligns every frame
        after the first and silently truncates the stream."""
        from pincette_json_streams_spark.functions.codecs import (
            y4m_frames,
        )
        w, h = 9, 7
        y_size = w * h
        plane_420 = ((w + 1) // 2) * ((h + 1) // 2)   # 20, not 15
        frames = [bytes([k * 37 % 256] * y_size) for k in range(3)]

        def stream(cs, plane):
            head = f"YUV4MPEG2 W{w} H{h} F25:1 {cs}\n".encode()
            return head + b"".join(
                b"FRAME\n" + y + b"\x80" * (2 * plane)
                for y in frames)

        got = y4m_frames(stream("C420jpeg", plane_420))
        assert len(got) == 3
        got = y4m_frames(stream("C422", ((w + 1) // 2) * h))
        assert len(got) == 3
        got = y4m_frames(stream("C444", y_size))
        assert len(got) == 3
        # default colourspace (no C param) is 420 — same ceil sizing
        no_c = (f"YUV4MPEG2 W{w} H{h} F25:1\n".encode()
                + b"".join(b"FRAME\n" + y + b"\x80" * (2 * plane_420)
                           for y in frames))
        assert len(y4m_frames(no_c)) == 3


class TestSitemap:
    """Round-12 sitemap protocol demux (functions/crawl.py
    sitemap_urls): urlset vs sitemapindex kinds, namespaces,
    entities, gzip transport, malformed-input honesty."""

    XML = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<urlset xmlns="http://www.sitemaps.org/schemas/'
           'sitemap/0.9">'
           '<url><loc>https://x.example/a?b=1&amp;c=2</loc>'
           '<lastmod>2026-01-01</lastmod>'
           '<changefreq>daily</changefreq>'
           '<priority>0.8</priority></url>'
           '<url><loc>https://x.example/b</loc></url>'
           '</urlset>')

    def test_kinds_gzip_and_malformed(self, spark):
        import gzip

        from pincette_json_streams_spark.functions.crawl import (
            sitemap_urls,
        )
        idx = ("<sitemapindex><sitemap>"
               "<loc>https://x.example/more.xml</loc>"
               "</sitemap></sitemapindex>")
        df = spark.createDataFrame(
            [(1, bytearray(self.XML.encode())),
             (2, bytearray(gzip.compress(self.XML.encode()))),
             (3, bytearray(idx.encode())),
             (4, bytearray(b"<html>not a sitemap</html>")),
             (5, bytearray(b"broken < xml")), (6, None)],
            "fid long, sitemap binary")
        rows = sitemap_urls(df, "sitemap").collect()
        by_fid = {}
        for r in rows:
            by_fid.setdefault(r["fid"], []).append(
                (r["kind"], r["loc"], r["lastmod"], r["changefreq"],
                 r["priority"]))
        urls = [("url", "https://x.example/a?b=1&c=2", "2026-01-01",
                 "daily", 0.8),
                ("url", "https://x.example/b", None, None, None)]
        assert by_fid == {
            1: urls, 2: urls,
            3: [("sitemap", "https://x.example/more.xml",
                 None, None, None)]}

    def test_string_column_and_passthrough(self, spark):
        from pincette_json_streams_spark.functions.crawl import (
            sitemap_urls,
        )
        df = spark.createDataFrame(
            [("h1", self.XML)], "host string, sitemap string")
        rows = sitemap_urls(df, "sitemap").collect()
        assert [(r["host"], r["kind"]) for r in rows] \
            == [("h1", "url"), ("h1", "url")]


class TestCharsetLadder:
    """decode_html_bytes: the crawl-world charset ladder (BOM >
    HTTP Content-Type charset > <meta charset> > UTF-8 > latin-1) —
    and its ride-along through $htmlExtract's binary path."""

    def test_ladder_order(self):
        from pincette_json_streams_spark.functions.crawl import (
            decode_html_bytes,
        )
        t = "<html><p>café habría straße</p></html>"
        assert decode_html_bytes(
            b"\xff\xfe" + t.encode("utf-16-le")) == t
        assert decode_html_bytes(
            b"\xfe\xff" + t.encode("utf-16-be")) == t
        assert decode_html_bytes(
            b"\xef\xbb\xbf" + t.encode("utf-8")) == t
        assert decode_html_bytes(t.encode("utf-8")) == t
        # invalid UTF-8 falls through to latin-1, never raises
        assert decode_html_bytes(t.encode("latin-1")) == t
        # HTTP header charset beats the meta scan
        lying = ('<html><head><meta charset="utf-8"></head>'
                 '<p>café</p></html>')
        assert decode_html_bytes(
            lying.encode("latin-1"),
            "text/html; charset=ISO-8859-1") == lying
        meta = ('<html><head><meta charset="iso-8859-1"></head>'
                '<p>café</p></html>')
        assert decode_html_bytes(meta.encode("latin-1")) == meta
        assert decode_html_bytes(None) is None
        # unknown charset name in the header -> next rung, no crash
        assert decode_html_bytes(
            t.encode("utf-8"), "text/html; charset=bogus-enc") == t

    def test_binary_html_extract_uses_content_type(self, spark):
        from pincette_json_streams_spark.functions.crawl import (
            html_extract,
        )
        page = ("<html><head><title>Café menu</title></head><body>"
                "<p>Crème brûlée and jamón ibérico for señoras.</p>"
                "</body></html>")
        df = spark.createDataFrame(
            [(1, bytearray(page.encode("latin-1")),
              "text/html; charset=ISO-8859-1"),
             (2, bytearray(page.encode("utf-8")), "text/html")],
            "pid long, payload binary, http_content_type string")
        rows = {r["pid"]: r for r in html_extract(
            df, "payload",
            content_type_col="http_content_type").collect()}
        for pid in (1, 2):
            assert rows[pid]["title"] == "Café menu"
            assert rows[pid]["text"] \
                == "Crème brûlée and jamón ibérico for señoras."
