"""Property-based locks for the round-6 analytics operators: each runs
a handful of Hypothesis-generated inputs through the Spark operator and
an independent pure-Python mirror.  max_examples is small because every
example is a real Spark job — the point is randomized structural
coverage (dangling nodes, duplicate edges, tie-heavy value streams),
not fuzz volume."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SPARKY = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # stable CI: same examples every run
)


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1, max_size=40,
)


class TestPageRankProperty:
    @staticmethod
    def _mirror(edges, iters, total=10 ** 12, d=85):
        nodes = sorted({u for e in edges for u in e})
        n = len(nodes)
        deg: dict = {}
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

    def _check(self, spark, edges, iters):
        from pincette_json_streams_spark.functions.graph import pagerank
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank"]
               for r in pagerank(df, iters=iters).collect()}
        assert got == self._mirror(edges, iters)

    @SPARKY
    @given(edges_strategy, st.integers(1, 3))
    def test_matches_mirror(self, spark, edges, iters):
        self._check(spark, edges, iters)

    @SPARKY
    @given(edges_strategy, st.integers(1, 3))
    def test_matches_mirror_distributed(self, spark, distributed_graphs,
                                        edges, iters):
        self._check(spark, edges, iters)


class TestTrianglesProperty:
    @staticmethod
    def _mirror(edges):
        from itertools import combinations
        es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        adj: dict = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        counts: dict = {}
        for tri in combinations(sorted(adj), 3):
            a, b, c = tri
            if b in adj[a] and c in adj[a] and c in adj[b]:
                for x in tri:
                    counts[x] = counts.get(x, 0) + 1
        return counts

    @SPARKY
    @given(edges_strategy)
    def test_matches_mirror(self, spark, edges):
        from pincette_json_streams_spark.functions.graph import (
            triangle_counts,
        )
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"]
               for r in triangle_counts(df).collect()}
        assert got == self._mirror(edges)


class TestPrefixJaccardProperty:
    WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

    @staticmethod
    def _brute(rows, n, pct):
        toks = {}
        for i, ws in rows:
            toks[i] = {" ".join(ws[j:j + n])
                       for j in range(len(ws) - n + 1)}
        out = set()
        ids = sorted(toks)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = toks[ids[x]], toks[ids[y]]
                if not a or not b:
                    continue
                inter = len(a & b)
                if inter * 100 >= pct * len(a | b):
                    out.add((ids[x], ids[y]))
        return out

    @SPARKY
    @given(
        st.lists(st.lists(st.sampled_from(WORDS), min_size=0,
                          max_size=10), min_size=2, max_size=8),
        st.sampled_from([40, 60, 80]),
    )
    def test_no_false_negatives(self, spark, docs, pct):
        """The prefix filter must find EXACTLY the brute-force pair set
        — zero false negatives is the algorithm's contract."""
        from pincette_json_streams_spark.functions.dedup import (
            prefix_filter_pairs,
        )
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]) for r in prefix_filter_pairs(
            df, threshold_pct=pct, n=3).collect()}
        want = self._brute(list(enumerate(docs)), 3, pct)
        assert got == want


class TestEwmaProperty:
    @staticmethod
    def _mirror(vals, window, scale=10 ** 6):
        import math
        out = []
        grid = [math.floor(v * scale + 0.5) for v in vals]
        for t in range(len(grid)):
            frame = grid[max(0, t - window + 1):t + 1]
            num = sum(x * (1 << j) for j, x in enumerate(frame))
            den = (1 << len(frame)) - 1
            out.append((num, den, math.floor(num / den + 0.5)))
        return out

    @SPARKY
    @given(st.lists(
        st.floats(min_value=-100, max_value=100,
                  allow_nan=False, allow_infinity=False,
                  width=32),
        min_size=1, max_size=12))
    def test_matches_mirror(self, spark, vals):
        from pincette_json_streams_spark.functions.timeseries import (
            ewma_halflife,
        )
        rows = [(1, t, t, float(v)) for t, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "user_id long, t long, eid long, value double")
        got = sorted(
            ((r["t"], r["ewma_num"], r["ewma_den"], r["ewma"])
             for r in ewma_halflife(df, order_by=["t", "eid"],
                                    group_col="user_id",
                                    window=4).collect()))
        want = [(t, *m) for t, m in
                enumerate(self._mirror([float(v) for v in vals], 4))]
        assert got == want


class TestKmvOverlapProperty:
    """kmv_overlap vs a pure-Python KMV mirror: the same md5 hashes,
    k-min sets and estimate formulas, exercised on random two-slice
    universes (heavy overlap, disjoint, sub-k exact path)."""

    @staticmethod
    def _mirror(vals_a, vals_b, k):
        import hashlib
        import math

        def hs(vals):
            out = {int(hashlib.md5(v.encode()).hexdigest()[:8], 16)
                   / float(1 << 32) for v in vals}
            return sorted(out)[:k]

        ha, hb = hs(vals_a), hs(vals_b)
        comb = sorted(set(ha) | set(hb))[:k]
        n = len(comb)
        both = set(ha) & set(hb)
        c = len(set(comb) & both)
        if n < k:
            union = n
            inter = len(both)
        else:
            hk = comb[-1]
            # Spark round() half-up on the same double expression
            x = (k - 1) / hk
            union = math.floor(x + 0.5) if x >= 0 else -math.floor(
                -x + 0.5)
            inter = math.floor(c * (k - 1) / (k * hk) + 0.5)
        jac = (inter * 1_000_000) // union if union > 0 else 0
        return union, inter, jac

    @SPARKY
    @given(
        st.sets(st.integers(0, 400), min_size=1, max_size=120),
        st.sets(st.integers(0, 400), min_size=1, max_size=120),
        st.sampled_from([8, 32, 64]),
    )
    def test_matches_mirror(self, spark, sa, sb, k):
        from pincette_json_streams_spark.functions.profiling import (
            kmv_overlap, kmv_sketch,
        )
        rows = [("a", f"v{i}") for i in sa] + [("b", f"v{i}") for i in sb]
        df = spark.createDataFrame(rows, "g string, v string")
        sk = kmv_sketch(df, "g", "v", k=k)
        (r,) = kmv_overlap(sk, "g", k=k).collect()
        want = self._mirror({f"v{i}" for i in sa},
                            {f"v{i}" for i in sb}, k)
        got = (r["est_union"], r["est_intersection"], r["jaccard_e6"])
        assert got == want
        # structural invariants regardless of estimate noise
        assert r["est_intersection"] <= r["est_union"]
        assert 0 <= r["jaccard_e6"] <= 1_000_000


class TestHammingSketchProperty:
    @staticmethod
    def _mirror(vecs, queries, k):
        def sig(v):
            w0 = w1 = 0
            for i, x in enumerate(v[:32]):
                w0 = w0 * 2 + (1 if x > 0 else 0)
            for i, x in enumerate(v[32:64]):
                w1 = w1 * 2 + (1 if x > 0 else 0)
            return w0, w1
        out = []
        for qid, qv in queries:
            q0, q1 = sig(qv)
            scored = sorted(
                (bin((sig(v)[0] ^ q0)).count("1")
                 + bin((sig(v)[1] ^ q1)).count("1"), vid)
                for vid, v in vecs)
            out.extend((qid, r + 1, vid, h)
                       for r, (h, vid) in enumerate(scored[:k]))
        return sorted(out)

    @SPARKY
    @given(st.lists(
        st.tuples(st.integers(0, 30),
                  st.lists(st.floats(-2, 2, allow_nan=False,
                                     width=32),
                           min_size=64, max_size=64)),
        min_size=1, max_size=12, unique_by=lambda t: t[0]),
        st.integers(1, 4))
    def test_matches_mirror(self, spark, vecs, k):
        from pincette_json_streams_spark.functions.similarity import (
            hamming_topk,
        )
        df = spark.createDataFrame(vecs,
                                   "vec_id long, embedding array<float>")
        q = df.filter("vec_id % 3 = 0") \
            .selectExpr("vec_id AS query_id", "embedding")
        queries = [(i, v) for i, v in vecs if i % 3 == 0]
        got = sorted((r["query_id"], r["rank"], r["vec_id"],
                      r["hamming"])
                     for r in hamming_topk(df, q, k=k).collect())
        assert got == self._mirror(vecs, queries, k)


class TestChangepointProperty:
    @staticmethod
    def _mirror(rows, window, top):
        import math
        by_g: dict = {}
        for g, t, i, v in rows:
            if not math.isfinite(v):
                continue
            by_g.setdefault(g, []).append(
                (t, i, math.floor(v * 10 ** 6 + 0.5)))
        out = []
        for g, pts in by_g.items():
            pts.sort()
            cands = []
            for idx in range(len(pts)):
                if idx < window or idx + window > len(pts):
                    continue
                sb = sum(v for _, _, v in pts[idx - window:idx])
                sa = sum(v for _, _, v in pts[idx:idx + window])
                cands.append((-(abs(sa - sb)), pts[idx][0],
                              pts[idx][1], sa - sb))
            cands.sort()
            out.extend((g, r + 1, i, s)
                       for r, (_, t, i, s) in enumerate(cands[:top]))
        return sorted(out)

    @SPARKY
    @given(st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 500),
                  st.floats(-100, 100, allow_nan=False)),
        min_size=1, max_size=60),
        st.integers(1, 4), st.integers(1, 3))
    def test_matches_mirror(self, spark, raw, window, top):
        from pincette_json_streams_spark.functions.timeseries import (
            mean_shift_changepoints,
        )
        # unique (ts, id) per group for a total order
        rows = [(g, t, i, v) for i, (g, t, v) in enumerate(raw)]
        df = spark.createDataFrame(
            rows, "event_type string, ts_nanos long, event_id long, "
                  "value double")
        got = sorted(
            (r["event_type"], r["rank"], r["event_id"], r["shift_e6"])
            for r in mean_shift_changepoints(
                df, window=window, top=top).collect())
        assert got == self._mirror(rows, window, top)


class TestContainmentProperty:
    """Round-9 containment join: no-false-negative law vs a
    brute-force mirror over random word documents, exact value
    equality, and the containment >= Jaccard dominance law (the
    asymmetric metric can only be LARGER — min(sz) <= union)."""

    @staticmethod
    def _ngrams(text, n=3):
        import re
        w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        k = max(len(w) - (n - 1), 1)
        return {" ".join(w[i:i + n]) for i in range(k)}

    @classmethod
    def _mirror(cls, rows, pct):
        sets = {i: cls._ngrams(t) for i, t in rows}
        out = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] & sets[b]:
                    inter = len(sets[a] & sets[b])
                    c = (inter * 1_000_000
                         // min(len(sets[a]), len(sets[b])))
                    if c >= pct * 10_000:
                        out[(a, b)] = (len(sets[a]), len(sets[b]), c)
        return out

    @SPARKY
    @given(st.lists(
        st.lists(st.sampled_from(
            ["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=1, max_size=12).map(" ".join),
        min_size=2, max_size=8),
        st.integers(30, 90))
    def test_matches_mirror_and_dominates_jaccard(self, spark, texts,
                                                  pct):
        from pincette_json_streams_spark.functions.dedup import (
            containment_pairs, ngram_jaccard_pairs,
        )
        rows = list(enumerate(texts))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["id_a"], r["id_b"]): (r["sz_a"], r["sz_b"],
                                        r["cont_e6"])
               for r in containment_pairs(
                   df, n=3, threshold_pct=pct).collect()}
        assert got == self._mirror(rows, pct)
        # dominance: for every pair Jaccard reports (threshold 0 =
        # every candidate), containment on the same pair is >= it
        jac = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in ngram_jaccard_pairs(
                   df, n=3, threshold=0.0).collect()}
        all_cont = {(r["id_a"], r["id_b"]): r["cont_e6"]
                    for r in containment_pairs(
                        df, n=3, threshold_pct=0).collect()}
        for pair, j in jac.items():
            assert pair in all_cont
            assert all_cont[pair] >= int(j * 1_000_000) - 1, (pair, j)

    @SPARKY
    @given(st.lists(
        st.lists(st.sampled_from(
            ["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=1, max_size=12).map(" ".join),
        min_size=2, max_size=8),
        st.integers(20, 80), st.integers(1, 6))
    def test_df_cap_matches_capped_mirror(self, spark, texts, pct, cap):
        """df_cap semantics law: the reported values are the EXACT
        Jaccard/containment over the capped gram universe (grams with
        distinct-set df > cap removed from postings AND sizes), with
        verbatim-identical documents still pairing at 1.0 / 1e6."""
        from collections import Counter

        from pincette_json_streams_spark.functions.dedup import (
            containment_pairs, ngram_jaccard_pairs,
        )
        rows = list(enumerate(texts))
        sets = {i: self._ngrams(t) for i, t in rows}
        gdf = Counter(
            g for s in {frozenset(v) for v in sets.values()} for g in s)
        kept = {i: {g for g in s if gdf[g] <= cap}
                for i, s in sets.items()}
        exp_c, exp_j = {}, {}
        thr = pct / 100.0
        for a in sets:
            for b in sets:
                if a >= b:
                    continue
                if sets[a] == sets[b]:
                    exp_c[(a, b)] = (len(kept[a]), len(kept[b]),
                                     1_000_000)
                    exp_j[(a, b)] = 1.0
                    continue
                inter = len(kept[a] & kept[b])
                if not inter:
                    continue
                c = inter * 1_000_000 // min(len(kept[a]), len(kept[b]))
                if c >= pct * 10_000:
                    exp_c[(a, b)] = (len(kept[a]), len(kept[b]), c)
                j = inter / (len(kept[a]) + len(kept[b]) - inter)
                if round(j, 6) >= thr:
                    exp_j[(a, b)] = round(j, 6)
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got_c = {(r["id_a"], r["id_b"]): (r["sz_a"], r["sz_b"],
                                          r["cont_e6"])
               for r in containment_pairs(
                   df, n=3, threshold_pct=pct, df_cap=cap).collect()}
        assert got_c == exp_c
        got_j = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in ngram_jaccard_pairs(
                     df, n=3, threshold=thr, df_cap=cap).collect()}
        # Spark rounds half-up in BigDecimal, python rounds half-even:
        # compare keys exactly but values on a 2e-6 tolerance, and
        # allow threshold-boundary disagreement only at the boundary
        for k in set(exp_j) ^ set(got_j):
            v = exp_j.get(k, got_j.get(k))
            assert abs(v - thr) < 2e-6, (k, v)
        for k in set(exp_j) & set(got_j):
            assert abs(got_j[k] - exp_j[k]) < 2e-6, k


class TestAudioFingerprintProperty:
    """Round-10 audio fingerprint law: for random PCM signals, widths
    and channel layouts, the Spark fingerprint equals the pure-python
    mirror of the width-normalized, channel-summed integer samples —
    the contract that makes the SQL oracle's replay sound."""

    @SPARKY
    @given(st.lists(st.integers(-32768, 32767),
                    min_size=1, max_size=1400),
           st.sampled_from([1, 2, 4]), st.sampled_from([1, 2]))
    def test_matches_mirror(self, spark, samples, width, channels):
        from tests.test_functions import TestMultimodal as TM

        df = spark.createDataFrame(
            [(0, bytearray(TM._wav_bytes(samples, width=width,
                                         channels=channels)))],
            "clip_id long, media binary")
        from pincette_json_streams_spark.functions.multimodal import (
            audio_fingerprint,
        )
        got = audio_fingerprint(df).collect()[0]["afp"]
        # the decoder normalizes width to the 16-bit grid (u8 loses
        # the low byte) and SUMS channels
        norm = [((s >> 8) << 8) if width == 1 else s for s in samples]
        mono = [v * channels for v in norm]
        assert got == TM._afp_mirror(mono)

    @SPARKY
    @given(st.lists(st.integers(-32768, 32767),
                    min_size=1, max_size=3000),
           st.sampled_from([256, 512, 1024]))
    def test_windows_match_mirror(self, spark, samples, hop):
        """Round-11 per-window law: for any signal length and hop,
        audio_fingerprint_windows emits exactly the full-window
        starts (plus one zero-padded window for sub-window clips),
        each window mirror-equal to the whole-clip fingerprint of
        its slice — the contract that makes the per-window SQL
        oracle's replay and the shift-alignment property sound."""
        from tests.test_functions import TestMultimodal as TM

        from pincette_json_streams_spark.functions.multimodal import (
            audio_fingerprint_windows,
        )
        df = spark.createDataFrame(
            [(0, bytearray(TM._wav_bytes(samples)))],
            "clip_id long, media binary")
        got = {r["window_idx"]: r["afp"]
               for r in audio_fingerprint_windows(df, hop=hop)
               .collect()}
        n_win = max(1, 1 + (len(samples) - 1024) // hop)
        assert set(got) == set(range(n_win))
        for j in range(n_win):
            assert got[j] == TM._afp_mirror(
                samples[j * hop:j * hop + 1024]), j


class TestHammingProbeProperty:
    """Round-10 probe law: within the pigeonhole radius
    (max_hamming <= n_bands - 1) the stream-static probe's output
    EQUALS brute force — zero false negatives from banding, zero
    duplicates from the first-colliding-band filter."""

    @SPARKY
    @given(st.lists(st.tuples(st.integers(0, 2 ** 32 - 1),
                              st.integers(0, 2 ** 32 - 1)),
                    min_size=1, max_size=14),
           st.integers(1, 7))
    def test_matches_brute_force(self, spark, lanes, max_h):
        from pincette_json_streams_spark.functions.similarity import (
            hamming_probe,
        )
        rows = [(i, a, b) for i, (a, b) in enumerate(lanes)]
        df = spark.createDataFrame(
            rows, "vec_id long, sig_0 long, sig_1 long")
        probes = df.limit(max(1, len(rows) // 2))
        got = {(r["vec_id"], r["match_id"]): r["hamming"]
               for r in hamming_probe(
                   probes, df, max_hamming=max_h).collect()}
        expect = {}
        n_probe = max(1, len(rows) // 2)
        for i, a, b in rows[:n_probe]:
            for j, c, d in rows:
                h = bin(a ^ c).count("1") + bin(b ^ d).count("1")
                if h <= max_h:
                    expect[(i, j)] = h
        assert got == expect


class TestCrawlProperty:
    """Round-12 crawl-tier laws: WARC framing round-trips for
    arbitrary payload bytes (incl. CRLF-bearing payloads, which a
    delimiter-scanning parser would split wrongly — Content-Length
    is the only framing truth), and HTML extraction never leaks
    markup for arbitrary block text."""

    @SPARKY
    @given(st.lists(st.binary(min_size=0, max_size=200), min_size=1,
                    max_size=6),
           st.sampled_from(["plain", "member_gz", "whole_gz"]))
    def test_warc_payload_roundtrip(self, spark, payloads, variant):
        import gzip

        from pincette_json_streams_spark.functions.crawl import (
            gzip_members, warc_records,
        )
        recs = [
            (b"WARC/1.0\r\nWARC-Type: resource\r\n"
             b"WARC-Target-URI: https://x.example/" + str(i).encode()
             + b"\r\nContent-Length: " + str(len(p)).encode()
             + b"\r\n\r\n" + p + b"\r\n\r\n")
            for i, p in enumerate(payloads)]
        blob = {"plain": b"".join(recs),
                "member_gz": gzip_members(recs),
                "whole_gz": gzip.compress(b"".join(recs))}[variant]
        df = spark.createDataFrame([(bytearray(blob),)],
                                   "warc binary")
        rows = warc_records(df, "warc").collect()
        assert [(r["target_uri"],
                 bytes(r["payload"]) if r["payload"] is not None
                 else b"") for r in rows] \
            == [(f"https://x.example/{i}", p)
                for i, p in enumerate(payloads)]

    @SPARKY
    @given(st.lists(
        st.text(alphabet="abcdefghij XYZ.,'", min_size=20,
                max_size=80),
        min_size=1, max_size=5))
    def test_extract_collapses_and_never_leaks_markup(self, blocks):
        from pincette_json_streams_spark.functions.crawl import (
            extract_main_text,
        )
        html = ("<html><body>"
                + "".join(f"<p>{b}</p>" for b in blocks)
                + "</body></html>")
        title, text, n = extract_main_text(html, min_block_chars=1)
        expect = [" ".join(b.split()) for b in blocks]
        expect = [b for b in expect if b]
        assert text == "\n".join(expect) and n == len(expect)
        assert "<" not in text and ">" not in text


class TestRobotsProperty:
    """Round-12 robots law: for random rule sets and paths, the
    all-native Spark decision (broadcast join + regexp_like + max_by
    longest-match) equals the pure-Python RFC mirror."""

    path_st = st.lists(
        st.sampled_from(["/a", "/b", "/a/b", "/a/c.pdf", "/x",
                         "/a/b/c", "/", "/q?k=v"]),
        min_size=1, max_size=6)
    rules_st = st.lists(
        st.tuples(st.booleans(),
                  st.sampled_from(["/a", "/a/", "/a/b", "/*.pdf$",
                                   "/a*c", "/x", "/", "/q"])),
        min_size=0, max_size=6)

    @SPARKY
    @given(rules_st, path_st)
    def test_matches_mirror(self, spark, rules, paths):
        from pincette_json_streams_spark.functions.robots import (
            robots_allowed_mirror, robots_rules, url_allowed,
        )
        txt = "User-agent: *\n" + "".join(
            f"{'Allow' if a else 'Disallow'}: {p}\n"
            for a, p in rules)
        robots = spark.createDataFrame(
            [("h.example", txt)], "host string, robots string")
        urls = spark.createDataFrame(
            [(i, f"https://h.example{p}")
             for i, p in enumerate(paths)],
            "uid long, url string")
        got = {r["uid"]: r["allowed"]
               for r in url_allowed(urls,
                                    robots_rules(robots)).collect()}
        want = {i: robots_allowed_mirror(txt, f"https://h.example{p}")
                for i, p in enumerate(paths)}
        assert got == want


class TestSitemapProperty:
    """Round-12 sitemap law: random URL/metadata lists round-trip
    through XML synthesis (with entity escaping) -> sitemap_urls."""

    @SPARKY
    @given(st.lists(
        st.tuples(
            st.text(alphabet="abz019/?=&<>'\"", min_size=0,
                    max_size=12),
            st.one_of(st.none(),
                      st.sampled_from(["2026-01-01", "2026-02-03"])),
            st.one_of(st.none(), st.floats(0, 1, width=32))),
        min_size=1, max_size=6))
    def test_roundtrip(self, spark, entries):
        from xml.sax.saxutils import escape

        from pincette_json_streams_spark.functions.crawl import (
            sitemap_urls,
        )
        xml = "<urlset>" + "".join(
            "<url><loc>https://h.example/"
            + escape(p, {'"': "&quot;", "'": "&apos;"})
            + "</loc>"
            + (f"<lastmod>{lm}</lastmod>" if lm else "")
            + (f"<priority>{pr!r}</priority>"
               if pr is not None else "")
            + "</url>"
            for p, lm, pr in entries) + "</urlset>"
        df = spark.createDataFrame([(xml,)], "sitemap string")
        rows = sitemap_urls(df, "sitemap").collect()
        got = [(r["loc"], r["lastmod"], r["priority"]) for r in rows]
        want = [("https://h.example/" + p, lm,
                 float(repr(pr)) if pr is not None else None)
                for p, lm, pr in entries]
        assert got == want
