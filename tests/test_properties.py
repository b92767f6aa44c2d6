"""Property-based tests (hypothesis): the portable function library's
Spark expressions must agree with straightforward Python reference
implementations on arbitrary input — the same property the DuckDB
mirrors rely on. Alphabet is printable ASCII + simple whitespace
(unicode case-folding and \\s-class edge cases differ BETWEEN python/
Java/DuckDB by spec; the engine's contract is ASCII-stable).

Each hypothesis example generates a BATCH of strings and runs one Spark
job over the batch — examples are capped so the whole module stays
fast.
"""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from stepist_spark.functions import hashing, text as TX

ALPHABET = st.sampled_from(
    list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 \t\n.,;:!?'\"-()")
)
TEXTS = st.lists(st.text(ALPHABET, max_size=120), min_size=1, max_size=12)

# STEPIST_HYP_EXAMPLES raises the per-property example count for
# offline bug-hunting sweeps (default 12 keeps CI fast)
SETTINGS = settings(
    max_examples=int(__import__("os").environ.get("STEPIST_HYP_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def tokens_py(s: str) -> list[str]:
    return [t for t in re.split(r"\s+", s.lower()) if t != ""]


def shingles_py(toks: list[str], k: int) -> list[str]:
    if len(toks) < k:
        return []
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def word_hash32_py(t: str) -> int:
    return int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)


def _run(spark, texts, col):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, text string")
    return {r["i"]: r["out"] for r in df.select("i", col.alias("out")).collect()}


class TestTokenProperties:
    @SETTINGS
    @given(TEXTS)
    def test_tokens_match_python(self, spark, texts):
        got = _run(spark, texts, TX.tokens(F.col("text")))
        assert got == {i: tokens_py(t) for i, t in enumerate(texts)}

    @SETTINGS
    @given(TEXTS)
    def test_token_count_matches(self, spark, texts):
        got = _run(spark, texts, TX.token_count(F.col("text")))
        assert got == {i: len(tokens_py(t)) for i, t in enumerate(texts)}


class TestShingleProperties:
    @SETTINGS
    @given(TEXTS, st.integers(min_value=2, max_value=4))
    def test_shingles_match_python(self, spark, texts, k):
        col = hashing.shingles(TX.tokens(F.col("text")), k)
        got = _run(spark, texts, col)
        assert got == {i: shingles_py(tokens_py(t), k) for i, t in enumerate(texts)}


class TestHashProperties:
    @SETTINGS
    @given(st.lists(st.text(ALPHABET, min_size=1, max_size=40), min_size=1, max_size=12))
    def test_word_hash32_matches_python_md5(self, spark, words):
        got = _run(spark, words, hashing.word_hash32(F.col("text")))
        assert got == {i: word_hash32_py(w) for i, w in enumerate(words)}

    def test_minhash_universal_hash_formula(self, spark):
        h = 12345
        df = spark.createDataFrame([(h,)], "h long")
        for i in (0, 3, 7):
            (r,) = df.select(hashing.minhash_of_hash(F.col("h"), i).alias("v")).collect()
            expected = (hashing.MINHASH_A[i] * h + hashing.MINHASH_B[i]) % hashing.MINHASH_P
            assert r["v"] == expected


class TestQualityScoreProperties:
    @SETTINGS
    @given(TEXTS)
    def test_scaled_score_bounds_and_emptiness(self, spark, texts):
        got = _run(spark, texts, TX.quality_score_scaled(F.col("text")))
        for i, t in enumerate(texts):
            v = got[i]
            assert 0 <= v <= 1_000_000
            if not tokens_py(t):
                assert v == 0


class TestVectorProperties:
    @SETTINGS
    @given(
        st.lists(
            st.lists(st.floats(-10, 10, allow_nan=False, width=32), min_size=4, max_size=4),
            min_size=2,
            max_size=8,
        )
    )
    def test_dot_and_norm_match_python_fold(self, spark, vecs):
        """The sequential-fold dot/norm must equal a plain left-to-right
        Python accumulation (the same order the DuckDB mirror uses)."""
        from stepist_spark.functions import vectors as V

        pairs = [(i, vecs[i], vecs[(i + 1) % len(vecs)]) for i in range(len(vecs))]
        df = spark.createDataFrame(pairs, "i long, a array<double>, b array<double>")
        got = {
            r["i"]: (r["d"], r["n"])
            for r in df.select(
                "i",
                V.dot(F.col("a"), F.col("b")).alias("d"),
                V.norm(F.col("a")).alias("n"),
            ).collect()
        }
        import math

        for i, a, b in pairs:
            d = 0.0
            for x, y in zip(a, b):
                d = d + x * y
            n = 0.0
            for x in a:
                n = n + x * x
            assert got[i][0] == d, (got[i][0], d)
            assert got[i][1] == math.sqrt(n)

    def test_cosine_bounds_and_zero_vector(self, spark):
        from stepist_spark.functions import vectors as V

        df = spark.createDataFrame(
            [(1, [1.0, 0.0], [1.0, 0.0]), (2, [1.0, 0.0], [0.0, 1.0]), (3, [0.0, 0.0], [1.0, 1.0])],
            "i long, a array<double>, b array<double>",
        )
        got = {r["i"]: r["c"] for r in df.select("i", V.cosine(F.col("a"), F.col("b")).alias("c")).collect()}
        assert got == {1: 1.0, 2: 0.0, 3: 0.0}


class TestBoilerplateRemovalProperties:
    @given(TEXTS, st.integers(min_value=1, max_value=3))
    @SETTINGS
    def test_matches_python_reference(self, spark, texts, max_df):
        """Surviving text per doc == the Python reference: drop trimmed-
        empty lines and lines whose trimmed form appears in > max_df
        distinct docs; keep original forms in original order."""
        from collections import defaultdict

        from stepist_spark.operators.dedup import remove_boilerplate_lines

        docs = [(i, t) for i, t in enumerate(texts)]
        doc_freq = defaultdict(set)
        for i, t in docs:
            for ln in t.split("\n"):
                if ln.strip():
                    doc_freq[ln.strip()].add(i)
        boiler = {k for k, v in doc_freq.items() if len(v) > max_df}

        expect = {}
        for i, t in docs:
            kept = [
                ln for ln in t.split("\n") if ln.strip() and ln.strip() not in boiler
            ]
            dropped = [
                ln for ln in t.split("\n") if ln.strip() and ln.strip() in boiler
            ]
            expect[i] = ("\n".join(kept), len(kept), len(dropped))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["text"], r["n_lines_kept"], r["n_lines_dropped"])
            for r in remove_boilerplate_lines(
                df, "doc_id", "text", max_doc_freq=max_df
            ).collect()
        }
        assert got == expect


class TestBpeBatchingProperty:
    """The exact-safe batch rule must yield merge sequences identical to
    one-merge-at-a-time BPE on ARBITRARY word-count tables — including
    tie-heavy and concat-collision shapes the unit fixtures miss."""

    WORDS = st.dictionaries(
        st.text(st.sampled_from(list("abcde")), min_size=1, max_size=6),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=14,
    )

    @SETTINGS
    @given(WORDS)
    def test_batched_equals_sequential(self, spark, word_counts):
        from tests.test_bpe import _py_bpe
        from stepist_spark.operators.bpe import train_bpe

        text = " ".join(w for w, c in word_counts.items() for _ in range(c))
        df = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
        # auto_relax_after=None: this property IS the strict
        # sequential-fidelity contract; the bounded-rounds default
        # (round 7) deliberately trades it away on tie-heavy corpora
        merges, _ = train_bpe(
            df, n_merges=12, batch_size=8, auto_relax_after=None
        )
        exp_merges, _ = _py_bpe(word_counts, 12)
        assert merges == exp_merges


class TestAsofProperty:
    """asof_join (all three directions) vs pandas merge_asof on random
    key/time frames — inclusive bounds, tie handling, dropped rows."""

    FRAMES = st.tuples(
        st.lists(  # left: (key, time)
            st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
            min_size=1,
            max_size=12,
        ),
        st.lists(  # right: (key, time, value)
            st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50), st.integers(0, 99)),
            min_size=1,
            max_size=12,
        ),
    )

    @SETTINGS
    @given(FRAMES, st.sampled_from(["backward", "forward", "nearest"]))
    def test_matches_pandas_merge_asof(self, spark, frames, direction):
        import pandas as pd

        from stepist_spark.operators import asof

        left_rows, right_rows = frames
        # pandas merge_asof requires unique ordering; dedupe right on
        # (key, time) keeping the max value (mirrors deterministic input)
        rd: dict = {}
        for k, t, v in right_rows:
            rd[(k, t)] = max(v, rd.get((k, t), -1))
        right_rows = [(k, t, v) for (k, t), v in sorted(rd.items())]
        left_rows = sorted(set(left_rows))

        left = spark.createDataFrame(
            [(k, t, i) for i, (k, t) in enumerate(left_rows)], "k string, t long, lid long"
        )
        right = spark.createDataFrame(right_rows, "k string, t long, val long")
        out = asof.asof_join(
            left, right, on="k", left_time="t", right_time="t", direction=direction
        )
        got = {r["lid"]: (r["asof_t"], r["asof_val"]) for r in out.collect()}

        lp = pd.DataFrame(
            [(k, t, i) for i, (k, t) in enumerate(left_rows)], columns=["k", "t", "lid"]
        ).sort_values("t", kind="stable")
        rp = pd.DataFrame(right_rows, columns=["k", "t", "val"]).sort_values(
            "t", kind="stable"
        )
        merged = pd.merge_asof(
            lp, rp, on="t", by="k", direction=direction, suffixes=("", "_r")
        )
        want = {}
        for row in merged.itertuples():
            if not pd.isna(row.val):
                # pandas keeps the matched right time only implicitly;
                # recompute it from the direction semantics
                cand = [
                    (t, v)
                    for k2, t, v in right_rows
                    if k2 == row.k
                    and (
                        (direction == "backward" and t <= row.t)
                        or (direction == "forward" and t >= row.t)
                        or direction == "nearest"
                    )
                ]
                if direction == "backward":
                    mt = max(t for t, _ in cand)
                elif direction == "forward":
                    mt = min(t for t, _ in cand)
                else:
                    mt = min(cand, key=lambda tv: (abs(tv[0] - row.t), tv[0]))[0]
                want[row.lid] = (mt, int(row.val))
        assert got == want, f"{direction}: {got} != {want}"


class TestEnvelopeProperty:
    """to_envelope/from_envelope must round-trip arbitrary ASCII payloads
    (quotes, backslashes, newlines) through the JSON wire format."""

    ROWS = st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.text(ALPHABET, max_size=60),
        ),
        min_size=1,
        max_size=10,
        unique_by=lambda r: r[0],
    )

    @SETTINGS
    @given(ROWS)
    def test_roundtrip(self, spark, rows):
        from stepist_spark.sources import from_envelope, to_envelope

        df = spark.createDataFrame(rows, "id long, payload string")
        back = from_envelope(to_envelope(df), "id BIGINT, payload STRING")
        got = sorted(tuple(r) for r in back.collect())
        assert got == sorted(rows)


class TestBm25Property:
    """bm25_topk (portable mode) must equal a row-at-a-time Python
    BM25 on arbitrary corpora — scores, hit counts, and ranking."""

    @given(
        texts=st.lists(
            st.text(st.sampled_from(list("abcde ")), min_size=1, max_size=40),
            min_size=2,
            max_size=8,
        ),
        qtext=st.text(st.sampled_from(list("abcde ")), min_size=1, max_size=15),
    )
    @SETTINGS
    def test_matches_python_reference(self, spark, texts, qtext):
        from stepist_spark.operators.ranking import SCALE, bm25_topk

        docs = [(i, t) for i, t in enumerate(texts)]
        toks = {d: tokens_py(t) for d, t in docs}
        toks = {d: t for d, t in toks.items() if t}
        qtoks = set(tokens_py(qtext))
        if not toks or not qtoks:
            return

        n_docs = float(len(toks))
        total = float(sum(len(t) for t in toks.values()))
        dfreq: dict[str, int] = {}
        for t in toks.values():
            for w in set(t):
                dfreq[w] = dfreq.get(w, 0) + 1
        expect: dict[int, tuple[int, int]] = {}
        for w in qtoks:
            if w not in dfreq:
                continue
            for d, t in toks.items():
                tf = t.count(w)
                if not tf:
                    continue
                idf = (n_docs - dfreq[w] + 0.5) / (dfreq[w] + 0.5)
                norm = 1.2 * (1.0 - 0.75 + 0.75 * len(t) * n_docs / total)
                part = idf * (tf * 2.2) / (tf + norm)
                s, n = expect.get(d, (0, 0))
                expect[d] = (s + int(round(part * SCALE)), n + 1)

        ddf = spark.createDataFrame(docs, "doc_id long, text string")
        qdf = spark.createDataFrame([(0, qtext)], "query_id long, query_text string")
        rows = bm25_topk(ddf, qdf, k=1000, max_df_ratio=1.0).collect()
        got = {r.doc_id: (r.score_scaled, r.n_terms_hit) for r in rows}
        assert got == expect
        # ranks follow (score desc, doc_id asc)
        ordered = sorted(rows, key=lambda r: r.rank)
        assert ordered == sorted(rows, key=lambda r: (-r.score_scaled, r.doc_id))


class TestBloomProperty:
    """bloom_build must equal a bit-for-bit Python reference bitmap,
    and probing members must never report a false negative."""

    @given(
        values=st.lists(
            st.text(ALPHABET, min_size=1, max_size=20), min_size=1, max_size=40
        )
    )
    @SETTINGS
    def test_bitmap_matches_python(self, spark, values):
        from stepist_spark.operators.sketches import (
            BLOOM_WORD_BITS,
            bloom_build,
            bloom_probe,
        )

        m_bits, k = 1 << 10, 3
        expect: dict[int, int] = {}
        for v in set(values):
            for i in range(k):
                h = int(hashlib.md5(f"{i}:{v}".encode()).hexdigest()[:8], 16)
                p = h % m_bits
                wi = p // BLOOM_WORD_BITS
                expect[wi] = expect.get(wi, 0) | (1 << (p % BLOOM_WORD_BITS))

        df = spark.createDataFrame([(v,) for v in values], "v string")
        bloom = bloom_build(df, "v", m_bits=m_bits, n_hashes=k)
        got = {int(r.word_idx): int(r.word) for r in bloom.collect()}
        assert got == expect

        probed = bloom_probe(df, "v", bloom, m_bits=m_bits, n_hashes=k)
        assert probed.filter(~F.col("maybe_member")).count() == 0


class TestSpanCorruptionProperty:
    """span_corruption must equal a row-at-a-time Python reference on
    arbitrary text — mask decisions, span merging, sentinel numbering,
    and both output strings."""

    @given(texts=TEXTS, rate=st.sampled_from([0, 10, 35, 100]))
    @SETTINGS
    def test_matches_python_reference(self, spark, texts, rate):
        from stepist_spark.operators.packing import span_corruption

        def ref(doc_id, text):
            toks = tokens_py(text)
            mask = [
                int(hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:8], 16) % 100
                < rate
                for i in range(len(toks))
            ]
            inp, tgt, k, in_span = [], [], 0, False
            for t, m in zip(toks, mask):
                if not m:
                    inp.append(t)
                    in_span = False
                elif not in_span:
                    inp.append(f"<extra_id_{k}>")
                    tgt.extend([f"<extra_id_{k}>", t])
                    k += 1
                    in_span = True
                else:
                    tgt.append(t)
            return (len(toks), sum(mask), k, " ".join(inp), " ".join(tgt))

        docs = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_masked, r.n_spans, r.input_text, r.target_text)
            for r in span_corruption(df, mask_rate_pct=rate).collect()
        }
        assert got == {d: ref(d, t) for d, t in docs}


class TestFunnelProperty:
    """funnel_stages must equal a brute-force earliest-chain walk."""

    EVENT_TYPES = ["a", "b", "c"]

    @given(
        events=st.lists(
            st.tuples(
                st.integers(0, 5),              # user
                st.integers(0, 500),            # minute offset
                st.sampled_from(["a", "b", "c"]),
            ),
            min_size=1,
            max_size=60,
        ),
        gap_minutes=st.sampled_from([30, 120]),
    )
    @SETTINGS
    def test_matches_brute_force(self, spark, events, gap_minutes):
        import datetime

        from stepist_spark.operators.anomaly import funnel_stages

        base = datetime.datetime(2024, 1, 1)
        rows = [
            (u, base + datetime.timedelta(minutes=m), et) for u, m, et in events
        ]

        def brute():
            counts = []
            chains: dict = {}
            for i, stage in enumerate(self.EVENT_TYPES):
                nxt = {}
                for u in {r[0] for r in rows}:
                    ts = [t for uu, t, et in rows if uu == u and et == stage]
                    if i == 0:
                        cand = ts
                    elif u in chains:
                        prev = chains[u]
                        cand = [
                            t for t in ts
                            if prev < t <= prev + datetime.timedelta(minutes=gap_minutes)
                        ]
                    else:
                        cand = []
                    if cand:
                        nxt[u] = min(cand)
                chains = nxt
                counts.append(len(chains))
            return counts

        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp_ntz, event_type string"
        )
        got = [
            r.n_users
            for r in funnel_stages(
                df, "user_id", "ts", "event_type", self.EVENT_TYPES,
                max_gap=f"{gap_minutes} minutes",
            ).orderBy("stage_idx").collect()
        ]
        assert got == brute()


class TestRollingZscoreProperty:
    """rolling_zscore must equal a row-at-a-time Python reference on
    arbitrary integer series — including constant runs (zero variance)
    and short histories."""

    @given(
        series=st.lists(
            st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 50)),
            min_size=1,
            max_size=40,
        ),
        lookback=st.sampled_from([3, 6]),
    )
    @SETTINGS
    def test_matches_python_reference(self, spark, series, lookback):
        import math

        from stepist_spark.operators.anomaly import rolling_zscore

        rows = [(k, i, n) for i, (k, n) in enumerate(series)]
        by_key: dict = {}
        for k, t, n in rows:
            by_key.setdefault(k, []).append((t, n))
        expect = {}
        for k, s in by_key.items():
            s.sort()
            for i, (t, n) in enumerate(s):
                hist = [v for _, v in s[max(0, i - lookback) : i]]
                z = None
                if len(hist) == lookback:
                    sm, s2, kk = sum(hist), sum(v * v for v in hist), len(hist)
                    vn = kk * s2 - sm * sm
                    if vn > 0:
                        z = round(
                            (n - sm / kk) / math.sqrt(vn / (kk * (kk - 1))), 6
                        )
                expect[(k, t)] = (z, z is not None and abs(z) > 2.0)

        df = spark.createDataFrame(rows, "key string, t long, n long")
        got = {
            (r.key, r.t): (r.z, r.is_anomaly)
            for r in rolling_zscore(df, ["key"], "t", "n", lookback=lookback).collect()
        }
        assert got == expect


class TestSentenceCountProperties:
    @SETTINGS
    @given(TEXTS)
    def test_matches_python_reference(self, spark, texts):
        import re

        # the contract's explicit non-whitespace class, NOT str.strip()
        # (python strips \x0b/\f/unicode spaces the engines don't)
        got = _run(spark, texts, TX.sentence_count(F.col("text")))
        exp = {
            i: len(
                [s for s in re.split(r"[.!?]+", t) if re.search(r"[^ \t\n\r]", s)]
            )
            for i, t in enumerate(texts)
        }
        assert got == exp

    def test_edge_cases(self, spark):
        texts = ["", "...", "a. b! c?", "no terminator", " . x .. ", "a.\t\n.b"]
        got = _run(spark, texts, TX.sentence_count(F.col("text")))
        assert got == {0: 0, 1: 0, 2: 3, 3: 1, 4: 1, 5: 2}


class TestCanonicalTextProperties:
    @given(texts=TEXTS)
    @SETTINGS
    def test_idempotent_and_matches_python(self, spark, texts):
        """canon(canon(x)) == canon(x), and the Spark expression
        matches the Python reference regex-for-regex."""

        def canon_py(s: str) -> str:
            return re.sub(r"[^a-z0-9]+", " ", s.lower()).strip()

        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [
            (r["c1"], r["c2"])
            for r in df.select(
                TX.canonical_text(F.col("text")).alias("c1"),
                TX.canonical_text(TX.canonical_text(F.col("text"))).alias("c2"),
            ).collect()
        ]
        for t, (c1, c2) in zip(texts, got):
            assert c1 == canon_py(t), repr(t)
            assert c2 == c1, repr(t)


class TestRrfProperties:
    @given(
        lists=st.lists(
            st.lists(
                st.tuples(
                    st.integers(1, 3),        # query_id
                    st.integers(10, 25),      # doc_id
                    st.integers(1, 8),        # rank
                ),
                min_size=1,
                max_size=12,
            ),
            min_size=1,
            max_size=3,
        )
    )
    @SETTINGS
    def test_matches_python_reference(self, spark, lists):
        """rrf_fuse == a dict-based Python reference on arbitrary
        ranked lists (duplicate (q,d) rows within one system allowed —
        both sides just sum their contributions)."""
        from stepist_spark.operators.ranking import RRF_SCALE, rrf_fuse

        frames = [
            spark.createDataFrame(
                rows, "query_id bigint, doc_id bigint, rank bigint"
            )
            for rows in lists
        ]
        got = {
            (r["query_id"], r["doc_id"]): (r["rrf_scaled"], r["n_systems"])
            for r in rrf_fuse(frames, c=60, k=100).collect()
        }
        ref: dict = {}
        for rows in lists:
            for q, d, rk in rows:
                s, n = ref.get((q, d), (0, 0))
                ref[(q, d)] = (s + RRF_SCALE // (60 + rk), n + 1)
        assert got == ref


class TestJlProperties:
    @given(
        vecs=st.lists(
            st.lists(
                st.floats(-1, 1, allow_nan=False, width=32),
                min_size=8,
                max_size=8,
            ),
            min_size=1,
            max_size=6,
        )
    )
    @SETTINGS
    def test_projection_matches_numpy(self, spark, vecs):
        import numpy as np

        from stepist_spark.operators.similarity import (
            JL_SCALE,
            jl_sign_matrix,
            signed_projection,
        )

        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "vec_id bigint, embedding array<float>"
        )
        got = {
            r["vec_id"]: list(r["proj"])
            for r in signed_projection(df, out_dims=4, in_dims=8).collect()
        }
        S = np.array(jl_sign_matrix(4, 8))
        for i, v in enumerate(vecs):
            # mirror Spark exactly: float32 storage, float64 math,
            # bankers' rounding like Spark's round()
            v64 = np.array(v, dtype=np.float32).astype(np.float64)
            q = np.array([round(x * JL_SCALE) for x in v64], dtype=np.int64)
            assert got[i] == (S @ q).astype("int64").tolist(), (i, v)


class TestExtendedMinhashFamily:
    """The universal-hash family extends deterministically past the 12
    literal seeds (round-11: corpus-scale banding wants 100+ hashes;
    see dedup.lsh_params_for_threshold). The first 12 must stay
    byte-stable — every committed gate hash depends on them."""

    FIRST12_A = [
        536870909, 433494437, 297, 374761393,
        268435399, 190979111, 99990001, 715827883,
        613651349, 512927357, 413158523, 314606891,
    ]

    def test_first_twelve_seeds_never_regenerated(self):
        hashing.ensure_minhash_coeffs(256)
        assert hashing.MINHASH_A[:12] == self.FIRST12_A

    def test_extended_coeffs_valid_and_distinct(self):
        hashing.ensure_minhash_coeffs(256)
        a, b = hashing.MINHASH_A[:256], hashing.MINHASH_B[:256]
        assert len(set(zip(a, b))) == 256
        for i in range(12, 256):
            # odd nonzero multiplier < 2^30: a valid universal-hash a_i
            # whose a*h + b stays < 2^62 (no ANSI bigint overflow)
            assert a[i] % 2 == 1 and 0 < a[i] < 2**30
            assert 0 <= b[i] < 2**30
            # derivation is position-keyed md5 — recompute independently
            ha = int(hashlib.md5(f"minhash_a:{i}".encode()).hexdigest()[:8], 16)
            hb = int(hashlib.md5(f"minhash_b:{i}".encode()).hexdigest()[:8], 16)
            assert a[i] == (ha % (1 << 30)) | 1
            assert b[i] == hb % (1 << 30)

    def test_concurrent_extension_matches_serial(self):
        # gates build from threads: extensions racing from a family
        # truncated back to the 12 seeds must give the serial list
        import sys
        import threading

        hashing.ensure_minhash_coeffs(256)
        serial_a, serial_b = hashing.MINHASH_A[:256], hashing.MINHASH_B[:256]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)  # switch threads as often as possible
        try:
            for _ in range(5):
                del hashing.MINHASH_A[12:], hashing.MINHASH_B[12:]
                start = threading.Barrier(8, timeout=30)

                def extend():
                    start.wait()
                    hashing.ensure_minhash_coeffs(256)

                threads = [threading.Thread(target=extend) for _ in range(8)]
                for t in threads:
                    t.start()
                for t in threads:
                    t.join(timeout=30)
                    assert not t.is_alive()
                assert hashing.MINHASH_A == serial_a
                assert hashing.MINHASH_B == serial_b
        finally:
            sys.setswitchinterval(interval)

    def test_extended_index_spark_formula(self, spark):
        h = 987654321
        df = spark.createDataFrame([(h,)], "h long")
        for i in (12, 31, 63):
            (r,) = df.select(hashing.minhash_of_hash(F.col("h"), i).alias("v")).collect()
            expected = (
                hashing.MINHASH_A[i] * h + hashing.MINHASH_B[i]
            ) % hashing.MINHASH_P
            assert r["v"] == expected

    def test_minhash_signature_16_hashes_duckdb_parity(self, spark):
        # cross-engine parity ABOVE the old 12-hash cap: the Spark
        # signature and the DuckDB mirror must agree at every index
        import duckdb

        texts = [
            "the quick brown fox jumps over the lazy dog",
            "pack my box with five dozen liquor jugs",
            "the quick brown fox naps under the lazy dog",
        ]
        df = spark.createDataFrame(
            [(i, t.split(" ")) for i, t in enumerate(texts)],
            "doc_id bigint, toks array<string>",
        )
        got = {
            r["doc_id"]: [r[f"mh{i}"] for i in range(16)]
            for r in hashing.minhash_signature(df, "doc_id", "toks", n_hashes=16).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE docs (doc_id BIGINT, toks VARCHAR[])")
        con.executemany(
            "INSERT INTO docs VALUES (?, ?)",
            [(i, t.split(" ")) for i, t in enumerate(texts)],
        )
        sql = hashing.minhash_signature_sql("docs", "doc_id", "toks", n_hashes=16)
        for row in con.execute(sql).fetchall():
            assert list(row[1:]) == got[row[0]], row[0]
