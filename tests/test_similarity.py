"""Similarity-search operator tests: brute-force/LSH/IVF consistency
properties that the SQL oracle can't express (cross-operator recall
relationships, degenerate-parameter equivalences).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stepist_spark.operators import similarity
from stepist_spark.session import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


@pytest.fixture(scope="module")
def queries(emb):
    return emb.filter(F.col("vec_id") < 4)


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in df.collect()}


class TestIVF:
    def test_full_probe_equals_brute_force(self, emb, queries):
        """n_probe == n_centroids searches every cluster — must equal
        the exact brute-force result."""
        exact = _pairs(similarity.brute_force_topk(emb, queries, k=3))
        full = _pairs(
            similarity.ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=8)
        )
        assert full == exact

    def test_partial_probe_is_subset_scored_identically(self, emb, queries):
        """Partial probing returns k rows per query; every returned
        similarity equals the exact similarity for that pair."""
        exact_all = _pairs(similarity.brute_force_topk(emb, queries, k=10**6))
        approx = _pairs(similarity.ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=2))
        counts = {}
        for (q, n), sim in approx.items():
            assert exact_all[(q, n)] == sim
            counts[q] = counts.get(q, 0) + 1
        assert all(c == 3 for c in counts.values())

    def test_assignment_covers_corpus_once(self, emb):
        cent = similarity.ivf_centroids(emb, n_centroids=8)
        assigned = similarity.ivf_assign(emb, cent)
        assert assigned.count() == emb.count()
        assert assigned.select("vec_id").distinct().count() == emb.count()
        n_clusters = assigned.select("cid").distinct().count()
        assert 1 < n_clusters <= 8

    def test_refine_keeps_centroid_count_and_dim(self, emb, spark):
        cent = similarity.ivf_centroids(emb, n_centroids=4)
        refined = similarity.ivf_refine(emb, cent, iters=1)
        rows = refined.collect()
        assert len(rows) == 4
        dim = len(emb.select("embedding").first()["embedding"])
        assert all(len(r["cvec"]) == dim for r in rows)


class TestLSHRecall:
    def test_lsh_topk_similarities_are_exact_for_returned_pairs(self, emb, queries):
        exact_all = _pairs(similarity.brute_force_topk(emb, queries, k=10**6))
        lsh = _pairs(similarity.lsh_bucketed_topk(emb, queries, k=3))
        for pair, sim in lsh.items():
            assert exact_all[pair] == sim


class TestLabelCentroids:
    def test_exact_mean(self, spark):
        from stepist_spark.operators.similarity import label_centroids

        df = spark.createDataFrame(
            [(1, [1.0, 2.0], 7), (2, [3.0, 4.0], 7), (3, [10.0, 20.0], 9)],
            "vec_id bigint, embedding array<float>, label int",
        )
        got = {(r["label"], r["dim"]): (r["sum_scaled"], r["n_vecs"], r["centroid"])
               for r in label_centroids(df).collect()}
        assert got[(7, 0)] == (4_000_000, 2, 2.0)
        assert got[(7, 1)] == (6_000_000, 2, 3.0)
        assert got[(9, 0)] == (10_000_000, 1, 10.0)

    def test_negative_components(self, spark):
        from stepist_spark.operators.similarity import label_centroids

        # -0.25 is exact in float32: floor(-250000 + 0.5) = -250000
        df = spark.createDataFrame(
            [(1, [-0.25, 0.75], 1)], "vec_id bigint, embedding array<float>, label int"
        )
        got = {r["dim"]: r["sum_scaled"] for r in label_centroids(df).collect()}
        assert got == {0: -250_000, 1: 750_000}


class TestSemanticDedup:
    def _expected(self, emb_rows, threshold, n_centroids):
        import numpy as np

        ids = sorted(r["vec_id"] for r in emb_rows)
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb_rows}
        # seeded centroids: min-id vector per id % n_centroids residue
        cents = {}
        for i in ids:
            cid = i % n_centroids
            if cid not in cents:
                cents[cid] = vecs[i]
        # nearest-centroid assignment, (distance, cid) tiebreak
        assign = {}
        for i in ids:
            best = min(
                ((float(np.sum((vecs[i] - c) ** 2)), cid) for cid, c in cents.items())
            )
            assign[i] = best[1]
        dropped = set()
        for b in ids:
            for a in ids:
                if a >= b or assign[a] != assign[b]:
                    continue
                cos = float(
                    vecs[a] @ vecs[b]
                    / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
                )
                if round(cos, 6) >= threshold:
                    dropped.add(b)
                    break
        return assign, dropped

    def test_matches_numpy_reference(self, emb):
        rows = emb.collect()
        # random high-dim vectors are near-orthogonal: 0.42 sits below the
        # top few within-cluster cosines, so some rows actually drop
        got = {
            r["vec_id"]: (r["cid"], r["keep"])
            for r in similarity.semantic_dedup(emb, threshold=0.42, n_centroids=8).collect()
        }
        assign, dropped = self._expected(rows, 0.42, 8)
        assert set(got) == set(assign)
        for i, (cid, keep) in got.items():
            assert cid == assign[i], f"cid mismatch for {i}"
            assert keep == (i not in dropped), f"keep mismatch for {i}"
        assert dropped, "fixture should produce at least one semantic dup"

    def test_impossible_threshold_keeps_everything(self, emb):
        out = similarity.semantic_dedup(emb, threshold=1.01, n_centroids=8)
        assert out.filter(~F.col("keep")).count() == 0
        assert out.count() == emb.count()

    def test_cluster_bounded_join(self, emb):
        # the dup test must be an equi-join on cid — never a cartesian
        plan = (
            similarity.semantic_dedup(emb, threshold=0.9, n_centroids=8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
            .lower()
        )
        assert "cartesianproduct" not in plan, plan


class TestProductQuantization:
    M, KS = 4, 8

    def _np_setup(self, emb_rows):
        import numpy as np

        ids = sorted(r["vec_id"] for r in emb_rows)
        vecs = {r["vec_id"]: np.asarray(r["embedding"], np.float64) for r in emb_rows}
        dim = len(next(iter(vecs.values())))
        d = dim // self.M
        seeds = {}
        for i in ids:
            c = i % self.KS
            if c not in seeds:
                seeds[c] = vecs[i]
        book = {(j, c): seeds[c][j * d : (j + 1) * d] for j in range(self.M) for c in seeds}
        codes = {}
        for i in ids:
            codes[i] = [
                min(
                    ((float(((vecs[i][j * d : (j + 1) * d] - book[(j, c)]) ** 2).sum()), c)
                     for c in seeds)
                )[1]
                for j in range(self.M)
            ]
        return vecs, d, book, codes

    def test_codes_match_numpy(self, emb, spark):
        rows = emb.collect()
        _, _, _, exp_codes = self._np_setup(rows)
        book = similarity.pq_codebook(emb, n_subspaces=self.M, n_codes=self.KS)
        got = {
            r["vec_id"]: list(r["codes"])
            for r in similarity.pq_encode(emb, book, n_subspaces=self.M).collect()
        }
        assert got == exp_codes

    def test_adc_topk_matches_numpy(self, emb, queries):
        rows = emb.collect()
        vecs, d, book, codes = self._np_setup(rows)
        qids = sorted(r["vec_id"] for r in queries.collect())
        exp = {}
        for qi in qids:
            scored = []
            for ni, cs in codes.items():
                if ni == qi:
                    continue
                # mirror the operator's fixed-point partials: each
                # subspace dot rounds to 1e-6 BEFORE the sum (exact
                # integer addition, shuffle-order-free)
                adc = sum(
                    int(round(float(vecs[qi][j * d : (j + 1) * d] @ book[(j, c)]) * 1e6))
                    for j, c in enumerate(cs)
                )
                scored.append((round(adc / 1e6, 6), ni))
            scored.sort(key=lambda t: (-t[0], t[1]))
            exp[qi] = scored[:3]
        bookdf = similarity.pq_codebook(emb, n_subspaces=self.M, n_codes=self.KS)
        enc = similarity.pq_encode(emb, bookdf, n_subspaces=self.M)
        got = {}
        for r in similarity.pq_topk(enc, bookdf, queries, k=3, n_subspaces=self.M).collect():
            got.setdefault(r["query_id"], []).append((r["adc_dot"], r["neighbor_id"]))
        for qi in qids:
            got[qi].sort(key=lambda t: (-t[0], t[1]))
            assert got[qi] == [(pytest.approx(s, abs=1e-6), n) for s, n in exp[qi]]

    def test_seed_vectors_encode_to_themselves(self, spark):
        # corpus == seed set: each vector's nearest sub-codeword is its own
        import numpy as np

        rng = np.random.RandomState(7)
        rows = [(i, rng.randn(16).astype("float32").tolist()) for i in range(self.KS)]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        book = similarity.pq_codebook(df, n_subspaces=self.M, n_codes=self.KS)
        got = {
            r["vec_id"]: list(r["codes"])
            for r in similarity.pq_encode(df, book, n_subspaces=self.M).collect()
        }
        assert got == {i: [i] * self.M for i in range(self.KS)}


class TestIvfPq:
    def test_full_probe_equals_pq_topk(self, emb, queries):
        book = similarity.pq_codebook(emb, n_subspaces=4, n_codes=8)
        enc = similarity.pq_encode(emb, book, n_subspaces=4)
        plain = {
            (r["query_id"], r["neighbor_id"]): r["adc_dot"]
            for r in similarity.pq_topk(enc, book, queries, k=4, n_subspaces=4).collect()
        }
        full = {
            (r["query_id"], r["neighbor_id"]): r["adc_dot"]
            for r in similarity.ivf_pq_topk(
                emb, queries, k=4, n_centroids=8, n_probe=8, n_subspaces=4, n_codes=8
            ).collect()
        }
        assert full == plain

    def test_partial_probe_scores_consistently(self, emb, queries):
        book = similarity.pq_codebook(emb, n_subspaces=4, n_codes=8)
        enc = similarity.pq_encode(emb, book, n_subspaces=4)
        all_scores = {
            (r["query_id"], r["neighbor_id"]): r["adc_dot"]
            for r in similarity.pq_topk(
                enc, book, queries, k=10**6, n_subspaces=4
            ).collect()
        }
        part = similarity.ivf_pq_topk(
            emb, queries, k=4, n_centroids=8, n_probe=2, n_subspaces=4, n_codes=8
        ).collect()
        assert len(part) > 0
        for r in part:
            # every returned pair carries the same ADC score the
            # unpruned scorer assigns it
            assert all_scores[(r["query_id"], r["neighbor_id"])] == r["adc_dot"]


class TestHardNegatives:
    def test_matches_numpy_reference(self, emb, queries):
        import numpy as np

        rows = emb.select("vec_id", "embedding", "label").collect()
        ids = np.array([r["vec_id"] for r in rows])
        labels = {r["vec_id"]: r["label"] for r in rows}
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        got = similarity.hard_negatives(
            emb, queries, "vec_id", "embedding", "label", k=3
        ).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append(r)
        for q in queries.collect():
            sims = norm @ norm[list(ids).index(q["vec_id"])]
            cand = sorted(
                (
                    (round(float(s), 6), int(i))
                    for s, i in zip(sims, ids)
                    if labels[int(i)] != q["label"]
                ),
                key=lambda t: (-t[0], t[1]),
            )[:3]
            mine = sorted(
                ((r["cos_sim"], r["neighbor_id"]) for r in by_q[q["vec_id"]]),
                key=lambda t: (-t[0], t[1]),
            )
            assert [(pytest.approx(s, abs=2e-6), i) for s, i in cand] == mine

    def test_no_same_label_neighbors(self, emb, queries):
        got = similarity.hard_negatives(emb, queries, "vec_id", "embedding", "label")
        assert got.filter(F.col("query_label") == F.col("neighbor_label")).count() == 0


class TestTruncatedTopk:
    def test_equals_brute_force_on_sliced_vectors(self, emb, queries):
        import numpy as np

        got = _pairs(
            similarity.truncated_topk(emb, queries, "vec_id", "embedding", k=3, dims=16)
        )
        rows = emb.select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        mat = np.array([r["embedding"][:16] for r in rows], dtype=np.float64)
        norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        for q in queries.collect():
            sims = norm @ norm[ids.index(q["vec_id"])]
            cand = sorted(
                ((round(float(s), 6), int(i)) for s, i in zip(sims, ids)
                 if i != q["vec_id"]),
                key=lambda t: (-t[0], t[1]),
            )[:3]
            for s, i in cand:
                assert abs(got[(q["vec_id"], i)] - s) < 2e-6

    def test_full_dims_matches_untruncated(self, emb, queries):
        d = len(emb.select("embedding").first()["embedding"])
        a = _pairs(similarity.truncated_topk(emb, queries, k=3, dims=d))
        b = _pairs(similarity.brute_force_topk(emb, queries, k=3))
        assert a == b


class TestRecallAtK:
    def test_counts_hits(self, spark):
        from stepist_spark.operators.similarity import recall_at_k

        approx = spark.createDataFrame(
            [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 99)],
            "query_id bigint, neighbor_id bigint",
        )
        exact = spark.createDataFrame(
            [(1, 10), (1, 11), (1, 13), (2, 20), (2, 21), (2, 22)],
            "query_id bigint, neighbor_id bigint",
        )
        got = {r["query_id"]: r for r in recall_at_k(approx, exact, 3).collect()}
        assert got[1]["n_hits"] == 2 and abs(got[1]["recall"] - 2 / 3) < 1e-6
        assert got[2]["n_hits"] == 2


class TestEmbeddingNormStats:
    def test_exact_norms(self, spark):
        import math

        from stepist_spark.operators.similarity import embedding_norm_stats

        rows = [
            (0, [3.0, 4.0]),       # norm 5
            (0, [0.6, 0.8]),       # norm 1
            (1, [0.0, 0.0]),       # collapsed
        ]
        df = spark.createDataFrame(rows, "label int, embedding array<float>")
        got = {r["label"]: r for r in embedding_norm_stats(df, "embedding", "label").collect()}
        assert got[0]["norm_sum_scaled"] == 5_000_000 + 1_000_000
        assert got[0]["mean_norm"] == 3.0
        assert got[1]["norm_sum_scaled"] == 0 and got[1]["mean_norm"] == 0.0


class TestJLProjection:
    """JL signed random projection: numpy matmul parity, linearity of
    the sign matrix derivation, and the exact-integer top-k."""

    def test_projection_matches_numpy(self, spark, emb):
        import numpy as np

        from stepist_spark.operators.similarity import (
            JL_SCALE,
            jl_sign_matrix,
            signed_projection,
        )

        rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.filter("vec_id < 6").collect()}
        got = {r["vec_id"]: list(r["proj"])
               for r in signed_projection(
                   emb.filter("vec_id < 6"), out_dims=8, in_dims=64
               ).collect()}
        S = np.array(jl_sign_matrix(8, 64))
        for vid, v in rows.items():
            exp = (S @ np.round(v * JL_SCALE)).astype("int64").tolist()
            assert got[vid] == exp, vid

    def test_sign_matrix_deterministic_and_balanced(self):
        from stepist_spark.operators.similarity import jl_sign_matrix

        a = jl_sign_matrix(16, 64)
        b = jl_sign_matrix(16, 64)
        assert a == b
        flat = [s for row in a for s in row]
        assert set(flat) == {-1, 1}
        # md5 hex digits are uniform: the balance should be well within
        # 4 sigma of half (|Σ| <= 4·sqrt(n))
        assert abs(sum(flat)) <= 4 * int(len(flat) ** 0.5) + 1

    def test_topk_matches_numpy_bruteforce(self, spark, emb, queries):
        import numpy as np

        from stepist_spark.operators.similarity import (
            JL_SCALE,
            jl_sign_matrix,
            jl_topk,
        )

        rows = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
                for r in emb.collect()}
        S = np.array(jl_sign_matrix(16, 64))
        proj = {i: S @ np.round(v * JL_SCALE) for i, v in rows.items()}
        got = {}
        for r in jl_topk(emb, queries, k=3).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["neighbor_id"], r["dot_scaled"])
            )
        for qid in got:
            dots = sorted(
                ((int(proj[qid] @ p), -i) for i, p in proj.items() if i != qid),
                reverse=True,
            )[:3]
            exp = [(rk + 1, -ni, d) for rk, (d, ni) in enumerate(dots)]
            assert sorted(got[qid]) == exp, qid

    def test_duckdb_mirror(self, spark, emb):
        import duckdb

        from stepist_spark.operators.similarity import jl_topk, jl_topk_sql

        got = sorted(tuple(r) for r in jl_topk(
            emb, emb.filter("vec_id < 4"), k=3, out_dims=8
        ).collect())
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{SF}/embeddings.parquet'"
        )
        exp = sorted(tuple(r) for r in con.execute(
            jl_topk_sql(query_pred="vec_id < 4", k=3, out_dims=8)
        ).fetchall())
        assert got == exp


class TestRerankExact:
    """Funnel stage 2: exact rerank of coarse candidates."""

    def test_full_candidates_equal_brute_force(self, emb, queries):
        """Reranking an all-pairs candidate list must equal the exact
        brute-force top-k."""
        all_pairs = emb.select(F.col("vec_id").alias("neighbor_id")).crossJoin(
            queries.select(F.col("vec_id").alias("query_id"))
        ).filter("query_id <> neighbor_id")
        got = _pairs(similarity.rerank_exact(emb, queries, all_pairs, k=3))
        exact = _pairs(similarity.brute_force_topk(emb, queries, k=3))
        assert got == exact

    def test_rerank_restricted_to_candidates(self, spark, emb, queries):
        """A candidate list missing a query's true neighbor cannot
        emit it — the rerank only scores candidate pairs."""
        cand = spark.createDataFrame(
            [(0, 7), (0, 9)], "query_id bigint, neighbor_id bigint"
        )
        got = similarity.rerank_exact(
            emb, queries.filter("vec_id = 0"), cand, k=3
        ).collect()
        assert {r["neighbor_id"] for r in got} == {7, 9}

    def test_jl_funnel_recall_beats_or_matches_coarse(self, emb, queries):
        """With a 4x coarse candidate pool the reranked top-3 overlaps
        the exact top-3 at least as much as the raw JL top-3 does."""
        exact = {q: set() for q in range(4)}
        for (q, n) in _pairs(similarity.brute_force_topk(emb, queries, k=3)):
            exact[q].add(n)
        cand = similarity.jl_topk(emb, queries, k=12)
        fun = {q: set() for q in range(4)}
        for (q, n) in _pairs(similarity.rerank_exact(emb, queries, cand, k=3)):
            fun[q].add(n)
        coarse = {q: set() for q in range(4)}
        for r in similarity.jl_topk(emb, queries, k=3).collect():
            coarse[r["query_id"]].add(r["neighbor_id"])
        fun_hits = sum(len(fun[q] & exact[q]) for q in exact)
        coarse_hits = sum(len(coarse[q] & exact[q]) for q in exact)
        assert fun_hits >= coarse_hits


class TestMutualMarginPairs:
    """Mutual-NN + ratio-margin mining (bitext primitive)."""

    def _topk(self, spark, rows):
        return spark.createDataFrame(
            rows, "query_id bigint, neighbor_id bigint, cos_sim double"
        )

    def test_mutuality_required(self, spark):
        from stepist_spark.operators.similarity import mutual_margin_pairs

        # 1->2 and 2->1 mutual; 1->3 one-directional (3's list lacks 1)
        t = self._topk(spark, [
            (1, 2, 0.9), (1, 3, 0.5),
            (2, 1, 0.9), (2, 3, 0.4),
            (3, 2, 0.4), (3, 4, 0.3),
            (4, 3, 0.3), (4, 2, 0.1),
        ])
        got = {(r["id_a"], r["id_b"]): r for r in mutual_margin_pairs(t).collect()}
        assert set(got) == {(1, 2), (2, 3), (3, 4)}

    def test_margin_hand_computed(self, spark):
        from stepist_spark.operators.similarity import mutual_margin_pairs

        t = self._topk(spark, [
            (1, 2, 0.8), (1, 3, 0.2),
            (2, 1, 0.8), (2, 3, 0.4),
        ])
        got = {(r["id_a"], r["id_b"]): r["margin_scaled"]
               for r in mutual_margin_pairs(t).collect()}
        # pair (1,2): c6=800000, k_a+k_b=4, S_a=1000000, S_b=1200000
        assert got[(1, 2)] == (800_000 * 4 * 1_000_000) // 2_200_000

    def test_negative_denominator_null(self, spark):
        from stepist_spark.operators.similarity import mutual_margin_pairs

        t = self._topk(spark, [(1, 2, -0.5), (2, 1, -0.5)])
        rows = mutual_margin_pairs(t).collect()
        assert len(rows) == 1 and rows[0]["margin_scaled"] is None

    def test_unequal_k_uses_per_side_means(self, spark):
        """Round-6 ADVICE: with k_a != k_b the pooled average
        (S_a+S_b)/(k_a+k_b) deviates from the cited Artetxe & Schwenk
        margin; the denominator must be the mean of PER-SIDE averages."""
        from stepist_spark.operators.similarity import mutual_margin_pairs

        # id 1 has a 2-item list (S_a=1.0), id 2 a 1-item list (S_b=0.8)
        t = self._topk(spark, [(1, 2, 0.8), (1, 3, 0.2), (2, 1, 0.8)])
        got = {(r["id_a"], r["id_b"]): r["margin_scaled"]
               for r in mutual_margin_pairs(t).collect()}
        # per-side means: 0.5 and 0.8 -> denom 0.65 -> 0.8/0.65
        exp = (2 * 800_000 * 2 * 1 * 1_000_000) // (
            1_000_000 * 1 + 800_000 * 2
        )
        assert got[(1, 2)] == exp == 1_230_769
        # the pooled-average formula would have given 0.8/0.6
        assert got[(1, 2)] != (800_000 * 3 * 1_000_000) // 1_800_000

    def test_negative_numerator_truncates_toward_zero_like_duckdb(self, spark):
        import duckdb

        from stepist_spark.operators.similarity import (
            mutual_margin_pairs,
            mutual_margin_pairs_sql,
        )

        rows = [
            (1, 2, -0.1), (1, 3, 0.9),
            (2, 1, -0.1), (2, 3, 0.8),
            (3, 1, 0.9), (3, 2, 0.8),
        ]
        t = self._topk(spark, rows)
        got = sorted(tuple(r) for r in mutual_margin_pairs(t).collect())
        con = duckdb.connect()
        vals = ", ".join(f"({a}, {b}, {c})" for a, b, c in rows)
        sql = mutual_margin_pairs_sql(
            f"SELECT * FROM (VALUES {vals}) t(query_id, neighbor_id, cos_sim)"
        )
        exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == exp
        # the (1,2) margin is negative: proves the sign-factored path
        m12 = [m for (a, b, _, m) in got if (a, b) == (1, 2)]
        assert m12 and m12[0] < 0


def test_signed_projection_dimension_mismatch_raises(spark):
    from stepist_spark.operators.similarity import signed_projection

    df = spark.createDataFrame(
        [(1, [0.1] * 8), (2, [0.1] * 5)], "vec_id bigint, embedding array<float>"
    )
    import pytest as _pt

    with _pt.raises(Exception) as ei:
        signed_projection(df, out_dims=4, in_dims=8).collect()
    assert "signed_projection" in str(ei.value)
