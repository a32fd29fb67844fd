"""r5 final wave: pack attention-contamination audit, Kneser-Ney bigram
LM quality, DoReMi domain-mixture reweighting."""

from __future__ import annotations

import math

import pytest

from esa_pfa_spark.operators.dataset import doremi_weights
from esa_pfa_spark.operators.textstats import kneser_ney_logprob
from esa_pfa_spark.operators.tokens import pack_attention_stats


def _tok_df(spark, rows):
    return spark.createDataFrame(rows, "source string, doc_id long, n_tok int")


class TestPackAttentionStats:
    def test_two_doc_window_counts_by_hand(self, spark):
        # capacity 10: [a:4 | b:6] fills window 0 exactly
        df = _tok_df(spark, [("s", 1, 4), ("s", 2, 6)])
        r = pack_attention_stats(df, capacity=10, order_cols=("source", "doc_id")).collect()
        assert len(r) == 1
        row = r[0]
        assert (row["n_docs"], row["n_tok"]) == (2, 10)
        within = 4 * 5 // 2 + 6 * 7 // 2          # 10 + 21
        total = 10 * 11 // 2                       # 55
        assert row["total_pairs"] == total
        assert row["cross_pairs"] == total - within  # 24
        assert row["contamination_frac"] == pytest.approx(round(24 / 55, 6))

    def test_single_doc_windows_have_zero_cross(self, spark):
        # one 15-token doc spans two windows; each window holds one run
        df = _tok_df(spark, [("s", 1, 15)])
        rows = {r["chunk_id"]: r for r in pack_attention_stats(df, capacity=10).collect()}
        assert set(rows) == {0, 1}
        assert rows[0]["cross_pairs"] == 0 and rows[1]["cross_pairs"] == 0
        assert rows[0]["contamination_frac"] == 0.0
        assert rows[1]["n_tok"] == 5 and rows[1]["total_pairs"] == 15

    def test_conservation_against_pack_manifest(self, spark):
        # window token totals must agree with the packing itself
        df = _tok_df(spark, [("s", i, 3 + (i % 5)) for i in range(40)])
        out = pack_attention_stats(df, capacity=16).collect()
        assert sum(r["n_tok"] for r in out) == sum(3 + (i % 5) for i in range(40))
        for r in out:
            assert 0 <= r["cross_pairs"] < r["total_pairs"] or (
                r["cross_pairs"] == 0 and r["n_docs"] == 1
            )
            assert r["total_pairs"] == r["n_tok"] * (r["n_tok"] + 1) // 2

    def test_pair_counts_exact_past_double_precision(self, spark):
        # T(T+1)/2 for T = 2^27+1 is 9007199456067585 > 2^53: a double
        # division would round it to ...584; only n_tok is read, so one
        # huge row needs no token array
        t = 2**27 + 1
        r = pack_attention_stats(_tok_df(spark, [("s", 1, t)]), capacity=t).collect()
        assert len(r) == 1
        assert r[0]["total_pairs"] == t * (t + 1) // 2 == 9007199456067585
        assert r[0]["cross_pairs"] == 0


class TestKneserNey:
    def test_hand_computed_tiny_corpus(self, spark):
        # bigrams: (a,b) x2, (a,c) x1 -> c(a,*)=3, N1+(a,*)=2, B=2,
        # Pcont(b)=Pcont(c)=1/2
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in kneser_ney_logprob(docs).collect()}
        p_b = (max(2 - 0.75, 0.0) + 0.75 * 2 * 0.5) / 3  # 2/3
        p_c = (max(1 - 0.75, 0.0) + 0.75 * 2 * 0.5) / 3  # 1/3
        assert out[1]["kn_logprob"] == pytest.approx(round(round(math.log(p_b), 6), 6))
        assert out[3]["kn_logprob"] == pytest.approx(round(round(math.log(p_c), 6), 6))
        assert out[1]["n_pairs"] == 1 and out[1]["n_words"] == 2

    def test_single_word_docs_excluded(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b"), (2, "solo")], "doc_id long, text string"
        )
        ids = {r["doc_id"] for r in kneser_ney_logprob(docs).collect()}
        assert ids == {1}

    def test_continuation_correction_vs_raw_frequency(self, spark):
        # "Francisco effect": y is frequent but ALWAYS follows x (one
        # context), z is rarer but follows many contexts.  After an
        # identical context c (seen once with each), KN must score
        # P(z|c) vs P(y|c) by CONTINUATION diversity, so the unseen-ish
        # continuation z (diverse) beats y (collocation-bound) when raw
        # bigram counts tie.
        rows = [(i, "x y") for i in range(10)]                 # c(x,y)=10
        rows += [(100 + i, f"w{i} z") for i in range(4)]       # z after 4 contexts
        rows += [(200, "c y"), (201, "c z")]                   # tie: c(c,y)=c(c,z)=1
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["kn_logprob"] for r in kneser_ney_logprob(docs).collect()}
        assert out[201] > out[200]  # diverse continuation wins the tie

    def test_reference_implementation_parity(self, spark):
        # pure-Python mirror with the same rounding discipline
        texts = {
            1: "a b c a b", 2: "b c d", 3: "a c c b", 4: "d a b c",
        }
        docs = spark.createDataFrame(
            [(k, v) for k, v in texts.items()], "doc_id long, text string"
        )
        from collections import Counter

        big, ctx_tot, ctx_div, cont = Counter(), Counter(), {}, {}
        for t in texts.values():
            ws = t.split(" ")
            for v, w in zip(ws, ws[1:]):
                big[(v, w)] += 1
        for (v, w), c in big.items():
            ctx_tot[v] += c
            ctx_div.setdefault(v, set()).add(w)
            cont.setdefault(w, set()).add(v)
        B = len(big)
        expected = {}
        for did, t in texts.items():
            ws = t.split(" ")
            terms = []
            for v, w in zip(ws, ws[1:]):
                p = (
                    max(big[(v, w)] - 0.75, 0.0)
                    + 0.75 * len(ctx_div[v]) * (len(cont[w]) / B)
                ) / ctx_tot[v]
                terms.append(round(math.log(p), 6))
            expected[did] = round(sum(terms) / len(terms), 6)
        got = {r["doc_id"]: r["kn_logprob"] for r in kneser_ney_logprob(docs).collect()}
        assert got == pytest.approx(expected)


class TestDoremi:
    def _loss_df(self, spark, losses: dict[str, list[float]]):
        rows = [(s, v) for s, vals in losses.items() for v in vals]
        return spark.createDataFrame(rows, "source string, loss double")

    def test_uniform_losses_stay_uniform(self, spark):
        df = self._loss_df(spark, {"a": [2.0, 2.0], "b": [2.0], "c": [2.0, 2.0, 2.0]})
        out = doremi_weights(df, iters=3).collect()
        for r in out:
            assert r["alpha"] == pytest.approx(1 / 3, abs=1e-9)

    def test_hard_domain_gains_weight(self, spark):
        df = self._loss_df(spark, {"hard": [5.0, 5.0], "easy": [1.0, 1.0], "mid": [3.0]})
        out = doremi_weights(df, iters=4, eta=1.0, smoothing=0.1).collect()
        tr = {(r["iter"], r["source"]): r["alpha"] for r in out}
        k = 3
        assert tr[(0, "hard")] == pytest.approx(1 / k, abs=1e-9)
        # monotone trajectory: hard up each round, easy down each round
        for t in range(1, 5):
            assert tr[(t, "hard")] > tr[(t - 1, "hard")]
            assert tr[(t, "easy")] < tr[(t - 1, "easy")]
        # smoothing floor: no alpha below s/k
        assert min(r["alpha"] for r in out) >= 0.1 / k - 1e-9

    def test_alphas_sum_to_one_each_iter(self, spark):
        df = self._loss_df(spark, {"a": [4.0], "b": [2.5, 3.5], "c": [1.0, 2.0]})
        out = doremi_weights(df, iters=5).collect()
        by_iter = {}
        for r in out:
            by_iter.setdefault(r["iter"], []).append(r["alpha"])
        for t, alphas in by_iter.items():
            assert sum(alphas) == pytest.approx(1.0, abs=1e-6), t

    def test_python_reference_trajectory(self, spark):
        losses = {"a": [1.0, 2.0], "b": [4.0], "c": [2.0, 2.0, 5.0]}
        df = self._loss_df(spark, losses)
        eta, s, iters = 1.0, 0.1, 3
        base = {d: round(sum(v) / len(v), 9) for d, v in losses.items()}
        k = len(base)
        alpha = {d: round(1.0 / k, 9) for d in base}
        expect = {(0, d): alpha[d] for d in base}
        for t in range(1, iters + 1):
            mix = sum(round(alpha[d] * base[d], 9) for d in base)  # exact @9dp
            w = {d: round(alpha[d] * math.exp(eta * (base[d] - mix)), 12) for d in base}
            z = sum(w.values())  # exact @12dp
            alpha = {d: round((1.0 - s) * (w[d] / z) + s / k, 9) for d in base}
            for d in base:
                expect[(t, d)] = alpha[d]
        got = {
            (r["iter"], r["source"]): r["alpha"]
            for r in doremi_weights(df, iters=iters, eta=eta, smoothing=s).collect()
        }
        assert got == pytest.approx(expect, abs=1e-12)

    def test_validation(self, spark):
        df = self._loss_df(spark, {"a": [1.0]})
        with pytest.raises(ValueError):
            doremi_weights(df, iters=0)
        with pytest.raises(ValueError):
            doremi_weights(df, smoothing=1.0)


class TestRhoSelect:
    def test_structured_beats_scrambled(self, spark):
        from esa_pfa_spark.operators.importance import rho_select

        # ten copies of the structured phrase, one scrambled permutation:
        # identical unigram profile, but the scrambled doc's bigrams are
        # corpus-rare -> lower KN logprob -> lower reducible-loss score
        rows = [(i, "a b c d") for i in range(10)] + [(99, "d a c b")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = rho_select(docs, k=11).collect()
        scores = {r["doc_id"]: r["rho_score"] for r in out}
        assert scores[0] > scores[99]
        # deterministic ordering: score desc, id asc
        pairs = [(r["rho_score"], r["doc_id"]) for r in out]
        assert pairs == sorted(pairs, key=lambda p: (-p[0], p[1]))

    def test_matches_component_scorers(self, spark):
        from esa_pfa_spark.operators.importance import rho_select
        from esa_pfa_spark.operators.textstats import (
            kneser_ney_logprob,
            unigram_logprob,
        )

        rows = [(i, t) for i, t in enumerate(
            ["a b c", "b c a", "a a b b", "c b a", "d"]
        )]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        u = {r["doc_id"]: r["avg_logprob"] for r in unigram_logprob(docs).collect()}
        kn = {r["doc_id"]: r["kn_logprob"] for r in kneser_ney_logprob(docs).collect()}
        out = rho_select(docs, k=10).collect()
        # single-word doc 4 has no KN score and must be absent
        assert {r["doc_id"] for r in out} == set(kn)
        for r in out:
            assert r["rho_score"] == pytest.approx(
                round(kn[r["doc_id"]] - u[r["doc_id"]], 6)
            )

    def test_k_limits(self, spark):
        from esa_pfa_spark.operators.importance import rho_select

        rows = [(i, f"w{i} x w{i} y") for i in range(20)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        assert rho_select(docs, k=5).count() == 5
