"""Round-4 operators: χ² ranking, PMI pairs, entropy profile,
curation funnel, bigram LM (ml/feature_select.py, operators/search.py,
operators/aggregates.py, operators/curation.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


class TestChiSquareRank:
    def test_matches_hand_computed_contingency(self, spark):
        from fraud_detection_project_spark.ml.feature_select import (
            chi_square_rank,
        )

        # 2x2 table: a:(y=1)=30,(y=0)=10 ; b:(y=1)=10,(y=0)=30
        rows = (
            [("a", 1)] * 30 + [("a", 0)] * 10 + [("b", 1)] * 10 + [("b", 0)] * 30
        )
        df = spark.createDataFrame(rows, "f1 string, y int")
        got = chi_square_rank(df, ["f1"], "y").first()
        # E = 20 in every cell; chi2 = 4 * (10^2/20) = 20
        assert got["feature"] == "f1"
        assert abs(got["chi2"] - 20.0) < 1e-9
        assert got["dof"] == 1
        assert got["n"] == 80

    def test_independent_feature_scores_zero(self, spark):
        from fraud_detection_project_spark.ml.feature_select import (
            chi_square_rank,
        )

        rows = [(v, y) for v in ("a", "b") for y in (0, 1) for _ in range(25)]
        df = spark.createDataFrame(rows, "f1 string, y int")
        got = chi_square_rank(df, ["f1"], "y").first()
        assert abs(got["chi2"]) < 1e-9

    def test_zero_cell_contributes_expected(self, spark):
        from fraud_detection_project_spark.ml.feature_select import (
            chi_square_rank,
        )

        # (b, 1) never observed: O=0 cell must still contribute E
        rows = [("a", 0)] * 10 + [("a", 1)] * 10 + [("b", 0)] * 10
        df = spark.createDataFrame(rows, "f1 string, y int")
        got = chi_square_rank(df, ["f1"], "y").first()
        # n=30; rt(a)=20 rt(b)=10; ct(0)=20 ct(1)=10
        # E: a0=40/3, a1=20/3, b0=20/3, b1=10/3
        exp = (
            (10 - 40 / 3) ** 2 / (40 / 3)
            + (10 - 20 / 3) ** 2 / (20 / 3)
            + (10 - 20 / 3) ** 2 / (20 / 3)
            + (0 - 10 / 3) ** 2 / (10 / 3)
        )
        assert abs(got["chi2"] - round(exp, 6)) < 1e-6


class TestEntropyProfile:
    def test_uniform_and_constant_columns(self, spark):
        from fraud_detection_project_spark.operators.aggregates import (
            entropy_profile,
        )

        rows = [(v, "k") for v in ("a", "b", "c", "d") for _ in range(10)]
        df = spark.createDataFrame(rows, "u string, k string")
        got = {r["column_name"]: r for r in entropy_profile(df, ["u", "k"]).collect()}
        assert abs(got["u"]["entropy_bits"] - 2.0) < 1e-9  # log2(4)
        assert got["u"]["n_distinct"] == 4
        assert abs(got["k"]["entropy_bits"]) < 1e-9  # constant
        assert got["k"]["n_distinct"] == 1

    def test_skewed_matches_formula_and_excludes_nulls(self, spark):
        from fraud_detection_project_spark.operators.aggregates import (
            entropy_profile,
        )

        rows = [("a",)] * 3 + [("b",)] * 1 + [(None,)] * 5
        df = spark.createDataFrame(rows, "v string")
        got = entropy_profile(df, ["v"]).first()
        h = -(0.75 * math.log2(0.75) + 0.25 * math.log2(0.25))
        assert got["n_rows"] == 4
        assert abs(got["entropy_bits"] - round(h, 6)) < 1e-6


class TestCurationFunnel:
    def test_cumulative_counts_and_null_predicates(self, spark):
        from fraud_detection_project_spark.operators.curation import (
            curation_funnel,
        )

        df = spark.createDataFrame(
            [(1, 5, True), (2, 20, True), (3, 50, None), (4, 60, False)],
            "id long, x long, ok boolean",
        )
        out = curation_funnel(
            df,
            [("big", F.col("x") >= 10), ("ok", F.col("ok"))],
        ).collect()
        assert [(r["stage_idx"], r["stage"], r["survivors"]) for r in out] == [
            (0, "input", 4),
            (1, "big", 3),
            (2, "ok", 1),  # null ok -> fails, cumulative AND
        ]


class TestPmiBigram:
    def test_pmi_hand_example(self, spark):
        from fraud_detection_project_spark.operators.search import (
            pmi_term_pairs,
        )

        # 4 docs; x and y always together (2 docs), z everywhere
        docs = spark.createDataFrame(
            [
                (1, "x y z"),
                (2, "x y z"),
                (3, "z q w"),
                (4, "z q w"),
            ],
            "doc_id long, text string",
        )
        out = {
            (r["term_a"], r["term_b"]): r
            for r in pmi_term_pairs(
                docs, min_df=2, max_df_frac=1.0, min_pair_df=2, top_k=100
            ).collect()
        }
        xy = out[("x", "y")]
        assert xy["pair_df"] == 2
        # pmi = ln(2*4/(2*2)) = ln 2
        assert abs(xy["pmi"] - round(math.log(2), 6)) < 1e-6
        xz = out[("x", "z")]
        # pmi = ln(2*4/(2*4)) = 0
        assert abs(xz["pmi"]) < 1e-9

    def test_bigram_probabilities_sum_to_one_per_context(self, spark):
        from fraud_detection_project_spark.operators.search import (
            bigram_lm_topk,
        )

        docs = spark.createDataFrame(
            [(1, "a b a b a c"), (2, "a b a c a b")],
            "doc_id long, text string",
        )
        out = bigram_lm_topk(docs, min_count=1, top_k=100).collect()
        # contexts: 'a' appears as non-final in both docs
        a_rows = [r for r in out if r["w1"] == "a"]
        assert abs(sum(r["p"] for r in a_rows) - 1.0) < 1e-6
        ab = next(r for r in out if (r["w1"], r["w2"]) == ("a", "b"))
        # c(a b)=4, c(a .)=6  (doc1: ab ab ac -> ab x2 ac x1; doc2: ab ac ab)
        assert ab["c"] == 4
        assert abs(ab["p"] - round(4 / 6, 6)) < 1e-6


class TestSubstringContamination:
    def test_normalized_probe_hits_punctuated_doc(self, spark):
        from fraud_detection_project_spark.operators.dedup import (
            substring_contamination,
        )

        docs = spark.createDataFrame(
            [
                (1, "The Answer... IS: forty-two!"),
                (2, "nothing to see here"),
                (3, "answer is forty two"),
            ],
            "doc_id long, text string",
        )
        out = {
            (r["doc_id"], r["probe"])
            for r in substring_contamination(
                docs, ["answer is forty two"]
            ).collect()
        }
        # doc 1 normalizes to 'the answer is forty two' -> hit
        assert out == {(1, "answer is forty two"), (3, "answer is forty two")}


class TestLmPerplexity:
    def _docs(self, spark, texts):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )

    def test_hand_computed_tiny_corpus(self, spark):
        import math

        from fraud_detection_project_spark.operators.search import (
            lm_perplexity,
        )

        docs = self._docs(spark, ["a b a b", "a b"])
        # bigrams: doc0 = (a,b),(b,a),(a,b); doc1 = (a,b)
        # counts: c(a,b)=3, c(b,a)=1; ctx: c(a.)=3, c(b.)=1; V=2, k=0.1
        p_ab = (3 + 0.1) / (3 + 0.2)
        p_ba = (1 + 0.1) / (1 + 0.2)
        got = {
            r["doc_id"]: r
            for r in lm_perplexity(docs, k=0.1).collect()
        }
        want0 = math.exp(-(2 * math.log(p_ab) + math.log(p_ba)) / 3)
        want1 = math.exp(-math.log(p_ab))
        assert got[0]["n_bigrams"] == 3
        # perplexity is rounded to 6 dp
        assert got[0]["ppl"] == pytest.approx(want0, abs=5e-7)
        assert got[1]["ppl"] == pytest.approx(want1, abs=5e-7)

    def test_gibberish_scores_higher_than_repetition(self, spark):
        from fraud_detection_project_spark.operators.search import (
            lm_perplexity,
        )

        common = "the quick brown fox jumps over the lazy dog " * 5
        texts = [common] * 8 + ["zxq plk wvn qqj mzr tbl okp vvx"]
        got = {
            r["doc_id"]: r["ppl"]
            for r in lm_perplexity(self._docs(spark, texts)).collect()
        }
        assert got[8] > max(got[i] for i in range(8)) * 1.5

    def test_large_k_smoothing_tends_to_vocab_size(self, spark):
        """With k large against every count, add-k smoothing drowns the
        corpus counts, every bigram tends to probability 1/V and the
        perplexity tends to the vocabulary size V (the limit an unseen
        bigram reaches exactly)."""
        from fraud_detection_project_spark.operators.search import (
            lm_perplexity,
        )

        docs = self._docs(spark, ["a b c a b c", "c b a"])  # V = 3
        got = lm_perplexity(docs, k=1e9).collect()
        assert len(got) == 2
        assert all(r["ppl"] == pytest.approx(3.0, abs=1e-6) for r in got)

    def test_short_docs_excluded(self, spark):
        from fraud_detection_project_spark.operators.search import (
            lm_perplexity,
        )

        docs = self._docs(spark, ["hello", "", "a b"])
        got = lm_perplexity(docs).collect()
        assert [r["doc_id"] for r in got] == [2]


class TestRemoveBoilerplateLines:
    def _run(self, spark, docs, min_docs=2):
        from fraud_detection_project_spark.operators.curation import (
            remove_boilerplate_lines,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
        )
        out = remove_boilerplate_lines(
            df, F.split("text", "\n"), min_docs=min_docs
        )
        return {
            r["doc_id"]: (list(r["kept_lines"]), r["n_removed"])
            for r in out.collect()
        }

    def test_common_lines_removed_order_preserved(self, spark):
        got = self._run(
            spark,
            [
                "keep me\nCOOKIE BANNER\nunique tail",
                "COOKIE BANNER\nother body",
                "solo document",
            ],
        )
        assert got[0] == (["keep me", "unique tail"], 1)
        assert got[1] == (["other body"], 1)
        assert got[2] == (["solo document"], 0)

    def test_doc_can_lose_every_line(self, spark):
        got = self._run(spark, ["same\nsame", "same\nsame"], min_docs=2)
        # 'same' occurs in 2 distinct docs -> both copies go in each doc
        assert got[0] == ([], 2)
        assert got[1] == ([], 2)

    def test_within_doc_repetition_does_not_trigger(self, spark):
        # min_docs counts DISTINCT docs: a line repeated 5x inside one
        # doc but appearing nowhere else stays
        got = self._run(spark, ["x\nx\nx\nx\nx", "different"], min_docs=2)
        assert got[0] == (["x"] * 5, 0)

    def test_threshold_three_spares_two_doc_lines(self, spark):
        got = self._run(
            spark,
            ["shared\na", "shared\nb", "c"],
            min_docs=3,
        )
        assert got[0] == (["shared", "a"], 0)
        assert got[1] == (["shared", "b"], 0)
