"""Operator-level tests for DSIR importance scoring (corpus.dsir_importance)
and Reciprocal Rank Fusion (search.rrf_fuse), beyond the q121/q122
oracle gates in test_llm_corpus.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.operators.corpus import dsir_importance
from bloomy_etl_spark.operators.search import rrf_fuse
from bloomy_etl_spark.sources.tables import load_table

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_ORACLE, "documents")


class TestDsir:
    def test_target_docs_score_higher_on_average(self, spark, docs):
        """The signal check: documents FROM the target slice must rank
        above non-target documents on average — the per-bucket weights
        are literally likelihood ratios of the two distributions."""
        out = dsir_importance(docs, F.col("lang") == "en").join(
            docs.select("doc_id", "lang"), "doc_id"
        )
        rows = out.select("lang", "score", "n_grams").collect()
        en = [r["score"] / max(r["n_grams"], 1) for r in rows if r["lang"] == "en"]
        rest = [r["score"] / max(r["n_grams"], 1) for r in rows if r["lang"] != "en"]
        assert en and rest
        assert sum(en) / len(en) > sum(rest) / len(rest)

    def test_partitioning_invariance(self, spark, docs):
        """Exact-integer scores must be identical at any parallelism —
        the quantized-ratio design claim (no float reduction order
        anywhere)."""
        a = {
            (r["doc_id"], r["score"])
            for r in dsir_importance(docs.repartition(64), F.col("lang") == "en").collect()
        }
        b = {
            (r["doc_id"], r["score"])
            for r in dsir_importance(docs.coalesce(1), F.col("lang") == "en").collect()
        }
        assert a == b

    def test_every_doc_scored_and_empty_gram_docs_zero(self, spark, docs):
        out = dsir_importance(docs, F.col("lang") == "en")
        assert out.count() == docs.count()
        zero = out.filter(F.col("n_grams") == 0)
        assert zero.filter(F.col("score") != 0).count() == 0

    def test_scoring_pass_shuffles_no_corpus_rows(self, spark, docs):
        """The executed plan's exchanges carry only bucket partials
        (≤ B rows per map task) and the broadcast build — never the
        corpus. Bound: B × tasks + a slack constant, far below the
        500-doc corpus's gram count (~60k)."""
        from bloomy_etl_spark.tools.profile import run_profile

        out = dsir_importance(docs, F.col("lang") == "en", buckets=64)
        prof = run_profile(out)
        n_grams = 64 * 64  # B buckets x an upper bound on map tasks
        assert prof["shuffle_records_written"] <= n_grams, (
            prof["shuffle_records_written"]
        )
        assert prof["spill_bytes"] == 0


class TestRrf:
    def _mk(self, spark, rows, score):
        return spark.createDataFrame(rows, f"doc_id long, {score} long")

    def test_both_lists_beat_single_list(self, spark):
        """A doc ranked mid in BOTH lists outranks a doc that tops only
        one list — the calibration-free property RRF is chosen for."""
        a = self._mk(spark, [(1, 100), (2, 90), (3, 80)], "score_a")
        b = self._mk(spark, [(2, 50), (4, 99)], "score_b")
        out = {r["doc_id"]: r["rrf"] for r in rrf_fuse(a, b).collect()}
        # doc 2: rank 2 in a, rank 2 in b -> 2/(60+2); doc 1: rank 1 one list
        assert out[2] == pytest.approx(1 / 62 + 1 / 62)
        assert out[1] == pytest.approx(1 / 61)
        assert out[2] > out[1] > out[3]

    def test_missing_side_rank_is_null(self, spark):
        a = self._mk(spark, [(1, 10)], "score_a")
        b = self._mk(spark, [(2, 10)], "score_b")
        rows = {r["doc_id"]: r for r in rrf_fuse(a, b).collect()}
        assert rows[1]["rank_b"] is None and rows[1]["rank_a"] == 1
        assert rows[2]["rank_a"] is None and rows[2]["rank_b"] == 1

    def test_topn_bounds_candidates(self, spark):
        a = self._mk(spark, [(i, 1000 - i) for i in range(100)], "score_a")
        b = self._mk(spark, [(i, i) for i in range(100)], "score_b")
        out = rrf_fuse(a, b, topn=5, k=100).collect()
        ids = {r["doc_id"] for r in out}
        # union of each side's top-5: a keeps 0..4, b keeps 99..95
        assert ids == {0, 1, 2, 3, 4, 95, 96, 97, 98, 99}

    def test_tie_break_deterministic(self, spark):
        a = self._mk(spark, [(5, 10), (3, 10), (9, 10)], "score_a")
        b = self._mk(spark, [(9, 10), (5, 10)], "score_b")
        r1 = [tuple(r) for r in rrf_fuse(a, b).collect()]
        r2 = [tuple(r) for r in rrf_fuse(a.repartition(8), b.coalesce(1)).collect()]
        assert r1 == r2


class TestRetrievalMetrics:
    def test_known_hit_pattern(self, spark):
        """Hand-built lists: q1 has hits at ranks 2 and 3 (recall 2/3,
        rr 1/2); q2 has none (recall 0, rr 0.0)."""
        from bloomy_etl_spark.operators.similarity import retrieval_metrics

        result = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3),
             (2, 20, 1), (2, 21, 2), (2, 22, 3)],
            "query_id long, neighbor_id long, rank int",
        )
        truth = spark.createDataFrame(
            [(1, 11), (1, 12), (1, 99), (2, 77), (2, 88), (2, 66)],
            "query_id long, neighbor_id long",
        )
        out = {r["query_id"]: r for r in
               retrieval_metrics(result, truth, k=3).collect()}
        assert out[1]["n_hits"] == 2 and out[1]["rr"] == 0.5
        assert abs(out[1]["recall"] - 2 / 3) < 1e-6
        assert out[2]["n_hits"] == 0 and out[2]["rr"] == 0.0
        assert out[2]["recall"] == 0.0

    def test_rejects_bad_k(self, spark):
        from bloomy_etl_spark.operators.similarity import retrieval_metrics

        df = spark.createDataFrame([(1, 1, 1)], "query_id long, neighbor_id long, rank int")
        with pytest.raises(ValueError, match="k"):
            retrieval_metrics(df, df, k=0)


class TestCollapseRepeats:
    def test_crafted_runs(self, spark):
        from bloomy_etl_spark.functions.text import collapse_token_repeats, tokens

        df = spark.createDataFrame(
            [(1, "a a a b a"), (2, "x"), (3, "y y"), (4, "p q p q")],
            "doc_id long, text string",
        )
        base = df.select("doc_id", tokens(F.col("text")).alias("ws"))
        out = {
            r["doc_id"]: r["c"]
            for r in base.select(
                "doc_id",
                F.array_join(collapse_token_repeats(F.col("ws")), " ").alias("c"),
            ).collect()
        }
        assert out == {1: "a b a", 2: "x", 3: "y", 4: "p q p q"}

    def test_fixture_exercises_the_collapse(self, spark):
        """The gate would prove nothing on a corpus with no consecutive
        repeats — assert some doc actually shrinks, and none grows."""
        from bloomy_etl_spark.operators.llm_queries import LLM_QUERIES
        from tests.conftest import SF_ORACLE

        rows = LLM_QUERIES["q127_collapse_repeats"](spark, SF_ORACLE).collect()
        assert all(r["n_after"] <= r["n_before"] for r in rows)
        assert any(r["n_after"] < r["n_before"] for r in rows)


class TestKeepBest:
    def test_prefers_quality_over_min_id(self, spark):
        """A 3-node chain cluster where the HIGHEST id is the longest
        member: min-id survivorship would keep node 1; quality-max must
        keep node 3 (and break quality ties to the lower id)."""
        from bloomy_etl_spark.operators.dedup import keep_best_per_cluster

        labels = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)],
            "node long, label long",
        )
        docs = spark.createDataFrame(
            [(1, 100), (2, 250), (3, 400), (7, 50), (9, 50)],
            "doc_id long, n_chars long",
        )
        out = {r["cluster_id"]: r for r in
               keep_best_per_cluster(labels, docs, "n_chars").collect()}
        assert out[1]["kept_id"] == 3 and out[1]["n_docs"] == 3
        assert out[7]["kept_id"] == 7  # tie at 50 -> lower id
        assert out[7]["kept_n_chars"] == 50 and out[7]["n_docs"] == 2

    def test_string_ids_fail_at_the_boundary(self, spark):
        """The arg-max negates the id; a string id used to come back as
        a silent ``kept_id = NULL`` instead of an error."""
        from bloomy_etl_spark.operators.dedup import keep_best_per_cluster

        labels = spark.createDataFrame(
            [("a", "a"), ("b", "a")], "node string, label string"
        )
        docs = spark.createDataFrame(
            [("a", 100), ("b", 250)], "doc_id string, n_chars long"
        )
        with pytest.raises(TypeError, match=r"'doc_id' is string.*integral"):
            keep_best_per_cluster(labels, docs, "n_chars")


class TestQualityPercentileGate:
    def test_exact_quota_per_lang(self, spark):
        from bloomy_etl_spark.operators.llm_queries import LLM_QUERIES
        from tests.conftest import SF_ORACLE

        rows = LLM_QUERIES["q130_quality_percentile_gate"](
            spark, SF_ORACLE
        ).collect()
        per = {}
        for r in rows:
            n, k = per.get(r["lang"], (0, 0))
            per[r["lang"]] = (n + 1, k + int(r["kept"]))
        for lang, (n, k) in per.items():
            assert k == (n * 25) // 100, (lang, n, k)

    def test_kept_are_the_top_ranked(self, spark):
        from bloomy_etl_spark.operators.llm_queries import LLM_QUERIES
        from tests.conftest import SF_ORACLE

        rows = LLM_QUERIES["q130_quality_percentile_gate"](
            spark, SF_ORACLE
        ).collect()
        for r in rows:
            if r["kept"]:
                worst_kept = max(
                    x["rank"] for x in rows
                    if x["lang"] == r["lang"] and x["kept"]
                )
                best_dropped = min(
                    (x["rank"] for x in rows
                     if x["lang"] == r["lang"] and not x["kept"]),
                    default=10**9,
                )
                assert worst_kept < best_dropped
                break
