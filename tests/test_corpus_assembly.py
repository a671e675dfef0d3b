"""Operator-level semantics for the corpus-assembly module
(operators/corpus.py): sessionization boundaries, decontamination
direction, split determinism, packing conservation, percentile
interpolation, top-k tie-breaks.

(The q43–q48 oracle comparisons run via the parametrized
tests/test_llm_corpus.py sweep; these tests pin the semantics on
constructed inputs where the expected answer is known by hand.)
"""

from __future__ import annotations

import datetime

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from bloomy_etl_spark.operators import corpus as C

from tests.conftest import SF_ORACLE


def _ts(h, m=0, s=0):
    return datetime.datetime(2024, 1, 1, h, m, s)


@pytest.fixture(scope="module")
def tiny_events(spark):
    rows = [
        # user 1: three events inside one hour, then a 5-hour jump
        (1, _ts(0), 10.0, 100),
        (1, _ts(0, 30), 10.0, 101),
        (1, _ts(1), 10.0, 102),
        (1, _ts(6), 10.0, 103),
        # user 2: single event
        (2, _ts(3), 5.0, 200),
        # user 3: gap exactly equal to the threshold must NOT break
        (3, _ts(0), 1.0, 300),
        (3, _ts(2), 1.0, 301),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp, value double, event_id long")


class TestSessionize:
    GAP = 2 * 3600  # 2 hours

    def test_session_boundaries(self, tiny_events):
        out = {
            (r["user_id"], r["event_id"]): r["session_seq"]
            for r in C.sessionize(tiny_events, gap_s=self.GAP).collect()
        }
        # user 1: events 100-102 chain (gaps 30m, 30m), 103 breaks (5h)
        assert out[(1, 100)] == out[(1, 101)] == out[(1, 102)] == 1
        assert out[(1, 103)] == 2
        # single event user: one session
        assert out[(2, 200)] == 1
        # gap == threshold is NOT a break (strictly greater breaks)
        assert out[(3, 300)] == out[(3, 301)] == 1

    def test_summary_rollup(self, tiny_events):
        rows = {
            (r["user_id"], r["session_seq"]): r
            for r in C.session_summary(tiny_events, gap_s=self.GAP).collect()
        }
        s = rows[(1, 1)]
        assert s["n_events"] == 3
        assert s["session_start"] == _ts(0) and s["session_end"] == _ts(1)
        assert s["sum_value"] == 30.0
        assert rows[(1, 2)]["n_events"] == 1


class TestContamination:
    def test_direction_and_exclusion(self, spark):
        docs = spark.createDataFrame(
            [
                (0, "alpha beta gamma delta epsilon"),  # benchmark
                (1, "alpha beta gamma something else entirely"),  # overlaps
                (2, "zero overlap with anything here at all"),  # clean
            ],
            "doc_id long, text string",
        )
        hits = C.contamination_hits(docs, F.col("doc_id") == 0).collect()
        flagged = {r["doc_id"]: r["n_hit_shingles"] for r in hits}
        assert 0 not in flagged, "benchmark docs must never self-flag"
        assert 2 not in flagged
        # doc 1 shares exactly one distinct 3-gram: 'alpha beta gamma'
        assert flagged == {1: 1}


class TestSplit:
    def test_total_and_determinism(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        a = C.assign_split(docs).groupBy("split").count().collect()
        counts = {r["split"]: r["count"] for r in a}
        total = sum(counts.values())
        assert total == docs.count()
        # 90/5/5 bands with binomial slack on 500 docs
        assert counts["train"] / total == pytest.approx(0.90, abs=0.06)
        # determinism under repartitioning: identical per-doc assignment
        b = C.assign_split(docs.repartition(7)).select("doc_id", "split")
        merged = (
            C.assign_split(docs)
            .select("doc_id", F.col("split").alias("s1"))
            .join(b, "doc_id")
        )
        assert merged.filter(F.col("s1") != F.col("split")).count() == 0


class TestPacking:
    def test_token_conservation_and_bounds(self, spark):
        from bloomy_etl_spark.functions.text import bpe_ish_token_count
        from bloomy_etl_spark.sources.tables import load_table

        budget = 512
        docs = load_table(spark, SF_ORACLE, "documents")
        bins = C.pack_sequences(docs, budget=budget).cache()
        total_binned = bins.agg(F.sum("bin_tokens")).first()[0]
        total_raw = docs.agg(F.sum(bpe_ish_token_count(F.col("text")))).first()[0]
        assert total_binned == total_raw, "packing must conserve tokens"
        assert bins.filter(F.col("bin_id") < 0).count() == 0
        # bin count per partition bounded by ceil(total/budget) + 1
        per_part = bins.groupBy("lang").agg(
            F.max("bin_id").alias("max_bin"), F.sum("bin_tokens").alias("tot")
        )
        bad = per_part.filter(
            F.col("max_bin") > F.ceil(F.col("tot") / F.lit(budget))
        ).count()
        assert bad == 0
        bins.unpersist()

    def test_sharded_packing_restores_parallelism(self, spark):
        """n_shards on a SINGLE-language corpus: the window key becomes
        (lang, shard) so the running sum runs on n_shards tasks instead
        of serializing onto one; tokens are conserved, bins stay
        budget-bounded per shard, and the assignment is deterministic
        under repartitioning (salted hash, not partition order)."""
        from bloomy_etl_spark.functions.text import bpe_ish_token_count
        from bloomy_etl_spark.sources.tables import load_table

        budget, n_shards = 512, 8
        docs = load_table(spark, SF_ORACLE, "documents").filter(
            F.col("lang") == "en"
        )
        bins = C.pack_sequences(docs, budget=budget, n_shards=n_shards).cache()
        # every shard id in [0, n_shards); on a few hundred docs the
        # salted hash must actually spread (>=half the shards non-empty)
        shard_ids = [r["shard"] for r in bins.select("shard").distinct().collect()]
        assert all(0 <= s < n_shards for s in shard_ids)
        assert len(shard_ids) >= n_shards // 2, shard_ids
        # conservation across the sharded layout
        total_binned = bins.agg(F.sum("bin_tokens")).first()[0]
        total_raw = docs.agg(F.sum(bpe_ish_token_count(F.col("text")))).first()[0]
        assert total_binned == total_raw
        # per-(lang, shard) bins stay budget-bounded, same invariant as
        # the unsharded path
        per_part = bins.groupBy("lang", "shard").agg(
            F.max("bin_id").alias("max_bin"), F.sum("bin_tokens").alias("tot")
        )
        assert per_part.filter(
            F.col("max_bin") > F.ceil(F.col("tot") / F.lit(budget))
        ).count() == 0
        # determinism: repartitioning the input changes nothing
        again = C.pack_sequences(
            docs.repartition(13), budget=budget, n_shards=n_shards
        )
        assert sorted(map(tuple, bins.collect())) == sorted(
            map(tuple, again.collect())
        )
        bins.unpersist()
        with pytest.raises(ValueError):
            C.pack_sequences(docs, budget=budget, n_shards=0)


class TestProfiling:
    def test_percentiles_match_numpy(self, spark):
        vals = [float(v) for v in (1, 2, 3, 4, 5, 6, 7, 8, 9, 100)]
        df = spark.createDataFrame(
            [("x", v) for v in vals], "lang string, n_chars double"
        )
        row = C.length_percentiles(df).first()
        for col, p in (("p25", 25), ("p50", 50), ("p90", 90), ("p99", 99)):
            assert row[col] == pytest.approx(
                round(float(np.percentile(vals, p)), 4)
            ), col

    def test_top_ngrams_tiebreak(self, spark):
        docs = spark.createDataFrame(
            [(0, "b b b b"), (1, "a a a a")], "doc_id long, text string"
        )
        # grams: 'b b b' x2, 'a a a' x2 — tie broken lexicographically
        out = C.top_ngrams(docs, n=3, k=1).collect()
        assert len(out) == 1 and out[0]["gram"] == "a a a"


class TestMixtureSample:
    def test_rates_and_determinism(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        s = C.mixture_sample(docs, group_col="lang", alpha=0.7).cache()
        rates = {
            r["lang"]: r["keep_rate"]
            for r in s.select("lang", "keep_rate").distinct().collect()
        }
        counts = {
            r["lang"]: r["n"]
            for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # smallest group keeps everything; rates decrease with group size
        smallest = min(counts, key=counts.get)
        assert rates[smallest] == pytest.approx(1.0)
        for a, b in zip(sorted(counts, key=counts.get), sorted(counts, key=counts.get)[1:]):
            assert rates[a] >= rates[b] - 1e-12
        # realized sample fraction tracks the rate (binomial slack)
        for r in (
            s.groupBy("lang")
            .agg(
                F.avg(F.col("sampled").cast("double")).alias("frac"),
                F.first("keep_rate").alias("rate"),
            )
            .collect()
        ):
            assert r["frac"] == pytest.approx(r["rate"], abs=0.12)
        # determinism under repartitioning
        again = C.mixture_sample(docs.repartition(7), group_col="lang", alpha=0.7)
        joined = s.select("doc_id", F.col("sampled").alias("s1")).join(
            again.select("doc_id", "sampled"), "doc_id"
        )
        assert joined.filter(F.col("s1") != F.col("sampled")).count() == 0
        s.unpersist()

    def test_alpha_one_keeps_everything(self, spark):
        docs = spark.createDataFrame(
            [(i, "t", "en" if i % 3 else "fr") for i in range(60)],
            "doc_id long, text string, lang string",
        )
        s = C.mixture_sample(docs, group_col="lang", alpha=1.0)
        assert s.filter(~F.col("sampled")).count() == 0


class TestChunking:
    def test_coverage_and_overlap(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        W, S = 48, 32
        ch = C.chunk_documents(docs, window=W, stride=S).cache()
        # every doc yields >=1 chunk; chunk 0 starts at 0
        assert ch.filter((F.col("chunk_idx") == 0) & (F.col("chunk_start") != 0)).count() == 0
        assert ch.select("doc_id").distinct().count() == docs.count()
        # final chunk ends exactly at n_tok; lengths in (0, W]
        last = ch.withColumn(
            "is_last",
            F.col("chunk_idx")
            == F.max("chunk_idx").over(Window.partitionBy("doc_id")),
        )
        bad_end = last.filter(
            F.col("is_last") & (F.col("chunk_start") + F.col("chunk_len") != F.col("n_tok"))
        )
        assert bad_end.count() == 0
        assert ch.filter((F.col("chunk_len") <= 0) | (F.col("chunk_len") > W)).count() == 0
        # consecutive chunks overlap by exactly W - S tokens (except ragged last)
        assert ch.filter(
            (F.col("chunk_idx") > 0) & (F.col("chunk_start") != F.col("chunk_idx") * S)
        ).count() == 0
        ch.unpersist()

    def test_short_doc_single_chunk(self, spark):
        docs = spark.createDataFrame([(1, "one two three")], "doc_id long, text string")
        rows = C.chunk_documents(docs, window=48, stride=32).collect()
        assert len(rows) == 1
        assert rows[0]["chunk_len"] == rows[0]["n_tok"]


class TestSamplePerGroup:
    def test_k_per_group_and_determinism(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        k = 3
        s = C.sample_per_group(docs, k=k, group_col="source").cache()
        sizes = s.groupBy("source").count().collect()
        assert all(r["count"] == k for r in sizes)  # every source has >= k docs
        # the sample is a subset of the corpus with ranks 1..k
        assert s.filter((F.col("sample_rank") < 1) | (F.col("sample_rank") > k)).count() == 0
        again = C.sample_per_group(docs.repartition(11), k=k, group_col="source")
        a = {r["doc_id"] for r in s.select("doc_id").collect()}
        b = {r["doc_id"] for r in again.select("doc_id").collect()}
        assert a == b
        s.unpersist()

    def test_small_group_keeps_all(self, spark):
        docs = spark.createDataFrame(
            [(1, "g"), (2, "g")], "doc_id long, source string"
        )
        assert C.sample_per_group(docs, k=5, group_col="source").count() == 2


class TestQuantization:
    def test_error_bound(self, spark):
        """Round-to-nearest int8 error is <= scale/2 per component."""
        from bloomy_etl_spark.functions import vectors as V
        from bloomy_etl_spark.sources.tables import load_table

        embs = load_table(spark, SF_ORACLE, "embeddings")
        scale = V.quantize_scale(F.col("embedding"))
        bad = embs.select(
            (V.quantize_abs_error(F.col("embedding"), scale) <= scale / 2 + 1e-12).alias("ok")
        ).filter(~F.col("ok"))
        assert bad.count() == 0

    def test_roundtrip_exact_on_grid(self, spark):
        """Vectors already on the int8 grid reconstruct exactly."""
        from bloomy_etl_spark.functions import vectors as V

        df = spark.createDataFrame(
            [(1, [127.0, -127.0, 0.0, 64.0])], "vec_id long, embedding array<double>"
        )
        scale = V.quantize_scale(F.col("embedding"))
        err = df.select(V.quantize_abs_error(F.col("embedding"), scale).alias("e")).first()["e"]
        assert err == pytest.approx(0.0, abs=1e-12)


class TestBloomDecontam:
    def test_bloom_is_superset_and_tight(self, spark):
        """The Bloom path may only ADD candidates (false positives), never
        lose one (no false negatives) — and at fpp=1e-4 on the fixture's
        ~15k probes it should add at most a couple."""
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        pred = F.col("doc_id") % 97 == 0
        exact = {
            r["doc_id"]
            for r in C.contamination_hits(docs, pred).collect()
        }
        bloom = {
            r["doc_id"]
            for r in C.contamination_hits(docs, pred, method="bloom").collect()
        }
        assert exact <= bloom, "bloom must never drop a true hit"
        assert len(bloom) <= len(exact) + 5, (
            f"too many false positives: {len(bloom)} vs {len(exact)}"
        )


class TestBlendToTarget:
    def test_shares_hit_target_and_binding_group_keeps_all(self, spark):
        from bloomy_etl_spark.functions.text import bpe_ish_token_count
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        weights = {"en": 0.4, "zh": 0.15, "de": 0.15, "fr": 0.15, "es": 0.15}
        s = C.blend_to_target(docs, weights, group_col="lang").cache()
        rates = {
            r["lang"]: r["keep_rate"]
            for r in s.select("lang", "keep_rate").distinct().collect()
        }
        assert max(rates.values()) == pytest.approx(1.0), "binding group keeps all"
        kept = {
            r["lang"]: r["t"]
            for r in s.filter("sampled")
            .groupBy("lang")
            .agg(F.sum(bpe_ish_token_count(F.col("text"))).alias("t"))
            .collect()
        }
        total = sum(kept.values())
        for g, w in weights.items():
            assert kept[g] / total == pytest.approx(
                w / sum(weights.values()), abs=0.05
            ), g
        s.unpersist()

    def test_unlisted_group_dropped(self, spark):
        docs = spark.createDataFrame(
            [(i, "a b c d e", "en" if i % 2 else "xx") for i in range(40)],
            "doc_id long, text string, lang string",
        )
        s = C.blend_to_target(docs, {"en": 1.0}, group_col="lang")
        assert s.filter(F.col("lang") == "xx").count() == 0
        assert s.filter("sampled").count() == 20


class TestReviewGuards:
    def test_chunking_rejects_bad_stride(self, spark):
        docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="stride"):
            C.chunk_documents(docs, window=10, stride=32)
        with pytest.raises(ValueError, match="stride"):
            C.chunk_documents(docs, window=10, stride=0)

    def test_blend_rejects_bad_weights(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b", "en")], "doc_id long, text string, lang string"
        )
        with pytest.raises(ValueError, match="positive"):
            C.blend_to_target(docs, {"en": 0.0})
        with pytest.raises(ValueError, match="no corpus group"):
            C.blend_to_target(docs, {"jp": 1.0})

    def test_kmeans_rejects_k_over_corpus(self, spark):
        from bloomy_etl_spark.operators.clustering import kmeans_lloyd

        df = spark.createDataFrame(
            [(1, [0.0, 1.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="exceeds the corpus"):
            kmeans_lloyd(df, k=8, iters=1)


class TestVocabCoverage:
    def test_full_vocab_has_zero_oov(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c a", "x"), (2, "b c d", "y")],
            "doc_id long, text string, lang string",
        )
        full = {r["lang"]: r for r in C.vocab_coverage(docs, v=100).collect()}
        assert full["x"]["oov_tokens"] == 0 and full["y"]["oov_tokens"] == 0
        assert full["x"]["total_tokens"] == 4

    def test_small_vocab_counts_oov_exactly(self, spark):
        # occurrences: a=3, b=2, c=1 -> v=1 vocab = {a}
        docs = spark.createDataFrame(
            [(1, "a a b", "x"), (2, "a b c", "x")],
            "doc_id long, text string, lang string",
        )
        row = C.vocab_coverage(docs, v=1).first()
        assert row["total_tokens"] == 6
        assert row["oov_tokens"] == 3  # b,b,c
        assert row["oov_rate"] == pytest.approx(0.5)


class TestApproxPercentiles:
    def test_approx_within_rank_error(self, spark):
        """The scale path's Greenwald-Khanna results must sit within the
        promised rank error of the exact path on the fixture corpus."""
        import numpy as np
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        exact = {r["lang"]: r for r in C.length_percentiles(docs).collect()}
        approx = {
            r["lang"]: r
            for r in C.length_percentiles(docs, exact=False).collect()
        }
        by_lang = {}
        for row in docs.select("lang", "n_chars").collect():
            by_lang.setdefault(row["lang"], []).append(row["n_chars"])
        for lang, rows in by_lang.items():
            rows.sort()
            n = len(rows)
            for col, p in (("p25", 0.25), ("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
                a = approx[lang][col]
                # rank error 1/accuracy=1e-4 -> on n<=250 rows the sketch
                # is exact up to returning an actual element instead of
                # an interpolation: allow one rank of slack either side
                lo_i = max(0, int(np.floor(p * (n - 1))) - 1)
                hi_i = min(n - 1, int(np.ceil(p * (n - 1))) + 1)
                assert rows[lo_i] <= a <= rows[hi_i], (lang, col, a)
        # schema parity between the two paths
        assert set(exact[next(iter(exact))].asDict()) == set(
            approx[next(iter(approx))].asDict()
        )


class TestCurate:
    """The composed curation pipeline (corpus.curate): lineage
    consistency and stage semantics beyond the q123 oracle gate."""

    @pytest.fixture(scope="class")
    def curated(self, spark):
        from bloomy_etl_spark.operators.corpus import curate
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        return curate(docs, cap=12).collect(), docs.count()

    def test_every_doc_has_exactly_one_disposition(self, curated):
        rows, n = curated
        assert len(rows) == n
        assert all(
            r["stage"] in
            {"quality", "exact_dup", "near_dup", "domain_cap", "kept"}
            for r in rows
        )

    def test_split_iff_kept(self, curated):
        rows, _ = curated
        for r in rows:
            if r["stage"] == "kept":
                assert r["split"] in {"train", "val", "test"}
            else:
                assert r["split"] is None

    def test_domain_cap_enforced(self, curated):
        rows, _ = curated
        per = {}
        for r in rows:
            if r["stage"] == "kept":
                per[r["source"]] = per.get(r["source"], 0) + 1
        assert per and max(per.values()) <= 12

    def test_pipeline_attrition_nontrivial(self, curated):
        """The fixture must exercise ≥3 distinct stages (kept plus at
        least two drop reasons) — an all-kept gate would prove nothing."""
        rows, _ = curated
        stages = {r["stage"] for r in rows}
        assert "kept" in stages and len(stages) >= 3

    def test_partitioning_invariance(self, spark):
        from bloomy_etl_spark.operators.corpus import curate
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        a = {tuple(r) for r in curate(docs.repartition(64), cap=12).collect()}
        b = {tuple(r) for r in curate(docs.coalesce(1), cap=12).collect()}
        assert a == b

    def test_stage_order_is_first_failure(self, spark):
        """A document failing quality must be reported as 'quality' even
        if it is also a duplicate (stage precedence = pipeline order)."""
        from bloomy_etl_spark.operators.corpus import curate

        spark_df = spark.createDataFrame(
            [
                (1, "s", "short text"),               # fails quality (<20 toks)
                (2, "s", "short text"),               # same content: still quality
                (3, "s", " ".join(f"w{i}" for i in range(30))),  # kept
                (4, "s", " ".join(f"w{i}" for i in range(30))),  # exact dup of 3
            ],
            "doc_id long, source string, text string",
        )
        out = {r["doc_id"]: r["stage"] for r in curate(spark_df).collect()}
        assert out[1] == "quality" and out[2] == "quality"
        assert out[3] == "kept" and out[4] == "exact_dup"


class TestStratifiedBudgetSample:
    """Exact-budget Hamilton sampling (corpus.stratified_budget_sample)
    beyond the q124 oracle gate."""

    def test_exact_total_and_quota_bounds(self, spark):
        from bloomy_etl_spark.operators.corpus import stratified_budget_sample
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        n = docs.count()
        per = {
            r["source"]: r["n"]
            for r in docs.groupBy("source").count().withColumnRenamed(
                "count", "n"
            ).collect()
        }
        budget = 137
        out = stratified_budget_sample(docs, budget).collect()
        assert len(out) == budget
        alloc = {}
        for r in out:
            alloc[r["source"]] = r["alloc"]
        # Hamilton guarantee: every group within 1 of its exact quota
        for g, a in alloc.items():
            exact = budget * per[g] / n
            assert abs(a - exact) <= 1, (g, a, exact)

    def test_overbudget_underfills_gracefully(self, spark):
        from bloomy_etl_spark.operators.corpus import stratified_budget_sample

        df = spark.createDataFrame(
            [(i, "a" if i < 3 else "b") for i in range(8)],
            "doc_id long, source string",
        )
        out = stratified_budget_sample(df, budget=100).collect()
        assert len(out) == 8  # capped at group sizes

    def test_partitioning_invariance(self, spark):
        from bloomy_etl_spark.operators.corpus import stratified_budget_sample
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        a = {tuple(r) for r in
             stratified_budget_sample(docs.repartition(64), 55).collect()}
        b = {tuple(r) for r in
             stratified_budget_sample(docs.coalesce(1), 55).collect()}
        assert a == b

    def test_rejects_nonpositive_budget(self, spark):
        from bloomy_etl_spark.operators.corpus import stratified_budget_sample

        df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
        with pytest.raises(ValueError, match="budget"):
            stratified_budget_sample(df, 0)


class TestTokenShards:
    """Token-balanced sharding (corpus.shard_by_token_budget)."""

    def test_matches_naive_global_window(self, spark):
        """The two-phase distributed prefix sum must equal the naive
        single-window running sum EXACTLY — the invariant that makes
        the distributed shape legal."""
        from pyspark.sql import Window

        from bloomy_etl_spark.operators.corpus import (
            salted_hash_bucket,
            shard_by_token_budget,
        )
        from bloomy_etl_spark.functions import text as T
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        got = {(r["doc_id"], r["shard"])
               for r in shard_by_token_budget(docs, 2048).collect()}
        h = salted_hash_bucket("doc_id", "shard", 1_000_000)
        w = (Window.orderBy(h.asc(), F.col("doc_id").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        naive = docs.select(
            "doc_id",
            F.size(T.tokens(F.col("text"))).cast("long").alias("n"),
        ).withColumn("cumb", F.sum("n").over(w) - F.col("n")).select(
            "doc_id",
            F.floor(F.col("cumb") / F.lit(2048.0)).cast("long").alias("shard"),
        )
        want = {(r["doc_id"], r["shard"]) for r in naive.collect()}
        assert got == want

    def test_shards_are_token_balanced(self, spark):
        """Every COMPLETE shard (all but the last) holds ≥ target
        tokens and overshoots by less than its last document — the
        greedy-boundary guarantee."""
        from bloomy_etl_spark.operators.corpus import shard_by_token_budget
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        rows = shard_by_token_budget(docs, 2048).collect()
        per = {}
        for r in rows:
            per.setdefault(r["shard"], []).append(r["n_tokens"])
        assert len(per) >= 5  # the fixture actually splits
        last = max(per)
        max_doc = max(r["n_tokens"] for r in rows)
        for s, toks in per.items():
            if s == last:
                continue
            assert sum(toks) >= 2048 - max_doc
            assert sum(toks) < 2048 + max_doc

    def test_partitioning_invariance(self, spark):
        from bloomy_etl_spark.operators.corpus import shard_by_token_budget
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        a = {tuple(r) for r in
             shard_by_token_budget(docs.repartition(64), 1024).collect()}
        b = {tuple(r) for r in
             shard_by_token_budget(docs.coalesce(1), 1024).collect()}
        assert a == b

    def test_rejects_bad_target(self, spark):
        from bloomy_etl_spark.operators.corpus import shard_by_token_budget

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="target_tokens"):
            shard_by_token_budget(df, 0)


class TestTemperatureQuotas:
    """Temperature mixture allocation (corpus.temperature_quotas)
    beyond the q132 oracle gate."""

    def _docs(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        return load_table(spark, SF_ORACLE, "documents")

    def test_quotas_sum_to_budget(self, spark):
        for alpha in (1, 2, 3, 4):
            rows = C.temperature_quotas(
                self._docs(spark), budget=137, alpha_quarters=alpha
            ).collect()
            assert sum(r["alloc"] for r in rows) == 137

    def test_alpha_flattens_toward_uniform(self, spark):
        """Lower α must allocate the largest source a SMALLER share and
        the smallest source a LARGER-or-equal share — the whole point
        of temperature sampling."""
        docs = self._docs(spark)

        def spread(alpha):
            rows = C.temperature_quotas(
                docs, budget=200, alpha_quarters=alpha
            ).collect()
            big = max(rows, key=lambda r: r["n"])
            small = min(rows, key=lambda r: r["n"])
            return big["alloc"], small["alloc"]

        b1, s1 = spread(1)   # α = ¼ (flattest)
        b4, s4 = spread(4)   # α = 1 (proportional)
        assert b1 <= b4
        assert s1 >= s4

    def test_alpha_one_matches_hamilton_on_counts(self, spark):
        """α=1 (quarters=4) must reproduce plain proportional Hamilton
        apportionment over the raw counts."""
        docs = self._docs(spark)
        rows = C.temperature_quotas(
            docs, budget=100, alpha_quarters=4, scale=1
        ).collect()
        per = {r["source"]: r["n"] for r in rows}
        total = sum(per.values())
        base = {s: (100 * n) // total for s, n in per.items()}
        leftover = 100 - sum(base.values())
        # largest remainder first, ties by source name ascending
        rem = sorted(
            per, key=lambda s: (-((100 * per[s]) % total), s)
        )[:leftover]
        want = {s: base[s] + (1 if s in rem else 0) for s in per}
        got = {r["source"]: r["alloc"] for r in rows}
        assert got == want

    def test_bad_args(self, spark):
        docs = self._docs(spark)
        with pytest.raises(ValueError):
            C.temperature_quotas(docs, budget=0)
        with pytest.raises(ValueError):
            C.temperature_quotas(docs, budget=10, alpha_quarters=5)


class TestFirstSeenNovelty:
    """First-occurrence novelty (corpus.first_seen_novelty) beyond the
    q133 oracle gate."""

    def test_matches_naive_python(self, spark):
        rows = [
            (0, "a b c"),
            (1, "a b c d"),      # novel: "c d" only
            (2, "x y"),          # all novel
            (3, "a b x y"),      # "b x" novel only
            (4, "solo"),         # short-doc fallback gram, novel
            (5, "solo"),         # same fallback gram, not novel
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["n_distinct"], r["n_novel"], r["novelty_e6"])
            for r in C.first_seen_novelty(df, n=2).collect()
        }
        seen: set = set()
        want = {}
        for did, text in rows:
            ws = text.split()
            gs = (
                {f"{a} {b}" for a, b in zip(ws, ws[1:])}
                if len(ws) >= 2 else {text}
            )
            novel = {g for g in gs if g not in seen}
            seen |= gs
            want[did] = (
                len(gs), len(novel), (1_000_000 * len(novel)) // len(gs)
            )
        assert got == want

    def test_novelty_bounds_and_totals(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents", fan_out=True)
        rows = C.first_seen_novelty(docs, n=2).collect()
        assert all(0 <= r["n_novel"] <= r["n_distinct"] for r in rows)
        assert all(0 <= r["novelty_e6"] <= 1_000_000 for r in rows)
        # every distinct gram is novel in exactly one document
        n_grams = (
            docs.select(
                F.explode(
                    F.array_distinct(
                        __import__(
                            "bloomy_etl_spark.functions.text",
                            fromlist=["text"],
                        ).word_ngrams(F.col("text"), 2)
                    )
                ).alias("g")
            )
            .select("g").distinct().count()
        )
        assert sum(r["n_novel"] for r in rows) == n_grams


class TestGopherRepetition:
    """Repetition-rule semantics (corpus.gopher_repetition) beyond the
    q137 oracle gate."""

    def test_hand_checked_shares(self, spark):
        rows = [
            # bigrams: "a b","b a","a b","b a","a b" → top "a b"=3 of 5
            # trigrams: "a b a","b a b","a b a","b a b" → all dup (4 of 4)
            (0, "a b a b a b"),
            # fully varied: top bigram 1/4, no dup trigram
            (1, "v w x y z"),
            (2, "solo"),  # fallback: one whole-text gram at both sizes
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict() for r in
               C.gopher_repetition(df).collect()}
        assert got[0]["n_bigrams"] == 5 and got[0]["top_bigram_n"] == 3
        assert got[0]["top_share_e6"] == 600_000
        assert got[0]["n_trigrams"] == 4 and got[0]["dup_trigram_n"] == 4
        assert got[0]["dup_share_e6"] == 1_000_000
        assert got[0]["keep"] is False
        assert got[1]["top_share_e6"] == 250_000  # 1/4
        assert got[1]["dup_share_e6"] == 0
        assert got[1]["keep"] is False  # top bigram 25% > 20%
        # the fallback gram occupies 100% of both streams
        assert got[2]["n_bigrams"] == 1 and got[2]["top_share_e6"] == 1_000_000
        assert got[2]["keep"] is False

    def test_organic_corpus_mostly_kept(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents", fan_out=True)
        out = C.gopher_repetition(docs)
        n = out.count()
        kept = out.filter("keep").count()
        assert n == docs.count()
        assert kept > 0  # thresholds must not reject everything
        # shares are valid fractions
        bad = out.filter(
            (F.col("top_share_e6") < 0) | (F.col("top_share_e6") > 1_000_000)
            | (F.col("dup_share_e6") < 0)
            | (F.col("dup_share_e6") > 1_000_000)
        ).count()
        assert bad == 0


class TestCharEntropy:
    """Entropy-signal semantics (corpus.char_entropy) beyond the q138
    oracle gate."""

    def test_hand_checked_values(self, spark):
        import math

        rows = [
            (0, "aaaa"),        # one symbol → H = 0 exactly
            (1, "ab ab"),       # two symbols, equal mass → H = ln 2
            (2, "abcd"),        # four distinct → H = ln 4
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r.asDict() for r in
               C.char_entropy(df).collect()}
        assert got[0]["entropy_e6"] == 0
        assert got[0]["n_chars_ns"] == 4 and got[0]["n_distinct_chars"] == 1
        # quantized replay: R(N) − floor(Σ c·R(c) / N)
        def q(n, counts):
            R = lambda c: round(1e6 * math.log(c))
            return R(n) - (sum(c * R(c) for c in counts) // n)
        assert got[1]["entropy_e6"] == q(4, [2, 2])
        assert got[2]["entropy_e6"] == q(4, [1, 1, 1, 1])
        # and they sit within a quantum of the true entropies
        assert abs(got[1]["entropy_e6"] - 1e6 * math.log(2)) <= 2
        assert abs(got[2]["entropy_e6"] - 1e6 * math.log(4)) <= 2

    def test_round_boundary_margin(self):
        """The cross-engine safety argument: no round(1e6·ln c) input
        for any count this corpus can produce sits near enough a .5
        boundary for a 1-ulp ln() difference to flip the quantization
        (worst distance 3.6e-7 at c=132979 vs ~2e-9 ulp)."""
        import math

        worst = min(
            abs((1e6 * math.log(c)) % 1.0 - 0.5)
            for c in range(2, 300_001)
        )
        assert worst > 1e-7

    def test_whitespace_excluded(self, spark):
        df = spark.createDataFrame(
            [(0, "a b"), (1, "ab")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r.asDict() for r in C.char_entropy(df).collect()}
        assert got[0] == got[1] | {"doc_id": 0}


class TestKCenterGreedy:
    """Coreset-selection semantics (clustering.kcenter_greedy) beyond
    the q139 oracle gate."""

    def test_picks_farthest_and_radius_monotone(self, spark):
        from bloomy_etl_spark.operators.clustering import kcenter_greedy

        # 1-d line: seed=0 (min id), farthest is 100, then 50, then 25/75
        pts = [(0, [0.0]), (1, [1.0]), (2, [50.0]), (3, [100.0]),
               (4, [25.0]), (5, [75.0])]
        df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
        out = {r["round"]: r.asDict()
               for r in kcenter_greedy(df, k=4).collect()}
        assert out[0]["vec_id"] == 0 and out[0]["radius_e6"] == 0
        assert out[1]["vec_id"] == 3          # d²=10000
        assert out[1]["radius_e6"] == 10_000 * 1_000_000
        assert out[2]["vec_id"] == 2          # mid point, d²=2500
        assert out[3]["vec_id"] in (4, 5)     # both at d²=625 → min id
        assert out[3]["vec_id"] == 4
        radii = [out[r]["radius_e6"] for r in range(1, 4)]
        assert radii == sorted(radii, reverse=True)
        # coverage partitions the corpus
        assert sum(out[r]["n_assigned"] for r in out) == len(pts)

    def test_k_larger_than_corpus_truncates(self, spark):
        from bloomy_etl_spark.operators.clustering import kcenter_greedy

        df = spark.createDataFrame(
            [(0, [0.0]), (1, [9.0])], "vec_id long, embedding array<float>"
        )
        out = kcenter_greedy(df, k=5).collect()
        assert len(out) == 2
        assert {r["vec_id"] for r in out} == {0, 1}
