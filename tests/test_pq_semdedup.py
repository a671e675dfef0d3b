"""Product quantization (operators/pq.py) and SemDeDup
(operators/semdedup.py): NumPy-reference agreement, quality monotonicity,
and deterministic prune semantics."""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bloomy_etl_spark.operators.pq import (  # noqa: E402
    pq_encode,
    pq_search,
    train_pq,
)
from bloomy_etl_spark.operators.semdedup import (  # noqa: E402
    semantic_dedup,
    semantic_dup_pairs,
)


def _vec_df(spark, mat):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    )


@pytest.fixture(scope="module")
def clustered(spark):
    """60 vectors in 4 well-separated 8-dim blobs (seeded)."""
    rng = np.random.default_rng(11)
    centers = rng.uniform(-10, 10, size=(4, 8))
    mat = np.concatenate(
        [c + rng.normal(0, 0.3, size=(15, 8)) for c in centers]
    )
    return _vec_df(spark, mat), mat


class TestPQ:
    def test_encode_matches_numpy_reference(self, spark, clustered):
        df, mat = clustered
        books = train_pq(df, m=4, ksub=4, iters=2)
        got = {r["vec_id"]: list(r["codes"])
               for r in pq_encode(df, books).collect()}
        # NumPy reference encode with the SAME trained codebooks
        for i, v in enumerate(mat):
            want = []
            for s in range(4):
                sub = v[s * 2:(s + 1) * 2]
                d = [float(((sub - np.array(c)) ** 2).sum())
                     for c in books[s]]
                want.append(int(np.argmin(d)))  # ties: lower index, as argmin
            assert got[i] == want, f"vec {i}"

    def test_adc_search_matches_numpy_reference(self, spark, clustered):
        df, mat = clustered
        books = train_pq(df, m=4, ksub=4, iters=2)
        codes = pq_encode(df, books)
        q = [float(x) for x in mat[7]]
        got = [(r["vec_id"], r["adc_dist2"], r["rank"])
               for r in pq_search(codes, books, q, k=5).collect()]
        # reference ADC over the same codes
        code_map = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
        luts = []
        for s in range(4):
            qs = np.array(q[s * 2:(s + 1) * 2])
            luts.append([float(((qs - np.array(c)) ** 2).sum())
                         for c in books[s]])
        scored = sorted(
            (sum(luts[s][c] for s, c in enumerate(cs)), i)
            for i, cs in code_map.items()
        )
        want = [(i, round(d, 6), r + 1)
                for r, (d, i) in enumerate(scored[:5])]
        assert [(i, r) for i, _, r in got] == [(i, r) for i, _, r in want]
        for (_, d_got, _), (_, d_want, _) in zip(got, want):
            assert math.isclose(d_got, d_want, abs_tol=1e-6)

    def test_adc_top1_is_own_blob(self, spark, clustered):
        """ADC with enough codebook capacity keeps queries inside their
        blob: the top hits of a blob-0 query are blob-0 members."""
        df, mat = clustered
        books = train_pq(df, m=4, ksub=8, iters=2)
        codes = pq_encode(df, books)
        hits = pq_search(codes, books, [float(x) for x in mat[3]], k=5)
        assert all(r["vec_id"] < 15 for r in hits.collect())

    def test_dim_not_divisible_raises(self, spark):
        df = _vec_df(spark, np.ones((4, 6)))
        with pytest.raises(ValueError, match="not divisible"):
            train_pq(df, m=4, ksub=2)


class TestSemDeDup:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        """Two blobs; ids 1/2 are near-dups of 0, id 11 of 10; 20 is a
        chain case: near 21 only, 21 near 22 only."""
        base0 = np.array([10.0] * 8)
        base1 = np.array([-10.0] * 8)
        rows = {
            0: base0, 1: base0 * 1.0001, 2: base0 * 0.9999,
            3: base0 + np.array([6, -6, 6, -6, 6, -6, 6, -6]),
            10: base1, 11: base1 * 1.0002,
        }
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in sorted(rows.items())],
            "vec_id long, embedding array<double>",
        )
        return df

    def test_near_dups_found_and_lowest_id_kept(self, spark, corpus):
        out = {r["vec_id"]: r["kept"]
               for r in semantic_dedup(corpus, k=2, threshold=0.999).collect()}
        assert out == {0: True, 1: False, 2: False, 3: True,
                       10: True, 11: False}

    def test_pairs_are_within_cluster_only(self, spark, corpus):
        from bloomy_etl_spark.operators.clustering import kmeans_lloyd

        cents, assigned = kmeans_lloyd(corpus, k=2, iters=2)
        pairs = semantic_dup_pairs(corpus, cents, threshold=0.999).collect()
        cl = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        assert pairs, "expected near-dup pairs"
        for r in pairs:
            assert cl[r["i"]] == cl[r["j"]]
            assert r["i"] < r["j"]
            assert r["cos_sim"] >= 0.999

    def test_chain_and_star_prune_shapes(self, spark):
        """Chain a–b near, b–c near, a–c NOT near: the no-lower-id-
        neighbor rule drops b AND c (c's witness is the dropped b)."""
        a = np.array([1.0, 0.0, 0.0, 0.0])
        b = np.array([math.cos(0.1), math.sin(0.1), 0.0, 0.0])
        c = np.array([math.cos(0.2), math.sin(0.2), 0.0, 0.0])
        df = spark.createDataFrame(
            [(0, [float(x) for x in a]), (1, [float(x) for x in b]),
             (2, [float(x) for x in c])],
            "vec_id long, embedding array<double>",
        )
        thr = math.cos(0.15)  # 0.1 apart: dup; 0.2 apart: not
        out = {r["vec_id"]: r["kept"]
               for r in semantic_dedup(df, k=1, threshold=thr).collect()}
        assert out == {0: True, 1: False, 2: False}
        # star: 1 and 2 both near 3, not near each other -> only 3 drops
        d = np.array([math.cos(0.3), math.sin(0.3), 0.0, 0.0])
        df2 = spark.createDataFrame(
            [(0, [float(x) for x in a]), (1, [float(x) for x in d]),
             (2, [float(x) for x in (a + d) / np.linalg.norm(a + d)])],
            "vec_id long, embedding array<double>",
        )
        out2 = {r["vec_id"]: r["kept"]
                for r in semantic_dedup(df2, k=1, threshold=thr).collect()}
        assert out2 == {0: True, 1: True, 2: False}


class TestSemDeDupSkew:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        """100 vectors, 80% in one tight blob (one HOT cluster) — the
        skew shape that makes a plain cluster self-join quadratic in a
        single task at scale."""
        rng = np.random.default_rng(7)
        hot = np.array([5.0] * 8) + rng.normal(0, 0.05, size=(80, 8))
        cold = np.array([-5.0] * 8) + rng.normal(0, 2.0, size=(20, 8))
        mat = np.concatenate([hot, cold])
        return _vec_df(spark, mat), mat

    def test_hot_cluster_pairs_match_naive_reference(self, spark, skewed):
        """bucket_pairs chunking must not change WHICH pairs come out:
        compare against a NumPy all-same-cluster-pairs reference. The
        80-member cluster exceeds BUCKET_PAIR_CAP=64, so this exercises
        the chunked path for real."""
        from bloomy_etl_spark.operators.clustering import kmeans_lloyd

        df, mat = skewed
        cents, assigned = kmeans_lloyd(df, k=2, iters=2)
        cl = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        thr = 0.9999
        want = set()
        for i in range(len(mat)):
            for j in range(i + 1, len(mat)):
                if cl[i] != cl[j]:
                    continue
                cs = float(mat[i] @ mat[j]) / (
                    float(np.linalg.norm(mat[i])) * float(np.linalg.norm(mat[j]))
                )
                if cs >= thr:
                    want.add((i, j))
        got = {(r["i"], r["j"])
               for r in semantic_dup_pairs(df, cents, threshold=thr).collect()}
        assert got == want
        assert len(got) > 64  # the hot cluster really is pair-dense

    def test_hot_cluster_expansion_is_task_bounded(self, spark, skewed):
        """Per-task pair volume stays ≤ ~cap² however hot the cluster:
        the chunked bucket_pairs path spreads chunk-pair rows round-robin
        before expansion."""
        from pyspark.sql import functions as F

        from bloomy_etl_spark.operators.clustering import kmeans_lloyd
        from bloomy_etl_spark.operators.clustering import assign_clusters
        from bloomy_etl_spark.operators.dedup import bucket_pairs

        df, _ = skewed
        cents, _ = kmeans_lloyd(df, k=2, iters=2)
        buckets = (
            assign_clusters(df, cents)
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list("vec_id")).alias("ms"))
        )
        cap = 16
        per_task = (
            bucket_pairs(buckets, cap=cap, carry=("cluster",))
            .groupBy(F.spark_partition_id().alias("pid"))
            .count()
            .agg(F.max("count").alias("mx"))
            .first()["mx"]
        )
        # one chunk-pair row expands to ≤ cap² pairs; allow a couple of
        # rows landing on the same round-robin partition
        assert per_task <= 2 * cap * cap, f"hot task held {per_task} pairs"

    def test_auto_k_matches_explicit(self, spark, clustered):
        """k=None auto-sizes (n/1000 floored at 2 here) and must equal
        the explicit-k run bit for bit."""
        df, _ = clustered
        auto = {(r["vec_id"], r["cluster"], r["kept"])
                for r in semantic_dedup(df, threshold=0.999).collect()}
        expl = {(r["vec_id"], r["cluster"], r["kept"])
                for r in semantic_dedup(df, k=2, threshold=0.999).collect()}
        assert auto == expl


class TestIvfPq:
    def test_build_search_recall_and_pruning(self, spark, clustered, tmp_path):
        from bloomy_etl_spark.operators.pq import (
            build_ivfpq_index,
            search_ivfpq_index,
        )

        df, mat = clustered
        idx = str(tmp_path / "ivfpq")
        books = build_ivfpq_index(
            df, idx, m=4, ksub=8, centroid_stride=10, max_centroids=6,
        )
        assert len(books) == 4 and len(books[0]) == 8
        queries = df.filter("vec_id in (3, 40)")
        hits = search_ivfpq_index(spark, idx, queries, k=5, nprobe=3)
        rows = hits.collect()
        assert len(rows) == 10  # 2 queries x k
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        # PQ quantizes these tight blobs to one code tuple per blob, so
        # ADC ties within the blob and id-order breaks them — the right
        # correctness claim is BLOB membership (quantization-level
        # recall), not exact-L2 top-5 identity
        for qid, rs in by_q.items():
            got = {r["neighbor_id"] for r in rs}
            blob = set(range((qid // 15) * 15, (qid // 15) * 15 + 15))
            assert got <= blob, f"q{qid} escaped its blob: {got - blob}"
            # ranks are 1..5 and ADC distances non-decreasing
            rs = sorted(rs, key=lambda r: r["rank"])
            assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
            assert all(rs[i]["adc_dist2"] <= rs[i + 1]["adc_dist2"]
                       for i in range(4))

    def test_residual_recall_at_least_raw(self, spark, clustered, tmp_path):
        """Residual encoding (PQ over v − coarse_centroid) must recall
        at least as well as raw-vector PQ at equal (m, ksub): blob data
        collapses to one raw code tuple per blob (intra-blob ties),
        while residuals preserve the within-blob offsets."""
        import shutil

        from bloomy_etl_spark.operators.pq import (
            build_ivfpq_index,
            search_ivfpq_index,
        )

        df, mat = clustered
        qids = [3, 17, 33, 48]
        nprobe = 6  # = n_centroids -> exhaustive coarse stage; the A/B
        # difference is then PURELY the encoding quality

        def exact_top5(qid):
            d = ((mat - mat[qid]) ** 2).sum(axis=1)
            return set(np.lexsort((np.arange(len(mat)), d))[:5])

        def recall(idx_dir):
            hits = search_ivfpq_index(
                spark, idx_dir,
                df.filter(f"vec_id in {tuple(qids)}"), k=5, nprobe=nprobe,
            )
            by_q = {}
            for r in hits.collect():
                by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return sum(
                len(by_q[q] & exact_top5(q)) / 5.0 for q in qids
            ) / len(qids)

        raw_idx = str(tmp_path / "raw")
        res_idx = str(tmp_path / "res")
        build_ivfpq_index(df, raw_idx, m=4, ksub=4,
                          centroid_stride=10, max_centroids=6)
        build_ivfpq_index(df, res_idx, m=4, ksub=4, residual=True,
                          centroid_stride=10, max_centroids=6)
        r_raw, r_res = recall(raw_idx), recall(res_idx)
        assert r_res >= r_raw, f"residual {r_res} < raw {r_raw}"
        assert r_res >= 0.5  # residual must be genuinely useful here

        # determinism: the stored residual index replays identically
        a = sorted(map(tuple, search_ivfpq_index(
            spark, res_idx, df.filter("vec_id = 3"), k=5, nprobe=3
        ).collect()))
        b = sorted(map(tuple, search_ivfpq_index(
            spark, res_idx, df.filter("vec_id = 3"), k=5, nprobe=3
        ).collect()))
        assert a == b

        # pre-meta (r6-layout) indexes fall back to raw encoding
        before = sorted(map(tuple, search_ivfpq_index(
            spark, raw_idx, df.filter("vec_id = 3"), k=5, nprobe=3
        ).collect()))
        shutil.rmtree(f"{raw_idx}/meta")
        after = sorted(map(tuple, search_ivfpq_index(
            spark, raw_idx, df.filter("vec_id = 3"), k=5, nprobe=3
        ).collect()))
        assert before == after

    def test_wrong_query_dim_raises(self, spark, clustered, tmp_path):
        from bloomy_etl_spark.operators.pq import (
            build_ivfpq_index,
            search_ivfpq_index,
        )

        df, _ = clustered
        idx = str(tmp_path / "dimchk")
        build_ivfpq_index(df, idx, m=4, ksub=4,
                          centroid_stride=10, max_centroids=6)
        bad = spark.createDataFrame(
            [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
        )
        # the guard is a lazy in-plan raise (no extra plan-build job):
        # it fires when the search executes
        with pytest.raises(Exception, match="query dim"):
            search_ivfpq_index(spark, idx, bad, k=3, nprobe=2).collect()

    def test_search_prunes_partitions(self, spark, clustered, tmp_path):
        from bloomy_etl_spark.operators.pq import (
            build_ivfpq_index,
            search_ivfpq_index,
        )
        from bloomy_etl_spark.tools.profile import run_profile

        df, mat = clustered
        idx = str(tmp_path / "ivfpq2")
        build_ivfpq_index(df, idx, m=4, ksub=4,
                          centroid_stride=10, max_centroids=6)
        queries = df.filter("vec_id = 0")
        prof = run_profile(
            search_ivfpq_index(spark, idx, queries, k=3, nprobe=2)
        )
        scanned = max(
            (s.get("numFiles", 0) for s in prof["scans"]), default=0
        )
        on_disk = sum(
            1
            for root, _, files in os.walk(os.path.join(idx, "corpus"))
            for f in files if f.endswith(".parquet")
        )
        assert 0 < scanned < on_disk, (
            f"IVF-PQ search read {scanned}/{on_disk} corpus files"
        )


class TestIvfPqRefined:
    """Two-stage ADC → exact re-rank (``search_ivfpq_refined``): recall
    A/B against plain ADC at equal nprobe, NumPy agreement of the exact
    tier, raw-list read scope (pushed id filter + partition pruning),
    and incremental-add visibility."""

    @pytest.fixture(scope="class")
    def refined_idx(self, spark, clustered, tmp_path_factory):
        from bloomy_etl_spark.operators.pq import build_ivfpq_index

        df, _ = clustered
        idx = str(tmp_path_factory.mktemp("ivfpq_refined") / "idx")
        build_ivfpq_index(df, idx, m=4, ksub=4, centroid_stride=10,
                          max_centroids=6, keep_raw=True)
        return idx

    def test_missing_raw_tier_fails_loudly(self, spark, clustered,
                                           tmp_path_factory):
        """An index built with the keep_raw=False default must be
        rejected with a targeted error, not an opaque path failure from
        deep inside plan build."""
        from bloomy_etl_spark.operators.pq import (
            build_ivfpq_index,
            search_ivfpq_refined,
        )

        df, _ = clustered
        idx = str(tmp_path_factory.mktemp("ivfpq_noraw") / "idx")
        build_ivfpq_index(df, idx, m=4, ksub=4, centroid_stride=10,
                          max_centroids=6)
        queries = df.limit(2)
        with pytest.raises(ValueError, match="keep_raw=True"):
            search_ivfpq_refined(spark, idx, queries, k=3)

    def test_recall_at_least_plain_adc(self, spark, clustered, refined_idx):
        """At equal nprobe the refined search must recall ≥ plain ADC —
        and on this fixture exactly 1.0: the 15-member blob collapses to
        one code tuple, so ADC alone id-ties inside the blob, while the
        exact tier re-orders the ≥15-member shortlist correctly."""
        from bloomy_etl_spark.operators.pq import (
            search_ivfpq_index,
            search_ivfpq_refined,
        )

        df, mat = clustered
        qids = [3, 17, 33, 48]
        queries = df.filter(f"vec_id in {tuple(qids)}")

        def exact_top5(qid):
            d = ((mat - mat[qid]) ** 2).sum(axis=1)
            return set(np.lexsort((np.arange(len(mat)), d))[:5])

        def recall(hits):
            by_q = {}
            for r in hits.collect():
                by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            return sum(
                len(by_q[q] & exact_top5(q)) / 5.0 for q in qids
            ) / len(qids)

        nprobe = 6  # exhaustive coarse stage: the A/B isolates re-rank
        r_plain = recall(search_ivfpq_index(
            spark, refined_idx, queries, k=5, nprobe=nprobe))
        r_ref = recall(search_ivfpq_refined(
            spark, refined_idx, queries, k=5, nprobe=nprobe, shortlist=20))
        assert r_ref >= r_plain, f"refined {r_ref} < plain ADC {r_plain}"
        assert r_ref == 1.0, f"refined recall {r_ref} != 1.0"

    def test_exact_distances_match_numpy(self, spark, clustered,
                                         refined_idx):
        from bloomy_etl_spark.operators.pq import search_ivfpq_refined

        df, mat = clustered
        out = search_ivfpq_refined(
            spark, refined_idx, df.filter("vec_id in (3, 40)"),
            k=5, nprobe=6, shortlist=20,
        ).collect()
        assert len(out) == 10
        for r in out:
            want = float(((mat[r["query_id"]] - mat[r["neighbor_id"]]) ** 2)
                         .sum())
            assert math.isclose(r["exact_dist2"], round(want, 6),
                                abs_tol=1e-6), (r, want)
        # determinism across runs
        a = sorted(map(tuple, out))
        b = sorted(map(tuple, search_ivfpq_refined(
            spark, refined_idx, df.filter("vec_id in (3, 40)"),
            k=5, nprobe=6, shortlist=20,
        ).collect()))
        assert a == b

    def test_raw_tier_reads_shortlist_not_corpus(self, spark, clustered,
                                                 refined_idx):
        """The exact tier must be point lookups: the shortlist id list
        is PUSHED into the raw-list scan, and at nprobe < n_clusters
        both tiers are partition-pruned (files read < files on disk)."""
        import re

        from bloomy_etl_spark.operators.pq import search_ivfpq_refined
        from bloomy_etl_spark.tools.profile import run_profile

        df, _ = clustered
        out = search_ivfpq_refined(
            spark, refined_idx, df.filter("vec_id = 0"),
            k=3, nprobe=2, shortlist=8,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PushedFilters: \[[^\]]*In\(neighbor_id", plan), (
            "shortlist id filter not pushed to the raw-list scan"
        )
        prof = run_profile(out)
        scanned = sum(s.get("numFiles", 0) for s in prof["scans"])
        on_disk = sum(
            1
            for sub in ("corpus", "raw")
            for root, _, files in os.walk(os.path.join(refined_idx, sub))
            for f in files if f.endswith(".parquet")
        )
        assert 0 < scanned < on_disk, (
            f"refined search read {scanned} files vs {on_disk} in the "
            "code+raw tiers alone — no pruning evidence"
        )
