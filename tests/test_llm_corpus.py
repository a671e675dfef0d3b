"""Differential test: LLM-data queries vs DuckDB at sf0.01, plus
operator-level semantic checks (LSH recall vs exact ground truth)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.operators.llm_queries import LLM_ORACLE_SQL, LLM_QUERIES

from tests.conftest import SF_ORACLE
from tests.oracle import compare, register_duck_views


@pytest.mark.parametrize("name", sorted(LLM_QUERIES))
def test_llm_query_matches_oracle(spark, duck, name):
    if name not in LLM_ORACLE_SQL:
        pytest.skip(f"{name} is a rows-only entry (non-SQL-expressible)")
    register_duck_views(duck, SF_ORACLE)
    df = LLM_QUERIES[name](spark, SF_ORACLE)
    compare(df, duck, LLM_ORACLE_SQL[name])


@pytest.mark.parametrize("name", sorted(LLM_QUERIES))
def test_llm_query_nonempty(spark, name):
    assert LLM_QUERIES[name](spark, SF_ORACLE).limit(1).count() == 1


def test_minhash_lsh_recall(spark):
    """LSH near-dups must recover ≥90% of the exact-Jaccard pairs (4 bands
    × 4 rows at J≥0.8 → miss probability ≤ (1-0.8⁴)⁴ ≈ 12% worst case,
    and the fixture pairs sit near J≈0.9 where it is ≈2%)."""
    exact = {
        (r["i"], r["j"])
        for r in LLM_QUERIES["q31_ngram_jaccard_neardups"](spark, SF_ORACLE).collect()
    }
    lsh = {
        (r["i"], r["j"])
        for r in LLM_QUERIES["q30_minhash_lsh_neardups"](spark, SF_ORACLE).collect()
    }
    assert lsh <= exact, "LSH-verified pairs must be a subset of exact pairs"
    assert len(lsh) >= 0.9 * len(exact), f"LSH recall too low: {len(lsh)}/{len(exact)}"


def test_simhash_covers_neardups(spark):
    """Manku-style blocking (max_hamming+1 = 7 blocks) is exhaustive by
    pigeonhole, so ≥90% coverage of the exact near-dup pairs only reflects
    how well word-set simhash tracks shingle Jaccard on the fixture."""
    exact = {
        (r["i"], r["j"])
        for r in LLM_QUERIES["q31_ngram_jaccard_neardups"](spark, SF_ORACLE).collect()
    }
    from bloomy_etl_spark.operators.dedup import simhash_near_dups
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    sim = {
        (r["i"], r["j"])
        for r in simhash_near_dups(docs, max_hamming=6).select("i", "j").collect()
    }
    assert len(exact & sim) >= 0.9 * len(exact), (
        f"simhash near-dup coverage too low: {len(exact & sim)}/{len(exact)}"
    )


def test_simhash_blocking_exhaustive_vs_brute_force(spark):
    """The pigeonhole guarantee, end to end: blocked simhash_near_dups must
    return EXACTLY the brute-force hamming ≤ k pair set (the round-1
    defaults dropped pairs whose differing bits spanned all 4 blocks)."""
    from pyspark.sql import functions as F

    from bloomy_etl_spark.operators.dedup import simhash, simhash_near_dups
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents").filter(F.col("doc_id") < 200)
    for k in (3, 6):
        blocked = {
            (r["i"], r["j"])
            for r in simhash_near_dups(docs, max_hamming=k).select("i", "j").collect()
        }
        fps = simhash(docs)
        a = fps.select(F.col("doc_id").alias("i"), F.col("simhash").alias("sa"))
        b = fps.select(F.col("doc_id").alias("j"), F.col("simhash").alias("sb"))
        brute = {
            (r["i"], r["j"])
            for r in a.crossJoin(b)
            .filter(F.col("i") < F.col("j"))
            .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= k)
            .collect()
        }
        assert blocked == brute, (
            f"k={k}: blocked {len(blocked)} pairs != brute-force {len(brute)}"
        )


def test_simhash_rejects_pigeonhole_violation(spark):
    from bloomy_etl_spark.operators.dedup import simhash_near_dups
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(docs, max_hamming=6, n_blocks=4)


def test_simhash_block_layout_covers_all_bits():
    from bloomy_etl_spark.operators.dedup import simhash_block_layout

    for bits, n_blocks in ((32, 7), (64, 4), (32, 5), (16, 16)):
        layout = simhash_block_layout(bits, n_blocks)
        covered = []
        for off, w in layout:
            assert w >= 1
            covered.extend(range(off, off + w))
        assert covered == list(range(bits))


def test_ngram_posting_cap_noop_when_above_max_freq(spark):
    """With the cap above the max observed posting size the pair output is
    identical; with a tight cap it is a subset and the dropped-shingle
    observation fires."""
    from pyspark.sql import Observation

    from bloomy_etl_spark.operators.dedup import ngram_jaccard_pairs
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    base = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs).collect()
    }
    capped_hi = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, max_doc_freq=10**6).collect()
    }
    assert capped_hi == base

    obs = Observation("dropped")
    lo = ngram_jaccard_pairs(docs, max_doc_freq=2, dropped_obs=obs).collect()
    lo_pairs = {(r["i"], r["j"]) for r in lo}
    assert lo_pairs <= set(base)
    assert obs.get["dropped_shingles"] > 0
    # reported jaccard under a cap is a lower bound of the uncapped value
    for r in lo:
        assert r["jaccard"] <= base[(r["i"], r["j"])] + 1e-9


def test_ivf_recall_vs_exact(spark):
    """IVF with nprobe=8 of ~13 lists at sf0.01 must recover most of the
    exact top-5 sets; subset property holds because IVF re-ranks with the
    identical cosine formula."""
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in LLM_QUERIES["q33_cosine_topk"](spark, SF_ORACLE).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in LLM_QUERIES["q41_ivf_ann_topk"](spark, SF_ORACLE).collect()
    }
    assert len(ivf & exact) >= 0.6 * len(exact), (
        f"IVF recall too low: {len(ivf & exact)}/{len(exact)}"
    )


def test_connected_components_chain_and_convergence(spark):
    """A 5-node path graph has diameter 4: bounded rounds must be honest
    about reachability (rounds=1 leaves far nodes unresolved), and
    converge=True must reach the fixpoint where every node takes label 1."""
    from bloomy_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["i", "j"]
    )
    conv = {
        r["node"]: r["label"]
        for r in connected_components(pairs, converge=True).collect()
    }
    assert conv == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    fixed4 = {
        r["node"]: r["label"]
        for r in connected_components(pairs, rounds=4).collect()
    }
    assert fixed4 == conv
    one = {
        r["node"]: r["label"]
        for r in connected_components(pairs, rounds=1).collect()
    }
    assert one[5] == 4  # one hop only: 5 sees 4's id, not 1 yet


def test_fixture_components_converge_at_q42_rounds(spark):
    """The q42 bounded-round result equals the true fixpoint on the
    fixture pair graph — guards the fixed-rounds choice against a fixture
    regeneration that introduces longer near-dup chains."""
    from bloomy_etl_spark.operators.dedup import connected_components, ngram_jaccard_pairs
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    pairs = ngram_jaccard_pairs(docs)
    fixed = sorted(
        (r["node"], r["label"]) for r in connected_components(pairs, rounds=3).collect()
    )
    conv = sorted(
        (r["node"], r["label"])
        for r in connected_components(pairs, converge=True).collect()
    )
    assert fixed == conv


def test_scrub_pii_masks_and_counts(spark):
    from pyspark.sql import functions as F

    from bloomy_etl_spark.functions.text import pii_count, scrub_pii

    df = spark.createDataFrame(
        [
            ("a", "mail me at jane.doe+x@sub.example.co.uk today"),
            ("b", "fetch https://example.org/path_4/file-2.txt and http://x.io/a"),
            ("c", "server 192.168.0.1 and 10.0.0.255 up"),
            ("d", "call +1-555-123-4567 or +44-202-5550-9999"),
            ("e", "clean text with no pii at all"),
        ],
        ["k", "t"],
    )
    out = {
        r["k"]: r
        for r in df.select(
            "k",
            scrub_pii(F.col("t")).alias("scrubbed"),
            pii_count(F.col("t"), "email").alias("ne"),
            pii_count(F.col("t"), "url").alias("nu"),
            pii_count(F.col("t"), "ipv4").alias("ni"),
            pii_count(F.col("t"), "phone").alias("np"),
        ).collect()
    }
    assert out["a"]["scrubbed"] == "mail me at <EMAIL> today"
    assert out["a"]["ne"] == 1
    assert out["b"]["scrubbed"] == "fetch <URL> and <URL>"
    assert out["b"]["nu"] == 2
    assert out["c"]["scrubbed"] == "server <IPV4> and <IPV4> up"
    assert out["c"]["ni"] == 2
    assert out["d"]["scrubbed"] == "call <PHONE> or <PHONE>"
    assert out["d"]["np"] == 2
    assert out["e"]["scrubbed"] == "clean text with no pii at all"
    assert (out["e"]["ne"], out["e"]["nu"], out["e"]["ni"], out["e"]["np"]) == (0, 0, 0, 0)


def test_repetition_metrics_hand_computed(spark):
    from pyspark.sql import functions as F

    from bloomy_etl_spark.functions.text import (
        dup_gram_fraction,
        top_gram_fraction,
        word_ngrams,
    )

    df = spark.createDataFrame([("x", "a b a b a")], ["k", "t"])
    bound = df.select("k", word_ngrams(F.col("t"), 2).alias("g2"))
    r = bound.select(
        F.size("g2").alias("n"),
        dup_gram_fraction(F.col("g2")).alias("dup"),
        top_gram_fraction(F.col("g2")).alias("top"),
    ).collect()[0]
    # grams: [a b, b a, a b, b a] -> 4 total, 2 distinct
    assert r["n"] == 4
    assert abs(r["dup"] - 0.5) < 1e-12
    assert abs(r["top"] - 0.5) < 1e-12


def test_incremental_dedup_matches_full_corpus(spark, tmp_path):
    """The daily-ingest path (new batch vs stored signatures) must find
    exactly the full-corpus near-dup pairs that touch a new doc — the
    history-history pairs are already resolved and must not reappear.
    The signature store round-trips through parquet like a real ingest."""
    from bloomy_etl_spark.operators.dedup import (
        incremental_near_dups,
        minhash_near_dups,
        minhash_signatures,
    )
    from bloomy_etl_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_ORACLE, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    store = str(tmp_path / "sig_store")
    minhash_signatures(hist).write.parquet(store)

    pairs, new_sigs = incremental_near_dups(new, hist, spark.read.parquet(store))
    got = {(r["i"], r["j"], round(r["jaccard"], 6)) for r in pairs.collect()}

    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = {
        (r["i"], r["j"], round(r["jaccard"], 6))
        for r in minhash_near_dups(docs).collect()
        if r["i"] in new_ids or r["j"] in new_ids
    }
    assert got == want
    assert new_sigs.count() == new.count()


def test_kmeans_inertia_monotone(spark):
    """Lloyd's algorithm never increases inertia round over round."""
    from bloomy_etl_spark.operators.clustering import kmeans_lloyd
    from bloomy_etl_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    embs = load_table(spark, SF_ORACLE, "embeddings")
    inertias = []
    for iters in (0, 1, 2, 3):
        _, assigned = kmeans_lloyd(embs, k=8, iters=iters)
        inertias.append(assigned.agg(F.sum("dist2")).first()[0])
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a + 1e-9, inertias


def test_kmeans_separates_obvious_clusters(spark):
    """Two tight blobs far apart must resolve into two pure clusters."""
    from bloomy_etl_spark.operators.clustering import kmeans_lloyd

    rows = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(5)] + [
        (10 + i, [100.0 + 0.01 * i, 100.0]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _, assigned = kmeans_lloyd(df, k=2, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    low = {got[i] for i in range(5)}
    high = {got[10 + i] for i in range(5)}
    assert len(low) == 1 and len(high) == 1 and low != high


def test_normalize_text_semantics(spark):
    """Control chars stripped, whitespace runs collapsed, ends trimmed —
    in that order (a VT is gone before the \\s pass ever sees it)."""
    from bloomy_etl_spark.functions.text import normalize_text
    import pyspark.sql.functions as F

    cases = [
        ("  a  b ", "a b"),
        ("a\tb", "a b"),           # whitespace controls collapse to space
        ("line1\nline2", "line1 line2"),
        ("a\x01b", "ab"),          # other controls stripped
        ("a\x0bb", "ab"),          # VT is control-stripped (RE2/Java \s differ)
        ("\x01  ", ""),            # noise-only collapses to empty
        ("clean text", "clean text"),
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "t string")
    got = [r["n"] for r in df.select(normalize_text(F.col("t")).alias("n")).collect()]
    assert got == [w for _, w in cases]


def test_trained_ivf_recall_at_least_matches_stride(spark):
    """IVF with k-means-trained centroids (the centroids= seam) must reach
    at least the recall of the same-K stride-member quantizer — trained
    cells are tighter, so probing the same number of lists covers at
    least as much of the true neighborhood on this corpus."""
    from bloomy_etl_spark.operators.clustering import kmeans_lloyd
    from bloomy_etl_spark.operators.similarity import ivf_topk
    from bloomy_etl_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    embs = load_table(spark, SF_ORACLE, "embeddings", fan_out=True)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in LLM_QUERIES["q33_cosine_topk"](spark, SF_ORACLE).collect()
    }
    # same number of coarse cells both ways: 500/40 = 13 stride members
    trained, _ = kmeans_lloyd(embs, k=13, iters=2)
    def recall(res):
        got = {(r["query_id"], r["neighbor_id"]) for r in res.collect()}
        return len(got & exact) / len(exact)
    r_stride = recall(ivf_topk(embs, queries, k=5, centroid_stride=40, nprobe=8))
    r_trained = recall(
        ivf_topk(embs, queries, k=5, nprobe=8, centroids=trained)
    )
    assert r_trained >= r_stride - 0.05, (r_trained, r_stride)
    assert r_trained >= 0.6


class TestIvfIndexPersistence:
    def test_stored_search_equals_per_call_operator(self, spark, tmp_path):
        """build once / search many: the stored-index search must return
        EXACTLY what ivf_topk computes per call, and its corpus scan must
        prune to the probed cluster partitions."""
        from bloomy_etl_spark.operators.similarity import (
            build_ivf_index,
            ivf_topk,
            search_ivf_index,
        )
        from bloomy_etl_spark.sources.tables import load_table

        embs = load_table(spark, SF_ORACLE, "embeddings")
        queries = embs.filter(F.col("vec_id") % 100 == 0)
        idx = str(tmp_path / "ivf")
        build_ivf_index(embs, idx)
        got = search_ivf_index(spark, idx, queries, k=5, nprobe=8)
        want = ivf_topk(embs, queries, k=5, nprobe=8)
        cols = ["query_id", "neighbor_id", "rank"]
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.select(*cols).collect())
        )
        # partition pruning actually reached the scan: the probed-cluster
        # IN-list appears as a PartitionFilters entry, and the files read
        # are a strict subset of the index's partitions
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cluster_id" in plan.replace("#", " #").replace(
            "cluster_id #", "cluster_id#"
        ) or "cluster_id" in plan.split("PartitionFilters")[1].split("]")[0]
        n_all = spark.read.parquet(f"{idx}/corpus").select(
            "cluster_id"
        ).distinct().count()
        probed = {r["cluster_id"] for r in got.join(
            spark.read.parquet(f"{idx}/corpus").select("neighbor_id", "cluster_id"),
            "neighbor_id",
        ).select("cluster_id").distinct().collect()}
        assert len(probed) < n_all
