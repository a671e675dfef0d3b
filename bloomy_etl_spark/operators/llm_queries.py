"""Oracle-checked queries for the LLM-data operators (dedup, similarity,
text analysis) over the ``documents`` and ``embeddings`` fixtures.

Every query runs the real operator library (operators/dedup.py,
operators/similarity.py, functions/text.py, functions/vectors.py) on the
Spark side; the DuckDB oracle is a faithful SQL translation using the same
portable md5-derived hashing, so MinHash/SimHash signatures are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bloomy_etl_spark.functions import text as T
from bloomy_etl_spark.operators import corpus as C
from bloomy_etl_spark.operators import dedup as D
from bloomy_etl_spark.operators.similarity import cosine_topk
from bloomy_etl_spark.session import pin
from bloomy_etl_spark.sources.tables import load_table
from bloomy_etl_spark.output import presentation_sort as _psort


def q26_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup via sha256 digest grouping (all fixtures are
    unique → every n_copies = 1; the operator semantics are the contract)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_duplicates(docs).transform(_psort, "keep_id")


def q27_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish estimate) rolled up by
    (lang, source)."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(T.token_count(text)), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.max(T.token_count(text)).alias("max_tokens"),
            F.round(F.avg(T.bpe_ish_token_count(text)), 4).alias("avg_bpe_tokens"),
        )
        .transform(_psort, "lang", "source")
    )


def q28_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals + composite score."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    text = F.col("text")
    return docs.select(
        "doc_id",
        T.token_count(text).alias("n_tokens"),
        F.round(T.stopword_ratio(text), 4).alias("stopword_ratio"),
        F.round(T.unique_word_ratio(text), 4).alias("unique_ratio"),
        F.round(T.mean_word_length(text), 4).alias("mean_word_len"),
        F.round(T.punct_ratio(text), 4).alias("punct_ratio"),
        F.round(T.quality_score(text), 4).alias("quality"),
        # isolate: this sort sits directly on the per-document scoring
        # projection (no shuffle in between) — coalesce(1) would
        # serialize the whole fan-out compute
    ).transform(_psort, "doc_id", isolate=True)


def q29_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID vs the labeled lang (confusion counts).
    The fixture vocabulary is shared across langs, so this certifies the
    operator's determinism, not its accuracy on real text."""
    # fan_out: the per-doc marker-regex evaluation dominates the scan
    # (measured 2x at sf0.1), unlike q26/q27's cheap digest/count exprs
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return (
        docs.select("lang", T.predict_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(_psort, "lang", "predicted")
    )


def q30_minhash_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) → LSH(4 bands × 4 rows) candidates → exact-Jaccard ≥ 0.8
    verification."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pairs = D.minhash_near_dups(docs)
    return pairs.select("i", "j", F.round("jaccard", 4).alias("jaccard")).transform(_psort, "i", "j")


def q31_ngram_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.8) — the
    ground truth the LSH variant is measured against."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pairs = D.ngram_jaccard_pairs(docs)
    return pairs.select("i", "j", F.round("jaccard", 4).alias("jaccard")).transform(_psort, "i", "j")


def q32_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash with Manku-style 7-block LSH blocking (= max_hamming
    + 1 blocks, so pigeonhole makes the blocked join EXHAUSTIVE for
    hamming ≤ 6) — summarized as a hamming histogram. The fixture's shared
    bag-of-words vocabulary makes low hamming common (simhash correctly
    reports high word-set similarity), so the DOC-pair space is huge
    (5.2M pairs at sf0.1); the histogram keeps the cross-engine check
    compact. The aggregate is pushed THROUGH the member expansion
    algebraically instead of materializing it: a fingerprint pair
    (i-group x j-group) contributes n_i*n_j doc pairs at its hamming, a
    same-fingerprint group contributes C(n,2) at hamming 0, and the
    group-minimal pair key is a closed form of the two sorted member
    heads (members are disjoint across fingerprints, so
    least/greatest(m_i[0], m_j[0]) IS the minimum over the cross
    product). The full doc-pair expansion (``simhash_near_dups``) stays
    the operator contract and is brute-force-asserted in
    tests/test_llm_corpus.py; the DuckDB oracle still materializes every
    pair, so the hash gate checks the identity end-to-end."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # r9: pin the fingerprint groups — fp_pairs prunes members/n, so its
    # subtree differed from the gi/gj/within consumers' and the whole
    # simhash text pass ran TWICE from two parquet scans (plan before:
    # 2 scans, second one text-only feeding a duplicate simhash fold).
    # The pin materializes the narrow (simhash, members, n) proxy once
    # (guide §2.4/§8).
    groups = pin(D.simhash_groups(docs), eager=False)
    fp_pairs = D.simhash_fp_pairs(groups)
    gi = groups.select(
        F.col("simhash").alias("sh_i"), F.col("members").alias("m_i"),
        F.col("n").alias("n_i"),
    )
    gj = groups.select(
        F.col("simhash").alias("sh_j"), F.col("members").alias("m_j"),
        F.col("n").alias("n_j"),
    )
    cross = (
        fp_pairs.join(gi, "sh_i")
        .join(gj, "sh_j")
        .select(
            "hamming",
            (F.col("n_i") * F.col("n_j")).alias("n_pairs"),
            (
                F.least(F.col("m_i")[0], F.col("m_j")[0]) * 100000
                + F.greatest(F.col("m_i")[0], F.col("m_j")[0])
            ).alias("pair_key"),
        )
    )
    within = groups.filter(F.col("n") > 1).select(
        F.lit(0).cast("bigint").alias("hamming"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
        (F.col("members")[0] * 100000 + F.col("members")[1]).alias("pair_key"),
    )
    return (
        cross.unionByName(within)
        .groupBy(F.col("hamming").cast("int").alias("hamming"))
        .agg(
            F.sum("n_pairs").alias("n_pairs"),
            F.min("pair_key").alias("min_pair_key"),
        )
        .transform(_psort, "hamming")
    )


def q33_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for every 100th vector (broadcast query
    side, corpus never shuffles)."""
    embs = load_table(spark, sf_dir, "embeddings", fan_out=True)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    out = cosine_topk(embs, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    ).transform(_psort, "query_id", "rank")


def q34_embedding_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked pairwise cosine ≥ 0.4 (the blocked all-pairs shape;
    at scale the block is an LSH bucket)."""
    embs = load_table(spark, sf_dir, "embeddings", fan_out=True)
    pairs = D.embedding_near_dups(embs, threshold=0.4)
    return pairs.select("i", "j", F.round("cos_sim", 4).alias("cos_sim")).transform(_psort, "i", "j")


def q35_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint = min shingle hash (1-perm MinHash); clusters
    sharing a fingerprint are near-dup candidates."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    # array_min over an in-row transform — no explode, no extra shuffle;
    # the only shuffle is the final fingerprint groupBy.
    fp = docs.select(
        "doc_id",
        F.array_min(
            F.transform(T.word_shingles(F.col("text")), lambda s: T.md5_int(s))
        ).alias("fingerprint"),
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .transform(_psort, "fingerprint")
    )


def q36_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH buckets → candidate join →
    exact cosine re-rank. Approximate RELATIVE TO exact top-k (recall
    floor asserted against q33 in tests), but fully deterministic in
    itself — the hyperplanes are a seeded arithmetic sequence — so the
    DuckDB oracle replicates the whole algorithm (same planes, same
    accumulation order via list_dot_product) and the full
    rows+schema+hash gate applies."""
    from bloomy_etl_spark.operators.similarity import lsh_topk

    embs = load_table(spark, sf_dir, "embeddings", fan_out=True)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    out = lsh_topk(embs, queries, k=5, bits=4, tables=16)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    ).transform(_psort, "query_id", "rank")


def q37_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end on synthesized media (document text
    bytes as payloads, kind round-robined): Arrow-batched mapInPandas
    decode → per-kind stats. ``codec="stub"`` pins the deterministic
    byte-statistics path, which IS SQL-expressible (the fixture text is
    pure ASCII, so per-byte stats are per-char stats in the oracle) —
    full rows+schema+hash gate despite the Python UDF in the plan."""
    from bloomy_etl_spark.operators.multimodal import decode_stats

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"), F.lit(48).alias("height"),
            F.lit(3).alias("channels"), F.lit(16000).alias("sample_rate"),
            F.lit(16).alias("n_frames"), F.lit("synthetic").alias("format"),
        ).alias("meta"),
    )
    stats = decode_stats(media, codec="stub")
    return (
        stats.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
            F.round(F.avg("byte_mean"), 4).alias("avg_byte_mean"),
            F.round(F.avg("byte_entropy_proxy"), 4).alias("avg_entropy"),
            F.count_distinct("content_hash").alias("n_distinct"),
        )
        .transform(_psort, "kind")
    )


def q39_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals per language: duplicate
    2/3-gram fractions and most-common-2-gram share, plus a count of docs
    flagged repetitive (top-2-gram share > 0.1). The gram arrays are bound
    to attributes BEFORE the metric lambdas touch them (the word_shingles
    re-evaluation pitfall); the whole stack is a pure projection — zero
    extra shuffles beyond the final per-lang aggregate."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    bound = docs.select(
        "lang",
        T.word_ngrams(F.col("text"), 2).alias("g2"),
        T.word_ngrams(F.col("text"), 3).alias("g3"),
    )
    feats = bound.select(
        "lang",
        T.dup_gram_fraction(F.col("g2")).alias("dup2"),
        T.dup_gram_fraction(F.col("g3")).alias("dup3"),
        T.top_gram_fraction(F.col("g2")).alias("top2"),
    )
    return (
        feats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup2"), 4).alias("avg_dup_2gram"),
            F.round(F.avg("dup3"), 4).alias("avg_dup_3gram"),
            F.round(F.avg("top2"), 4).alias("avg_top_2gram"),
            F.sum((F.col("top2") > 0.1).cast("long")).alias("n_repetitive"),
        )
        .transform(_psort, "lang")
    )


def q40_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + scrub over web-shaped text. The fixture corpus is
    clean bag-of-words, so PII is synthesized deterministically from
    doc_id (same precedent as q37's media payloads): emails on id%5,
    URLs on id%7, IPv4s on id%11, phones on id%13 — then the
    detect/scrub operators run for real and the per-source counts and
    masked-length deltas are oracle-checked."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(did % 5 == 0, F.concat(
            F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
        )).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(
            F.lit(" see https://data.example.org/doc/"), did.cast("string")
        )).otherwise(F.lit("")),
        F.when(did % 11 == 0, F.concat(
            F.lit(" host 10."), (did % 200).cast("string"),
            F.lit(".0."), (did % 250).cast("string")
        )).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.concat(
            F.lit(" call +1-555-"), F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0")
        )).otherwise(F.lit("")),
    )
    base = docs.select("source", aug.alias("aug"))
    feats = base.select(
        "source",
        T.pii_count(F.col("aug"), "email").alias("c_email"),
        T.pii_count(F.col("aug"), "url").alias("c_url"),
        T.pii_count(F.col("aug"), "ipv4").alias("c_ipv4"),
        T.pii_count(F.col("aug"), "phone").alias("c_phone"),
        (F.length("aug") - F.length(T.scrub_pii(F.col("aug")))).alias("len_delta"),
    )
    any_pii = (F.col("c_email") + F.col("c_url") + F.col("c_ipv4") + F.col("c_phone")) > 0
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(any_pii.cast("long")).alias("n_with_pii"),
            F.sum("c_email").alias("n_emails"),
            F.sum("c_url").alias("n_urls"),
            F.sum("c_ipv4").alias("n_ipv4"),
            F.sum("c_phone").alias("n_phones"),
            F.round(F.avg("len_delta"), 4).alias("avg_len_delta"),
        )
        .transform(_psort, "source")
    )


def q41_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (deterministic coarse centroids → inverted lists →
    nprobe probing → exact re-rank). Fully deterministic, so the DuckDB
    oracle replays the algorithm exactly; recall vs exact top-k is
    asserted separately in tests."""
    from bloomy_etl_spark.operators.similarity import ivf_topk

    embs = load_table(spark, sf_dir, "embeddings", fan_out=True)
    queries = embs.filter(F.col("vec_id") % 100 == 0)
    out = ivf_topk(embs, queries, k=5, centroid_stride=40, nprobe=8)
    return out.select(
        "query_id", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim"), "rank"
    ).transform(_psort, "query_id", "rank")


def q42_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pipeline COMPLETION: exact-Jaccard pairs → connected
    components (bounded-round min-label propagation, one lazy plan) →
    per-cluster summary (representative id, size, max member). This is the
    step that turns a pair list into a keep/drop decision; the DuckDB
    oracle computes the same components with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pairs = D.ngram_jaccard_pairs(docs)
    return D.dedup_clusters(pairs).transform(_psort, "cluster_id")


def q43_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization (8 h) of the event stream → one row
    per (user, session) with bounds, event count, and value total. The
    session-assembly step that turns raw interaction logs into training
    conversation units."""
    ev = load_table(spark, sf_dir, "events")
    return C.session_summary(ev, gap_s=8 * 3600).transform(
        _psort, "user_id", "session_seq"
    )


def q44_benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screen: flag every non-benchmark doc
    sharing ≥1 distinct 3-gram with the benchmark subset (doc_id % 97 =
    0 models the held-out eval suite), with the overlap count."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.contamination_hits(docs, F.col("doc_id") % 97 == 0).transform(
        _psort, "doc_id"
    )


def q45_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (p25/p50/p90/p99) — the
    distribution audit behind packing-budget / truncation choices."""
    docs = load_table(spark, sf_dir, "documents")
    return C.length_percentiles(docs).transform(_psort, "lang")


def q46_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-20 word trigrams by occurrence (ties broken by
    gram text) — boilerplate detection input."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.top_ngrams(docs, n=3, k=20)


def q47_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-hash train/val/test split (90/5/5) rolled up
    per (lang, split) with doc and token totals."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        C.assign_split(docs)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.bpe_ish_token_count(F.col("text"))).alias("sum_bpe_tokens"),
        )
        .transform(_psort, "lang", "split")
    )


def q48_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-fit token packing into 2048-token bins per
    language → per-bin doc count, token total, fill ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return C.pack_sequences(docs, budget=2048).transform(_psort, "lang", "bin_id")


def _sampling_rollup(s: DataFrame) -> DataFrame:
    """Shared per-language rollup for the hash-threshold samplers
    (q50/q55): doc count, sampled count, the group's rate, kept tokens."""
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
            F.round(F.first("keep_rate"), 6).alias("keep_rate"),
            F.sum(
                F.when(F.col("sampled"), T.bpe_ish_token_count(F.col("text")))
                .otherwise(F.lit(0))
            ).alias("kept_tokens"),
        )
        .transform(_psort, "lang")
    )


def q50_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (α=0.7) language rebalance: per-language keep
    rate ``(n/n_min)**(α−1)`` applied via a deterministic salted-hash
    threshold — rolled up per language with kept doc/token totals."""
    docs = load_table(spark, sf_dir, "documents")
    return _sampling_rollup(C.mixture_sample(docs, group_col="lang", alpha=0.7))


def q51_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window (48-token, stride 32) document chunking with overlap —
    the full chunk table: one row per (doc, chunk) with offset and ragged
    final-chunk length. fan_out: the per-row regex token count dominates
    the single-file scan (measured 0.29→0.10 s at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.chunk_documents(docs, window=48, stride=32).transform(
        _psort, "doc_id", "chunk_idx"
    )


def q52_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric-quantization audit over the embedding corpus:
    per-label vector count, mean quantization scale, and mean/max of each
    vector's max absolute reconstruction error."""
    from bloomy_etl_spark.functions import vectors as V

    embs = load_table(spark, sf_dir, "embeddings", fan_out=True)
    scale = V.quantize_scale(F.col("embedding"))
    audited = embs.select(
        "label",
        scale.alias("scale"),
        V.quantize_abs_error(F.col("embedding"), scale).alias("max_err"),
    )
    return (
        audited.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("scale"), 6).alias("avg_scale"),
            F.round(F.avg("max_err"), 6).alias("avg_max_err"),
            F.round(F.max("max_err"), 6).alias("worst_err"),
        )
        .transform(_psort, "label")
    )


def q57_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization audit: formatting noise (leading spaces, tab +
    trailing whitespace runs, a control byte) is synthesized
    deterministically from doc_id (q37/q40 precedent — the fixture corpus
    is already clean), then normalize_text runs for real and per-source
    change counts, removed-char totals, and the clean-doc round-trip
    invariant are oracle-checked."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    did = F.col("doc_id")
    dirty = F.concat(
        F.when(did % 5 == 0, F.lit("  ")).otherwise(F.lit("")),
        F.col("text"),
        F.when(did % 3 == 0, F.concat(F.lit("\t trailing"), F.lit("  run")))
        .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("\x01")).otherwise(F.lit("")),
    )
    # the fixture text is pre-normalized (asserted by the oracle match),
    # so the exact post-normalization string is predictable: the original
    # text plus the collapsed tail for %3 docs — a full round-trip check,
    # not just a changed-count
    expected = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.lit(" trailing run")).otherwise(F.lit("")),
    )
    base = docs.select(
        "source", dirty.alias("dirty"), expected.alias("expected")
    )
    norm = T.normalize_text(F.col("dirty"))
    feats = base.select(
        "source",
        (norm != F.col("dirty")).cast("long").alias("changed"),
        (F.length("dirty") - F.length(norm)).alias("removed"),
        (norm == F.col("expected")).cast("long").alias("agrees"),
    )
    return (
        feats.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("changed").alias("n_changed"),
            F.sum("removed").alias("chars_removed"),
            F.sum("agrees").alias("n_clean_roundtrip"),
        )
        .transform(_psort, "source")
    )


def q56_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global top-16 word vocabulary (occurrence-ranked, ties by
    word) with a per-language OOV audit — the sizing study before
    tokenizer training. v=16 of the fixture's 31 distinct words keeps
    the OOV signal non-trivial."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.vocab_coverage(docs, v=16).transform(_psort, "lang")


BLEND_WEIGHTS = {"en": 0.4, "zh": 0.15, "de": 0.15, "fr": 0.15, "es": 0.15}


def q55_blend_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-share corpus blending: per-language keep rates computed so
    the kept corpus hits 40/15/15/15/15 token shares (largest feasible
    blend; the binding language keeps everything), applied by salted-hash
    threshold — rolled up per language."""
    docs = load_table(spark, sf_dir, "documents")
    return _sampling_rollup(C.blend_to_target(docs, BLEND_WEIGHTS, group_col="lang"))


def q54_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (k=8, 2 rounds, deterministic smallest-id
    init, 6-dp centroid quantization) over the embedding corpus →
    per-cluster size, inertia, centroid norm. The DuckDB oracle replays
    the identical algorithm as a CTE chain."""
    from bloomy_etl_spark.operators.clustering import kmeans_summary

    embs = load_table(spark, sf_dir, "embeddings", fan_out=True)
    return kmeans_summary(embs, k=8, iters=2).transform(_psort, "cluster")


def q53_eval_carveout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-per-source eval carve-out: salted-hash rank within
    each source — a reproducible uniform sample for human review /
    held-out evaluation."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        C.sample_per_group(docs, k=3, group_col="source")
        .select("source", "sample_rank", "doc_id", "lang", "n_chars")
        .transform(_psort, "source", "sample_rank")
    )


def q59_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (20/source) by deterministic
    salted-hash rank — the anti-flooding control for web corpora."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        C.domain_cap(docs, cap=20)
        .filter("kept")
        .select("source", "domain_rank", "doc_id")
        .transform(_psort, "source", "domain_rank")
    )


def q60_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM quality scoring (CCNet-style): per-doc
    bigram frequency mass and hapax rate against corpus statistics. The
    gated columns are integer-derived (exact cross-engine); the float
    avg_logprob column is unit-tested instead (corpus.bigram_lm_score)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return (
        C.bigram_lm_score(docs)
        .select("doc_id", "n_bigrams", "sum_freq", "n_rare", "mean_freq",
                "rare_rate")
        .transform(_psort, "doc_id")
    )


def q61_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring pairs (8-token verbatim windows) — the
    Lee-et-al. copied-passage signal that Jaccard similarity misses."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return D.shared_span_pairs(docs, span=8).transform(_psort, "i", "j")


def q62_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, 3 merge rounds: pair counting
    as a weighted hash-agg over the vocabulary table, argmax with
    lexicographic tie-break, greedy merge via delimited-symbol string
    replace. The DuckDB oracle replays all three rounds as a CTE chain
    (same iterative-replay pattern as q54's k-means).

    Bench transparency: like q54's Lloyd rounds, the driver-synchronized
    training jobs run when this callable BUILDS the plan; the timed
    materialization covers only the merge-table artifact. The DuckDB
    side replays the full training inside its timed run, so this
    query's per-query ratio UNDERSTATES Spark's cost — read its bench
    line accordingly (the corpus-level ratio impact is bounded by the
    oracle's own sub-100ms runtime)."""
    from bloomy_etl_spark.operators.bpe import bpe_merge_table

    docs = load_table(spark, sf_dir, "documents")
    return bpe_merge_table(docs, rounds=3).transform(_psort, "round")


def q63_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: train 3 BPE merges, then
    segment every document with them — per-source compression audit
    (BPE pieces vs base characters). Pure map once the merge table is
    learned; the oracle replays training AND segmentation."""
    from bloomy_etl_spark.operators.bpe import bpe_segment, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, rounds=3)
    seg = bpe_segment(docs, merges)
    return (
        docs.select("doc_id", "source")
        .join(seg, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("bpe_tokens").alias("bpe_tokens"),
            F.sum("char_tokens").alias("char_tokens"),
            F.round(F.sum("bpe_tokens") / F.sum("char_tokens"), 4).alias(
                "compression"
            ),
        )
        .transform(_psort, "source")
    )


def q64_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions.text.html_to_text) under the
    hash gate: wrap every document in deterministic markup (style block,
    conditional script subtree, headings, entity-encoded fragment),
    extract, and gate the per-source md5 sum of the extracted strings —
    exact string equality for every document without shipping strings."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    html = F.concat(
        F.lit("<html><head><style>p{color:red}</style></head>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("<script>var x = 1 < 2;\nalert('hi');</script>")
               ).otherwise(F.lit("")),
        F.lit("<BODY><h1>Doc "), F.col("doc_id").cast("string"),
        F.lit("</h1>\n<p>"), F.col("text"), F.lit("</p>"),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("<p>fish &amp; chips &lt;b&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y</p>")
               ).otherwise(F.lit("")),
        F.lit("</BODY></html>"),
    )
    extracted = T.html_to_text(html)
    return (
        docs.select("source", extracted.alias("t"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("t")).alias("sum_chars"),
            F.sum(T.md5_int(F.col("t"))).alias("content_hash_sum"),
        )
        .transform(_psort, "source")
    )


def q65_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency oracle (operators/sketches.py) under
    the hash gate: build a 4×256 sketch over corpus words (bounded-state
    aggregation), probe it for the exact top-20 words, and gate
    (exact, estimate, overcount) — integer counters, portable md5
    buckets, so the oracle replays build AND probe bit-exactly. The
    one-sided error guarantee (est ≥ exact) is asserted in units."""
    from bloomy_etl_spark.operators.sketches import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    words = docs.select(F.explode(T.tokens(F.col("text"))).alias("w"))
    sketch = cms_build(words, "w", depth=4, width=256)
    exact = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("w"))
        .limit(20)
    )
    est = cms_estimate(sketch, exact.select("w"), "w", depth=4, width=256)
    return (
        exact.join(est, "w")
        .select(
            "w", "exact_cnt", "est",
            (F.col("est") - F.col("exact_cnt")).alias("overcount"),
        )
        .transform(_psort, "w")
    )


def q66_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A-ES weighted sampling (corpus.weighted_sample):
    top-15 documents by character-mass-weighted priority. Gated columns
    are the SELECTED ROWS (doc_id, lang, n_chars) — membership is the
    contract; the float priority key itself stays out of the hash
    (pow ULP differences cannot change membership unless two keys tie
    within ~1e-16, far below the fixture's key gaps)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        C.weighted_sample(docs, k=15, weight_col="n_chars")
        .select("doc_id", "lang", "n_chars")
        .transform(_psort, "doc_id")
    )


def q67_dedup_kept_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual DELIVERABLE: the corpus AFTER
    removal. Near-dup pairs → connected components → drop every
    non-representative member (keep the min-id representative per
    cluster) → per-language audit of what survived. Completes the
    q31→q42 chain with the anti-join step a real pipeline ships."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pairs = D.ngram_jaccard_pairs(docs)
    labels = D.connected_components(pairs)
    drop = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(drop, "doc_id", "left_anti")
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .transform(_psort, "lang")
    )


_TFIDF_TERMS = ["fast", "query", "spark", "table"]


def q68_tfidf_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-term TF-IDF relevance scoring (corpus.tfidf_score) — the
    "keep documents like these" curation primitive. Scores are integer
    (tf × 6-dp-scaled idf), so every document's exact score is gated."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return (
        C.tfidf_score(docs, _TFIDF_TERMS)
        .select("doc_id", "score_scaled", "n_hits")
        .transform(_psort, "doc_id")
    )


def q69_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-QA drift detection (corpus.distribution_drift): per-(lang)
    chi-square of the odd-doc_id half against the even-doc_id baseline —
    deterministic snapshot split, exact-integer-derived statistics."""
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return C.distribution_drift(ref, new, "lang").transform(_psort, "lang")


def q113_prefix_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join at threshold 0.7 via prefix
    filtering (dedup.prefix_jaccard_join — AllPairs/PPJoin): only each
    doc's rarest ``⌊0.3·|S|⌋+1`` shingles enter the inverted index, yet
    the verified output is every pair with true Jaccard ≥ 0.7 — the
    lossless complement of q31's capped inverted index. The oracle is
    the brute-force shared-shingle join (exactness IS the gate)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pairs = D.prefix_jaccard_join(docs, threshold=0.7)
    return pairs.select(
        "i", "j", F.round("jaccard", 4).alias("jaccard")
    ).transform(_psort, "i", "j")


def q112_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (corpus.cooccurrence_lift): top-20 pairs of
    the 64 most-document-frequent tokens by lift = n_ab·N/(n_a·n_b) —
    exact integer counts, one IEEE division, in-row pair generation
    (per-doc work capped at vocab²/2, no exploded self-join)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.cooccurrence_lift(docs, vocab_size=64, top=20)


def q120_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering trained IN the engine
    (regression.logreg_gd_train): 3 full-batch GD rounds of fast-sigmoid
    logistic regression predicting lang='en' from exact text features
    (token/char/digit counts scaled by powers of two — exact doubles),
    then map-side corpus scoring. The k-means replay pattern: weights
    are floor-quantized to 6 dp per round, z-folds are fixed
    left-associated, the link is rational (no libm exp), so the DuckDB
    oracle replays training AND scoring as a 3-round CTE chain.

    Bench transparency (same as q54/q62): the driver-synchronized
    training jobs run at plan BUILD; the timed materialization covers
    the corpus scoring pass, while the oracle replays training inside
    its timed run."""
    from bloomy_etl_spark.operators.regression import logreg_gd_train, logreg_score

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        F.lit(1.0).alias("x0"),
        (F.size(F.split(F.col("text"), r"\s+")) / 128).alias("x1"),
        (F.col("n_chars") / 1024).alias("x2"),
        ((F.length("text")
          - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))) / 16
         ).alias("x3"),
        (F.col("lang") == "en").cast("double").alias("y"),
    )
    cols = ["x0", "x1", "x2", "x3"]
    w = logreg_gd_train(feat, cols, "y", rounds=3, lr=1.0 / 1024)
    return (
        logreg_score(feat, cols, w)
        .select(
            "doc_id", F.col("y").cast("long").alias("label"),
            F.round("score", 6).alias("score"),
            (F.col("score") >= 0.5).alias("kept"),
        )
        .transform(_psort, "doc_id")
    )


def q118_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed document-fingerprint pairs (dedup.winnow_fingerprint_
    pairs — Schleimer et al. SIGMOD'03, the MOSS algorithm): md5 each
    5-token gram, keep each 4-gram window's minimum hash, pair docs
    sharing a selected fingerprint. Same ≥8-token copied-passage catch
    guarantee as q61's full span index at ~2/(window+1) the postings;
    the oracle replays the identical md5-prefix min selection."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return (
        D.winnow_fingerprint_pairs(docs, k=5, window=4)
        .transform(_psort, "i", "j")
    )


def q121_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance data selection (corpus.dsir_importance —
    Xie et al. 2023): hashed-bigram (B=64) quantized-likelihood-ratio
    scores of every document against the lang='en' target distribution,
    gated as the exact-integer top-100 selection. The weight map builds
    from ONE bounded (B-row) aggregate and broadcasts back; per-doc
    scoring is an in-row fold, so the corpus never shuffles; the oracle
    replays bucket hashing, smoothing, floor quantization, and the
    integer score sums verbatim."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    scored = C.dsir_importance(docs, F.col("lang") == "en", buckets=64)
    top = scored.orderBy(F.desc("score"), "doc_id").limit(100)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (
        top.withColumn("rank", F.row_number().over(w))
        .transform(_psort, "rank")
    )


def q122_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion (search.rrf_fuse —
    Cormack et al. SIGIR'09): the lexical list is q68's integer-scaled
    seed-term TF-IDF, the semantic list is floor-quantized cosine
    against the vec_id=0 query embedding (broadcast, corpus never
    shuffles); each side reduces to its top-50 by a distributed
    TakeOrdered before any window, and rrf = 1/(60+r_text) +
    1/(60+r_vec) is two IEEE divisions of exact integers — the fused
    top-10 replays bit-identically."""
    from bloomy_etl_spark.functions.vectors import dot, norm
    from bloomy_etl_spark.operators.search import rrf_fuse

    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    embs = load_table(spark, sf_dir, "embeddings")
    text_side = C.tfidf_score(docs, _TFIDF_TERMS).select(
        "doc_id", F.col("score_scaled").alias("s_text")
    )
    q = embs.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        norm(F.col("embedding")).alias("nq"),
    )
    c = embs.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("cv"),
        norm(F.col("embedding")).alias("nc"),
    )
    vec_side = c.join(F.broadcast(q), F.lit(True)).select(
        "doc_id",
        F.floor(
            F.lit(1000000.0)
            * (dot(F.col("cv"), F.col("qv")) / (F.col("nq") * F.col("nc")))
        ).cast("long").alias("s_vec"),
    )
    fused = rrf_fuse(
        text_side, vec_side, score_a="s_text", score_b="s_vec",
        topn=50, k=10,
    )
    return fused.select(
        "doc_id", "rank_a", "rank_b", F.round("rrf", 6).alias("rrf")
    ).transform(_psort, "doc_id")


def q123_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The assembled end-to-end curation pipeline WITH per-document
    lineage (corpus.curate): quality gate (integer cross-product
    unique-ratio test) → exact sha256 dedup → 1-perm-MinHash
    fingerprint near-dedup → salted-hash domain cap (12/source — sized
    so the stage bites on the fixture) → deterministic split
    assignment. Every document is gated with the FIRST stage that
    dropped it or its kept split — the composition proof that the
    operators stay exact when chained into one linear plan (three
    window shuffles total, no per-stage anti-join round trips)."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.curate(docs, cap=12).transform(_psort, "doc_id")


def q124_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-budget stratified sampling (corpus.stratified_budget_sample):
    draw exactly 123 documents allocated across sources by
    largest-remainder (Hamilton) apportionment — integer-exact quotas
    (budget·n DIV N), leftover seats to the largest remainders (ties by
    source name), members = the salted-hash top-alloc within each
    source. 123 is chosen so the remainder stage BITES on the uniform
    fixture (every group ties at the same remainder and the name
    tie-break decides). The apportionment runs in windows over the
    G-row count frame — no driver collect."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        C.stratified_budget_sample(docs, budget=123)
        .transform(_psort, "source", "sample_rank")
    )


def q125_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication audit (sketches.kmv_build/
    kmv_overlap_cols over shingle hashes): per-source KMV sketches of
    the distinct 3-word-shingle sets, then every source pair's
    estimated distinct/union/intersection/Jaccard — "which domain
    mirrors which" at a glance, the corpus-level complement of the
    per-document dedup gates. At fixture scale every source is below
    k=4096, so the sketch IS the exact distinct set and the oracle
    replays exact set algebra (q79's pattern); at capacity the same
    plan degrades to the (k-1)/u_k bottom-k estimator. Exchange is
    sketch-bounded: ≤ k hashes per source, G² pairs of in-row array
    ops — the corpus-scale shingle stream reduces map-side."""
    from bloomy_etl_spark.operators import sketches as SK

    k = 4096
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    sh = docs.select(
        "source", F.explode(T.word_shingles(F.col("text"))).alias("s")
    )
    sk = SK.kmv_build(sh, ["source"], "s", k=k)
    a = sk.select(F.col("source").alias("source_a"), F.col("kmv").alias("ka"))
    b = sk.select(F.col("source").alias("source_b"), F.col("kmv").alias("kb"))
    pairs = a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
    est = SK.kmv_overlap_cols(F.col("ka"), F.col("kb"), k)
    return pairs.select(
        "source_a",
        "source_b",
        F.round(est["est_a"]).cast("long").alias("est_a"),
        F.round(est["est_b"]).cast("long").alias("est_b"),
        F.round(est["est_union"]).cast("long").alias("est_union"),
        F.round(est["est_inter"]).cast("long").alias("est_inter"),
        F.round(est["jaccard"], 4).alias("jaccard"),
    ).transform(_psort, "source_a", "source_b")


def q127_collapse_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document stutter cleaning (text.collapse_token_repeats):
    collapse every run of consecutively repeated tokens to one
    occurrence and gate the CLEANED TEXT itself plus before/after token
    counts — the transform stage downstream of q39's repetition
    metrics (tag soup, OCR echo, template spam). Pure per-row array
    work; no UDF, no extra shuffle beyond the fan-out respread."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    base = docs.select("doc_id", T.tokens(F.col("text")).alias("__ws"))
    return base.select(
        "doc_id",
        F.size("__ws").alias("n_before"),
        F.size(T.collapse_token_repeats(F.col("__ws"))).alias("n_after"),
        F.array_join(
            T.collapse_token_repeats(F.col("__ws")), " "
        ).alias("cleaned"),
    ).transform(_psort, "doc_id")


def q128_keep_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-max survivorship over near-dup clusters
    (dedup.keep_best_per_cluster): q42's exact-Jaccard connected
    components, but the kept representative is the LONGEST member
    (n_chars desc, id asc) instead of the lowest id — what production
    dedup actually ships (min-id silently prefers whatever was crawled
    first). Exact integer quality metric, so the arg-max replays
    bit-identically through the oracle's recursive-CTE components."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    pairs = D.ngram_jaccard_pairs(docs)
    labels = D.connected_components(pairs)
    return D.keep_best_per_cluster(
        labels, docs.select("doc_id", "n_chars"), "n_chars"
    ).transform(_psort, "cluster_id")


def q129_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced sharding (corpus.shard_by_token_budget): every
    document assigned to a ~2048-token shard over the EXACT global
    running token count in salted-hash order — computed with the
    two-phase distributed prefix sum (bucket totals → B-row offset
    window → parallel per-bucket local scans), bit-identical to the
    oracle's naive single-window replay because integer sums are exact
    under any grouping."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.shard_by_token_budget(docs, target_tokens=2048).transform(
        _psort, "doc_id"
    )


def q130_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-25% quality gate (the FineWeb-style "keep the
    best p% of each dump" filter): rank documents within each lang by
    an exact integer quality proxy (distinct-token count, ties to the
    lower id) and keep rank ≤ (n_lang·25) DIV 100 — the integer quota
    avoids any float percentile boundary. One window per lang plus a
    conditional count; every document is gated with its rank and keep
    decision."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    q = F.size(F.array_distinct(T.tokens(F.col("text"))))
    base = docs.select("doc_id", "lang", q.alias("q_distinct"))
    w = Window.partitionBy("lang").orderBy(
        F.col("q_distinct").desc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("lang")
    ranked = base.withColumn("rank", F.row_number().over(w)).withColumn(
        "keep_n",
        ((F.count(F.lit(1)).over(wn) * 25)
         - (F.count(F.lit(1)).over(wn) * 25) % 100) / 100,
    )
    return ranked.select(
        "doc_id", "lang", "q_distinct", "rank",
        (F.col("rank") <= F.col("keep_n")).alias("kept"),
    ).transform(_psort, "doc_id")


def q132_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture quotas (corpus.temperature_quotas —
    the mBERT/XLM-R n^α sampling recipe, α=½): apportion a fixed
    200-document budget across sources proportional to sqrt(n_source)
    by largest-remainder over floor-quantized weights. IEEE sqrt is
    correctly rounded (the one portable transcendental), every other
    step is exact int64, so the 20-row allocation replays
    bit-identically in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return C.temperature_quotas(docs, budget=200, alpha_quarters=2).transform(
        _psort, "source"
    )


def q133_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-occurrence novelty (corpus.first_seen_novelty):
    the fraction of each document's distinct bigrams first seen (min
    doc_id) in that document — the marginal-contribution signal behind
    "does another dump still add content". Order-free min hash-agg
    keyed by gram; per-doc counts from the G-row result, no gram-grain
    join back; exact integer quantization."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.first_seen_novelty(docs, n=2).transform(_psort, "doc_id")


def q136_boilerplate_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional boilerplate profile — the diagnostic a de-templating
    pass reads before stripping crawl-template prefixes: for each
    source and each of the first 5 token positions, the MODAL token
    and its exact share of the source's documents (a position whose
    share approaches 1 is template, not content; a flat profile like
    this fixture's ~16% is organic text). Ties to the lexicographically
    first token so the mode is deterministic.

    Shape: one hash-agg keyed (source, pos, token) — cardinality
    bounded by positions × vocab, not corpus rows — a rank window over
    each (source, pos)'s token frame, and a broadcast join of the
    G-row per-source doc counts. Exact integer shares."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    n_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    toks = docs.select(
        "source",
        F.posexplode(F.slice(T.tokens(F.col("text")), 1, 5)).alias(
            "pos0", "tok"
        ),
    ).select("source", (F.col("pos0") + 1).alias("pos"), "tok")
    counts = toks.groupBy("source", "pos", "tok").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("source", "pos").orderBy(
        F.col("n").desc(), F.col("tok").asc()
    )
    num = F.lit(1_000_000) * F.col("n")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(n_src), "source")
        .select(
            "source", "pos", F.col("tok").alias("top_token"), "n",
            ((num - num % F.col("n_docs")) / F.col("n_docs"))
            .cast("long").alias("share_e6"),
        )
        .transform(_psort, "source", "pos")
    )


def q137_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality gates (the Gopher/MassiveText
    repetition rules adapted to token fractions — corpus.
    gopher_repetition): top-bigram occupancy and duplicated-trigram
    mass per document, plus the keep decision at the 20%/60%
    thresholds. One tagged gram explode, two hash-agg stages, exact
    integer shares."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.gopher_repetition(docs).transform(_psort, "doc_id")


def q138_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality signal (corpus.char_entropy): per-doc
    Shannon entropy in quantized nats over non-whitespace characters —
    the compression-proxy filter (low = filler/padding, high = hash
    spam). ln terms are quantized BEFORE summation so both engines do
    exact integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents", fan_out=True)
    return C.char_entropy(docs).transform(_psort, "doc_id")


def q139_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus (clustering.
    kcenter_greedy, Gonzalez farthest-point traversal): the 8 selected
    centers with their coverage-radius curve and nearest-center
    assignment counts. All distance decisions are floor-quantized
    int64, so the DuckDB oracle replays the traversal as an unrolled
    CTE chain (the q54 iterative-replay pattern)."""
    from bloomy_etl_spark.operators.clustering import kcenter_greedy

    embs = load_table(spark, sf_dir, "embeddings", fan_out=True)
    return kcenter_greedy(embs, k=8).transform(_psort, "round")


LLM_QUERIES = {
    "q26_dedup_exact": q26_dedup_exact,
    "q27_token_stats": q27_token_stats,
    "q28_text_quality": q28_text_quality,
    "q29_langid_confusion": q29_langid_confusion,
    "q30_minhash_lsh_neardups": q30_minhash_lsh_neardups,
    "q31_ngram_jaccard_neardups": q31_ngram_jaccard_neardups,
    "q32_simhash_neardups": q32_simhash_neardups,
    "q33_cosine_topk": q33_cosine_topk,
    "q34_embedding_neardups": q34_embedding_neardups,
    "q35_fingerprint_clusters": q35_fingerprint_clusters,
    # fully oracle-gated since r2: q36's oracle replays the deterministic
    # hyperplane buckets in SQL, q37's pins the stub codec's arithmetic
    "q36_ann_lsh_topk": q36_ann_lsh_topk,
    "q37_multimodal_decode": q37_multimodal_decode,
    "q39_repetition_metrics": q39_repetition_metrics,
    "q40_pii_scrub": q40_pii_scrub,
    "q41_ivf_ann_topk": q41_ivf_ann_topk,
    "q42_dedup_clusters": q42_dedup_clusters,
    # corpus-assembly operators (operators/corpus.py)
    "q43_event_sessions": q43_event_sessions,
    "q44_benchmark_decontam": q44_benchmark_decontam,
    "q45_length_percentiles": q45_length_percentiles,
    "q46_top_ngrams": q46_top_ngrams,
    "q47_split_assignment": q47_split_assignment,
    "q48_sequence_packing": q48_sequence_packing,
    "q50_mixture_sample": q50_mixture_sample,
    "q51_doc_chunking": q51_doc_chunking,
    "q52_embedding_quantization": q52_embedding_quantization,
    "q53_eval_carveout": q53_eval_carveout,
    "q54_kmeans_clusters": q54_kmeans_clusters,
    "q55_blend_to_target": q55_blend_to_target,
    "q56_vocab_coverage": q56_vocab_coverage,
    "q57_text_normalization": q57_text_normalization,
    # r4 additions: domain capping, corpus-LM scoring, shared-substring
    # dedup, BPE tokenizer training
    "q59_domain_cap": q59_domain_cap,
    "q60_bigram_lm_score": q60_bigram_lm_score,
    "q61_shared_spans": q61_shared_spans,
    "q62_bpe_merges": q62_bpe_merges,
    "q63_bpe_segment": q63_bpe_segment,
    "q64_html_extract": q64_html_extract,
    "q65_cms_heavy_hitters": q65_cms_heavy_hitters,
    "q66_weighted_sample": q66_weighted_sample,
    "q67_dedup_kept_corpus": q67_dedup_kept_corpus,
    "q68_tfidf_relevance": q68_tfidf_relevance,
    "q69_corpus_drift": q69_corpus_drift,
    "q112_cooccurrence_lift": q112_cooccurrence_lift,
    "q113_prefix_jaccard_join": q113_prefix_jaccard_join,
    "q118_winnow_fingerprints": q118_winnow_fingerprints,
    "q120_logreg_quality": q120_logreg_quality,
    "q121_dsir_selection": q121_dsir_selection,
    "q122_hybrid_rrf": q122_hybrid_rrf,
    "q123_curation_pipeline": q123_curation_pipeline,
    "q124_stratified_sample": q124_stratified_sample,
    "q125_source_overlap": q125_source_overlap,
    "q127_collapse_repeats": q127_collapse_repeats,
    "q128_keep_best_survivors": q128_keep_best_survivors,
    "q129_token_shards": q129_token_shards,
    "q130_quality_percentile_gate": q130_quality_percentile_gate,
    "q132_temperature_mixture": q132_temperature_mixture,
    "q133_novelty_profile": q133_novelty_profile,
    "q136_boilerplate_positions": q136_boilerplate_positions,
    # r9 additions: repetition gates, entropy signal, coreset selection
    "q137_gopher_repetition": q137_gopher_repetition,
    "q138_char_entropy": q138_char_entropy,
    "q139_kcenter_coreset": q139_kcenter_coreset,
}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_TOKENS = r"string_split_regex(text, '\s+')"
_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
shingled AS (
    SELECT doc_id,
           CASE WHEN len(ws) >= 3
                THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                    for i in range(1, len(ws) - 1)])
                ELSE [array_to_string(ws, ' ')] END AS shingles
    FROM toks
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT i, j, c / (sa.n + sb.n - c) AS jaccard
    FROM inter
    JOIN sizes sa ON i = sa.doc_id
    JOIN sizes sb ON j = sb.doc_id
)
"""

_MD5INT = "('0x' || substr(md5({x}), 1, 8))::BIGINT"

_STOPWORDS_SQL = "('the','a','an','and','or','of','to','in','is','it')"

_MINHASH_AGGS = ", ".join(
    f"MIN(({a} * h + {b}) % {D.MERSENNE}) AS mh{j}"
    for j, (a, b) in enumerate(D.perm_coeffs(16))
)

_SIMHASH_BIT_SUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32)
)
_SIMHASH_FP = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {2**b}::BIGINT ELSE 0::BIGINT END)" for b in range(32)
)

_SIMHASH_BLOCKS_VALUES = ", ".join(
    f"({k}, {off}, {(1 << w) - 1})"
    for k, (off, w) in enumerate(D.simhash_block_layout(32, 7))
)

_COS = (
    "list_dot_product({a}::DOUBLE[], {b}::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[])) * "
    "sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))"
)

LLM_ORACLE_SQL = {
    "q26_dedup_exact": """
        SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY keep_id
    """,
    "q27_token_stats": f"""
        SELECT lang, source, COUNT(*) AS n_docs,
               ROUND(AVG(len({_TOKENS})), 4) AS avg_tokens,
               ROUND(AVG(n_chars), 4) AS avg_chars,
               MAX(len({_TOKENS})) AS max_tokens,
               ROUND(AVG(GREATEST(
                   len(regexp_extract_all(text, '(\\w+|[^\\w\\s])')),
                   CAST(CEIL(LENGTH(text) / 4) AS INT))), 4) AS avg_bpe_tokens
        FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
    "q28_text_quality": f"""
        WITH base AS (
            SELECT doc_id,
                   {_TOKENS} AS ws,
                   string_split_regex(lower(text), '\\s+') AS lws,
                   len(regexp_extract_all(text, '([^\\w\\s])')) AS n_punct,
                   LENGTH(text) AS n_len
            FROM documents
        ), feats AS (
            SELECT doc_id,
                   len(ws) AS n_tokens,
                   len(list_filter(lws, w -> w IN {_STOPWORDS_SQL})) / len(lws) AS sw_ratio,
                   len(list_distinct(lws)) / len(lws) AS uniq_ratio,
                   list_sum(list_transform(ws, w -> LENGTH(w))) / len(ws) AS mean_wlen,
                   n_punct / n_len AS p_ratio
            FROM base
        )
        SELECT doc_id, n_tokens,
               ROUND(sw_ratio, 4) AS stopword_ratio,
               ROUND(uniq_ratio, 4) AS unique_ratio,
               ROUND(mean_wlen, 4) AS mean_word_len,
               ROUND(p_ratio, 4) AS punct_ratio,
               ROUND((
                   (CASE WHEN n_tokens >= 5 AND n_tokens <= 5000 THEN 1.0 ELSE 0.3 END)
                   + LEAST(sw_ratio * 4.0, 1.0)
                   + uniq_ratio
                   + (CASE WHEN p_ratio < 0.2 THEN 1.0 ELSE 0.5 END)
               ) / 4.0, 4) AS quality
        FROM feats ORDER BY doc_id
    """,
    "q29_langid_confusion": """
        WITH scored AS (
            SELECT lang,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       w -> w IN ('the','a','is','and','of'))) AS s_en,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       w -> w IN ('der','die','und','ist','das'))) AS s_de,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       w -> w IN ('el','la','que','y','los'))) AS s_es,
                   len(list_filter(string_split_regex(lower(text), '\\s+'),
                       w -> w IN ('le','la','et','les','des'))) AS s_fr,
                   len(regexp_extract_all(text, '([一-鿿])')) AS s_zh
            FROM documents
        ), pred AS (
            SELECT lang,
                   CASE WHEN GREATEST(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
                        WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                        WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                        WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                        WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                        ELSE 'zh' END AS predicted
            FROM scored
        )
        SELECT lang, predicted, COUNT(*) AS n
        FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "q30_minhash_lsh_neardups": f"""
        WITH {_SHINGLES_CTE.strip()},
        hashed AS (SELECT doc_id, {_MD5INT.format(x='s')} AS h FROM ex),
        sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM hashed GROUP BY doc_id),
        bands AS (
            SELECT doc_id, 0 AS band_idx, CONCAT_WS('_', mh0, mh1, mh2, mh3) AS sig FROM sig
            UNION ALL
            SELECT doc_id, 1, CONCAT_WS('_', mh4, mh5, mh6, mh7) FROM sig
            UNION ALL
            SELECT doc_id, 2, CONCAT_WS('_', mh8, mh9, mh10, mh11) FROM sig
            UNION ALL
            SELECT doc_id, 3, CONCAT_WS('_', mh12, mh13, mh14, mh15) FROM sig
        ),
        cands AS (
            SELECT l.doc_id AS i, r.doc_id AS j
            FROM bands l JOIN bands r
              ON l.band_idx = r.band_idx AND l.sig = r.sig AND l.doc_id < r.doc_id
            GROUP BY 1, 2
        )
        SELECT jac.i, jac.j, ROUND(jac.jaccard, 4) AS jaccard
        FROM jac
        WHERE jac.jaccard >= 0.8
          AND EXISTS (SELECT 1 FROM cands c WHERE c.i = jac.i AND c.j = jac.j)
        ORDER BY jac.i, jac.j
    """,
    "q31_ngram_jaccard_neardups": f"""
        WITH {_SHINGLES_CTE.strip()}
        SELECT i, j, ROUND(jaccard, 4) AS jaccard
        FROM jac WHERE jaccard >= 0.8 ORDER BY i, j
    """,
    "q32_simhash_neardups": f"""
        WITH words AS (
            SELECT doc_id,
                   unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS w
            FROM documents
        ),
        hashed AS (SELECT doc_id, {_MD5INT.format(x='w')} AS h FROM words),
        bit_sums AS (SELECT doc_id, {_SIMHASH_BIT_SUMS} FROM hashed GROUP BY doc_id),
        fp AS (SELECT doc_id, {_SIMHASH_FP} AS simhash FROM bit_sums),
        blocks AS (
            -- Manku-style 7-block layout, generated from the same
            -- simhash_block_layout() the Spark operator uses
            SELECT doc_id, simhash, k AS block_idx,
                   (simhash >> off) & mask AS block
            FROM fp, (VALUES {_SIMHASH_BLOCKS_VALUES}) t(k, off, mask)
        ),
        pairs AS (
            SELECT DISTINCT l.doc_id AS i, r.doc_id AS j,
                   l.simhash AS sh_i, r.simhash AS sh_j
            FROM blocks l JOIN blocks r
              ON l.block_idx = r.block_idx AND l.block = r.block
             AND l.doc_id < r.doc_id
        )
        SELECT CAST(bit_count(xor(sh_i, sh_j)) AS INT) AS hamming,
               COUNT(*) AS n_pairs,
               MIN(i * 100000 + j) AS min_pair_key
        FROM pairs WHERE bit_count(xor(sh_i, sh_j)) <= 6
        GROUP BY 1 ORDER BY hamming
    """,
    "q33_cosine_topk": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        scored AS (
            SELECT query_id, neighbor_id,
                   {_COS.format(a='qv', b='cv')} AS cos_sim
            FROM q, c WHERE query_id <> neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim, CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """,
    "q34_embedding_neardups": f"""
        SELECT a.vec_id AS i, b.vec_id AS j,
               ROUND({_COS.format(a='a.embedding', b='b.embedding')}, 4) AS cos_sim
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_COS.format(a='a.embedding', b='b.embedding')} >= 0.4
        ORDER BY i, j
    """,
    "q35_fingerprint_clusters": f"""
        WITH {_SHINGLES_CTE.strip()},
        fp AS (
            SELECT doc_id, MIN({_MD5INT.format(x='s')}) AS fingerprint
            FROM ex GROUP BY doc_id
        )
        SELECT fingerprint, COUNT(*) AS n_docs,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
        ORDER BY fingerprint
    """,
    # q36 oracle: the SAME LSH algorithm — hyperplane weights from the
    # identical seeded integer sequence (similarity.py::_hyperplane),
    # bucket = sign-bit pattern, candidates = same-(table,bucket) pairs,
    # exact-cosine re-rank. list_dot_product accumulates in index order,
    # matching the Spark-side aggregate/zip_with fold, so the doubles are
    # bit-identical and ranks cannot diverge.
    "q36_ann_lsh_topk": """
        WITH qv AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        bq AS (
            SELECT vec_id AS query_id, v AS qvec, t,
                   list_sum(list_transform(range(0, 4), b ->
                       CASE WHEN list_dot_product(v,
                            list_transform(range(0, 64), d ->
                                CAST(((1103515245*(t*7919 + b*104729 + d) + 12345) >> 16) % 19 - 9 AS DOUBLE)))
                            > 0 THEN (1 << b) ELSE 0 END)) AS bucket
            FROM qv CROSS JOIN range(0, 16) tr(t)
            WHERE vec_id % 100 = 0
        ),
        bc AS (
            SELECT vec_id AS neighbor_id, v AS cvec, t,
                   list_sum(list_transform(range(0, 4), b ->
                       CASE WHEN list_dot_product(v,
                            list_transform(range(0, 64), d ->
                                CAST(((1103515245*(t*7919 + b*104729 + d) + 12345) >> 16) % 19 - 9 AS DOUBLE)))
                            > 0 THEN (1 << b) ELSE 0 END)) AS bucket
            FROM qv CROSS JOIN range(0, 16) tr(t)
        ),
        pairs AS (
            SELECT q.query_id, c.neighbor_id,
                   list_dot_product(q.qvec, c.cvec) /
                   (sqrt(list_dot_product(q.qvec, q.qvec)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) AS cos_sim
            FROM bc c JOIN bq q ON c.t = q.t AND c.bucket = q.bucket
            WHERE q.query_id <> c.neighbor_id
        ),
        scored AS (
            SELECT query_id, neighbor_id, MAX(cos_sim) AS cos_sim
            FROM pairs GROUP BY query_id, neighbor_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """,
    # q37 oracle replicates the STUB codec formulas exactly. The fixture
    # text is pure ASCII (asserted: octet_length(encode(text)) ==
    # length(text) for every row), so per-BYTE statistics equal per-CHAR
    # statistics: byte_mean = avg(ascii(char)), entropy proxy =
    # count(distinct char)/256, content_hash = first 16 hex of sha256.
    "q37_multimodal_decode": """
        WITH media AS (
            SELECT doc_id AS media_id,
                   (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
                   text
            FROM documents
        ),
        chars AS (
            SELECT media_id, kind, LENGTH(text) AS n_bytes, text,
                   UNNEST(range(1, LENGTH(text) + 1)) AS i
            FROM media
        ),
        per AS (
            SELECT media_id, kind, n_bytes,
                   AVG(ascii(substring(text, CAST(i AS INT), 1))) AS byte_mean,
                   COUNT(DISTINCT substring(text, CAST(i AS INT), 1)) / 256.0
                       AS byte_entropy_proxy,
                   substring(sha256(ANY_VALUE(text)), 1, 16) AS content_hash
            FROM chars GROUP BY media_id, kind, n_bytes
        ),
        -- empty payloads: stub emits byte_mean 0, entropy 0 (no chars row)
        full_stats AS (
            SELECT m.media_id, m.kind, LENGTH(m.text) AS n_bytes,
                   COALESCE(p.byte_mean, 0.0) AS byte_mean,
                   COALESCE(p.byte_entropy_proxy, 0.0) AS byte_entropy_proxy,
                   COALESCE(p.content_hash, substring(sha256(m.text), 1, 16))
                       AS content_hash
            FROM media m LEFT JOIN per p ON m.media_id = p.media_id
        )
        SELECT kind, COUNT(*) AS n_items,
               ROUND(AVG(n_bytes), 4) AS avg_bytes,
               ROUND(AVG(byte_mean), 4) AS avg_byte_mean,
               ROUND(AVG(byte_entropy_proxy), 4) AS avg_entropy,
               COUNT(DISTINCT content_hash) AS n_distinct
        FROM full_stats GROUP BY kind ORDER BY kind
    """,
    # q39: the gram arrays mirror word_ngrams (ALL grams in order, short
    # docs collapse to one whole-text gram); list functions mirror the
    # in-row Spark lambdas exactly.
    "q39_repetition_metrics": f"""
        WITH toks AS (SELECT lang, {_TOKENS} AS ws FROM documents),
        grams AS (
            SELECT lang,
                   CASE WHEN len(ws) >= 2
                        THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                        ELSE [array_to_string(ws, ' ')] END AS g2,
                   CASE WHEN len(ws) >= 3
                        THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                              for i in range(1, len(ws) - 1)]
                        ELSE [array_to_string(ws, ' ')] END AS g3
            FROM toks
        ),
        feats AS (
            SELECT lang,
                   1.0 - len(list_distinct(g2)) / len(g2) AS dup2,
                   1.0 - len(list_distinct(g3)) / len(g3) AS dup3,
                   list_max(list_transform(list_distinct(g2),
                       x -> len(list_filter(g2, y -> y = x)))) / len(g2) AS top2
            FROM grams
        )
        SELECT lang, COUNT(*) AS n_docs,
               ROUND(AVG(dup2), 4) AS avg_dup_2gram,
               ROUND(AVG(dup3), 4) AS avg_dup_3gram,
               ROUND(AVG(top2), 4) AS avg_top_2gram,
               CAST(SUM(CASE WHEN top2 > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        FROM feats GROUP BY lang ORDER BY lang
    """,
    # q40: same deterministic PII synthesis from doc_id, same Java/RE2-safe
    # patterns, scrub via global regexp_replace in the same order.
    "q40_pii_scrub": r"""
        WITH aug AS (
            SELECT source,
                   text
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' see https://data.example.org/doc/' || CAST(doc_id AS VARCHAR)
                           ELSE '' END
                   || CASE WHEN doc_id % 11 = 0
                           THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
                                || '.0.' || CAST(doc_id % 250 AS VARCHAR)
                           ELSE '' END
                   || CASE WHEN doc_id % 13 = 0
                           THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                                || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS aug
            FROM documents
        ),
        feats AS (
            SELECT source,
                   len(regexp_extract_all(aug, '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,})')) AS c_email,
                   len(regexp_extract_all(aug, '(https?://[A-Za-z0-9./_%-]+)')) AS c_url,
                   len(regexp_extract_all(aug, '(\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b)')) AS c_ipv4,
                   len(regexp_extract_all(aug, '(\+\d{1,2}-\d{3}-\d{3,4}-\d{4})')) AS c_phone,
                   LENGTH(aug) - LENGTH(
                       regexp_replace(regexp_replace(regexp_replace(regexp_replace(aug,
                           'https?://[A-Za-z0-9./_%-]+', '<URL>', 'g'),
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
                           '\+\d{1,2}-\d{3}-\d{3,4}-\d{4}', '<PHONE>', 'g')
                   ) AS len_delta
            FROM aug
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN c_email + c_url + c_ipv4 + c_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_pii,
               CAST(SUM(c_email) AS BIGINT) AS n_emails, CAST(SUM(c_url) AS BIGINT) AS n_urls,
               CAST(SUM(c_ipv4) AS BIGINT) AS n_ipv4, CAST(SUM(c_phone) AS BIGINT) AS n_phones,
               ROUND(AVG(len_delta), 4) AS avg_len_delta
        FROM feats GROUP BY source ORDER BY source
    """,
    # q41: exact replay of the deterministic IVF algorithm — same centroid
    # choice, same cosine formula/accumulation order, same tie-breaks
    # (assignment: cos DESC then cid ASC, matching Spark's
    # max_by(cid, struct(cos, -cid))).
    "q41_ivf_ann_topk": f"""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
        cents AS (SELECT vec_id AS cid, vec AS cvec FROM v
                  WHERE vec_id % 40 = 0 AND vec_id < 40 * 256),
        corpus AS (SELECT vec_id AS neighbor_id, vec AS nv FROM v),
        assign_scored AS (
            SELECT neighbor_id, nv, cid,
                   {_COS.format(a='nv', b='cvec')} AS cos_c
            FROM corpus CROSS JOIN cents
        ),
        assigned AS (
            SELECT neighbor_id, nv, cid AS cluster_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                             ORDER BY cos_c DESC, cid) AS rn
                FROM assign_scored
            ) WHERE rn = 1
        ),
        qs AS (SELECT vec_id AS query_id, vec AS qv FROM v WHERE vec_id % 100 = 0),
        probe_scored AS (
            SELECT query_id, qv, cid,
                   {_COS.format(a='qv', b='cvec')} AS cos_c
            FROM qs CROSS JOIN cents
        ),
        probes AS (
            SELECT query_id, qv, cid AS cluster_id FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                             ORDER BY cos_c DESC, cid) AS rn
                FROM probe_scored
            ) WHERE rn <= 8
        ),
        cands AS (
            SELECT p.query_id, a.neighbor_id, p.qv, a.nv
            FROM assigned a JOIN probes p ON a.cluster_id = p.cluster_id
            WHERE p.query_id <> a.neighbor_id
        ),
        scored AS (
            SELECT query_id, neighbor_id,
                   {_COS.format(a='qv', b='nv')} AS cos_sim
            FROM cands
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """,
    # q42: same exact-Jaccard pair graph as q31, components via recursive
    # transitive closure (min reachable id = the Spark label fixpoint).
    "q42_dedup_clusters": f"""
        WITH RECURSIVE {_SHINGLES_CTE.strip()},
        p AS (SELECT i, j FROM jac WHERE jaccard >= 0.8),
        e AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
        reach(a, b) AS (
            SELECT a, b FROM e
            UNION
            SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
            WHERE e2.b <> r.a
        ),
        lbl AS (SELECT a AS node, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a)
        SELECT label AS cluster_id, COUNT(*) AS n_docs, MAX(node) AS max_doc
        FROM lbl GROUP BY label ORDER BY cluster_id
    """,
    # q43: inactivity-gap sessionization — lag in µs, running sum of
    # break flags, per-session rollup. ORDER BY (ts, event_id) mirrors
    # the Spark window's deterministic tiebreak.
    "q43_event_sessions": """
        WITH g AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                             OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                                > 28800000000
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, value,
                   CAST(SUM(brk) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
            FROM g
        )
        SELECT user_id, session_seq,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        FROM s GROUP BY 1, 2 ORDER BY user_id, session_seq
    """,
    # q44: same 3-shingle construction as q31's CTE; benchmark = doc_id
    # % 97 = 0; count distinct-shingle overlaps per non-benchmark doc.
    "q44_benchmark_decontam": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
        shingled AS (
            SELECT doc_id,
                   CASE WHEN len(ws) >= 3
                        THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                            for i in range(1, len(ws) - 1)])
                        ELSE [array_to_string(ws, ' ')] END AS shingles
            FROM toks
        ),
        ex AS (SELECT doc_id, unnest(shingles) AS s FROM shingled),
        bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0)
        SELECT ex.doc_id, COUNT(*) AS n_hit_shingles
        FROM ex JOIN bench USING (s)
        WHERE ex.doc_id % 97 <> 0
        GROUP BY 1 ORDER BY doc_id
    """,
    # q45: quantile_cont = sorted linear interpolation, the same exact
    # semantics as Spark's percentile aggregate.
    "q45_length_percentiles": """
        SELECT lang, COUNT(*) AS n_docs,
               ROUND(quantile_cont(n_chars, 0.25), 4) AS p25,
               ROUND(quantile_cont(n_chars, 0.50), 4) AS p50,
               ROUND(quantile_cont(n_chars, 0.90), 4) AS p90,
               ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
        FROM documents GROUP BY lang ORDER BY lang
    """,
    # q46: trigrams WITH repeats (frequency, not doc-frequency); the
    # deterministic (n DESC, gram) cut matches the Spark TakeOrdered.
    "q46_top_ngrams": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS ws FROM documents),
        grams AS (
            SELECT unnest(
                CASE WHEN len(ws) >= 3
                     THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           for i in range(1, len(ws) - 1)]
                     ELSE [array_to_string(ws, ' ')] END) AS gram
            FROM toks
        )
        SELECT gram, COUNT(*) AS n
        FROM grams GROUP BY 1 ORDER BY n DESC, gram LIMIT 20
    """,
    # q47: the salted md5 bucket is bit-identical to
    # functions/text.md5_int(concat('split:', doc_id)).
    "q47_split_assignment": """
        WITH s AS (
            SELECT lang, text,
                   ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 100 AS bucket
            FROM documents
        )
        SELECT lang,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(GREATEST(
                   len(regexp_extract_all(text, '(\\w+|[^\\w\\s])')),
                   CAST(CEIL(LENGTH(text) / 4) AS INT))) AS BIGINT) AS sum_bpe_tokens
        FROM s GROUP BY 1, 2 ORDER BY lang, split
    """,
    # q48: streaming first-fit packing — bin = floor(cumsum-before /
    # budget) in deterministic doc_id order per language.
    "q48_sequence_packing": """
        WITH t AS (
            SELECT lang, doc_id,
                   GREATEST(
                       len(regexp_extract_all(text, '(\\w+|[^\\w\\s])')),
                       CAST(CEIL(LENGTH(text) / 4) AS INT)) AS n_tok
            FROM documents
        ), c AS (
            SELECT lang, n_tok,
                   CAST(FLOOR((SUM(n_tok) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) - n_tok) / 2048.0) AS BIGINT)
                       AS bin_id
            FROM t
        )
        SELECT lang, bin_id, COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
               ROUND(SUM(n_tok) / 2048.0, 4) AS fill_ratio
        FROM c GROUP BY 1, 2 ORDER BY lang, bin_id
    """,
    # q50: keep rate rounded to 6dp BEFORE thresholding in both engines so
    # the pow() float is bit-stable; the salted md5 bucket matches
    # corpus.mixture_sample exactly. The exponent is the PRE-COMPUTED
    # Python double alpha-1.0 spelled out to full precision
    # (repr(0.7-1.0) = -0.30000000000000004): DuckDB would otherwise
    # evaluate `0.7 - 1.0` as exact DECIMAL -0.3, a different double than
    # Spark's, making the 6-dp rounding a latent parity flake on ties.
    "q50_mixture_sample": """
        WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        r AS (
            SELECT lang, n,
                   ROUND(POWER(n * 1.0 / (SELECT MIN(n) FROM c),
                               -0.30000000000000004), 6)
                       AS keep_rate
            FROM c
        ), s AS (
            SELECT d.lang, r.keep_rate, d.text,
                   (('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 1000000) < r.keep_rate * 1000000 AS sampled
            FROM documents d JOIN r USING (lang)
        )
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
               ROUND(ANY_VALUE(keep_rate), 6) AS keep_rate,
               CAST(SUM(CASE WHEN sampled THEN GREATEST(
                   len(regexp_extract_all(text, '(\\w+|[^\\w\\s])')),
                   CAST(CEIL(LENGTH(text) / 4) AS INT)) ELSE 0 END) AS BIGINT)
                   AS kept_tokens
        FROM s GROUP BY lang ORDER BY lang
    """,
    # q51: integer chunk arithmetic — 1 + ceil(max(0, n_tok-48)/32) chunks,
    # final chunk ragged; generate_series is inclusive, hence n_chunks-1.
    "q51_doc_chunking": """
        WITH t AS (
            SELECT doc_id,
                   GREATEST(
                       len(regexp_extract_all(text, '(\\w+|[^\\w\\s])')),
                       CAST(CEIL(LENGTH(text) / 4) AS INT)) AS n_tok
            FROM documents
        ), n AS (
            SELECT doc_id, n_tok,
                   1 + (GREATEST(n_tok - 48, 0) + 31) // 32 AS n_chunks
            FROM t
        )
        SELECT doc_id, CAST(n_tok AS INT) AS n_tok,
               CAST(ci AS INT) AS chunk_idx,
               CAST(ci * 32 AS INT) AS chunk_start,
               CAST(LEAST(48, n_tok - ci * 32) AS INT) AS chunk_len
        FROM n, unnest(generate_series(0, n_chunks - 1)) AS u(ci)
        ORDER BY doc_id, chunk_idx
    """,
    # q52: same float32→double promotion order as functions/vectors.py
    # (abs before max; divide by the double scale); round() ties are
    # away-from-zero in both engines.
    "q52_embedding_quantization": """
        WITH s AS (
            SELECT label,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
                   embedding
            FROM embeddings
        ), e AS (
            SELECT label, scale,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)
                                - ROUND(CAST(x AS DOUBLE) / scale) * scale)))
                       AS max_err
            FROM s
        )
        SELECT label, COUNT(*) AS n_vecs,
               ROUND(AVG(scale), 6) AS avg_scale,
               ROUND(AVG(max_err), 6) AS avg_max_err,
               ROUND(MAX(max_err), 6) AS worst_err
        FROM e GROUP BY label ORDER BY label
    """,
    # q53: salted-hash rank per source, hash ties broken by doc_id —
    # identical to corpus.sample_per_group's window.
    "q53_eval_carveout": """
        WITH r AS (
            SELECT source, doc_id, lang, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY ('0x' || substr(md5('pick:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                                doc_id) AS sample_rank
            FROM documents
        )
        SELECT source, CAST(sample_rank AS INT) AS sample_rank,
               doc_id, lang, n_chars
        FROM r WHERE sample_rank <= 3
        ORDER BY source, sample_rank
    """,
}


_BPE_TOK = ("GREATEST(len(regexp_extract_all(text, '(\\w+|[^\\w\\s])')), "
            "CAST(CEIL(LENGTH(text) / 4) AS INT))")
_W_VALUES = ", ".join(f"('{g}', {w})" for g, w in sorted(BLEND_WEIGHTS.items()))

# q55: rate_g = min_h(T_h/w_h) * w_g / T_g with RAW weights (the formula
# is normalization-invariant, so there is no engine-ordered summation to
# replicate); rounded to 6dp before thresholding like q50.
LLM_ORACLE_SQL_Q55 = f"""
    WITH t AS (
        SELECT lang, CAST(SUM({_BPE_TOK}) AS BIGINT) AS tt
        FROM documents GROUP BY lang
    ),
    w AS (SELECT * FROM (VALUES {_W_VALUES}) w(lang, wt)),
    j AS (SELECT t.lang, t.tt, w.wt FROM t JOIN w USING (lang)),
    r AS (
        SELECT lang,
               ROUND((SELECT MIN(tt / wt) FROM j) * wt / tt, 6) AS keep_rate
        FROM j
    ),
    s AS (
        SELECT d.lang, r.keep_rate, d.text,
               (('0x' || substr(md5('blend:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 1000000) < r.keep_rate * 1000000 AS sampled
        FROM documents d JOIN r USING (lang)
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           ROUND(ANY_VALUE(keep_rate), 6) AS keep_rate,
           CAST(SUM(CASE WHEN sampled THEN {_BPE_TOK} ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM s GROUP BY lang ORDER BY lang
"""


def _km_dist2(cent_expr: str) -> str:
    """Squared-L2 SQL fragment matching clustering._dist2_sql's index-order
    accumulation (float element cast to double, then multiply)."""
    return (
        "list_sum(list_transform(list_zip(e.embedding, " + cent_expr + "), "
        "x -> (CAST(x[1] AS DOUBLE) - x[2]) * (CAST(x[1] AS DOUBLE) - x[2])))"
    )


def _km_assign(name: str, cent_cte: str, with_dist: bool) -> str:
    """One Lloyd assignment CTE: argmin squared-L2, ties to lower index."""
    d2 = _km_dist2("c.cent")
    dist_col = f", {d2} AS d2" if with_dist else ""
    keep = ", d2" if with_dist else ", embedding"
    return f"""{name} AS (
        SELECT vec_id{keep}, cluster FROM (
            SELECT e.vec_id, e.embedding, c.cidx AS cluster{dist_col},
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                       ORDER BY {d2} ASC, c.cidx ASC) AS rn
            FROM embeddings e CROSS JOIN {cent_cte} c) WHERE rn = 1
    )"""


def _km_update(assign_cte: str, prev_cte: str, mname: str, cname: str,
               dim: int = 64, dp: int = 6) -> str:
    """One Lloyd update: per-(cluster, dim) mean rounded to ``dp``,
    empty clusters inheriting the previous centroid."""
    return f"""{mname} AS (
        SELECT cluster AS cidx, list(m ORDER BY pos) AS cent FROM (
            SELECT a.cluster, i.pos,
                   ROUND(AVG(CAST(a.embedding[i.pos] AS DOUBLE)), {dp}) AS m
            FROM {assign_cte} a
            CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS pos) i
            GROUP BY a.cluster, i.pos)
        GROUP BY cluster
    ), {cname} AS (
        SELECT p.cidx, COALESCE(m.cent, p.cent) AS cent
        FROM {prev_cte} p LEFT JOIN {mname} m ON p.cidx = m.cidx
    )"""


def _kmeans_oracle(k: int = 8, dim: int = 64) -> str:
    """The full q54 replay: init from the k smallest ids, two
    assign/update rounds, final assignment with distances, summary."""
    return f"""
        WITH c0 AS (
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
            FROM (SELECT vec_id, embedding FROM embeddings
                  ORDER BY vec_id LIMIT {k})
        ),
        {_km_assign("a0", "c0", with_dist=False)},
        {_km_update("a0", "c0", "m1", "c1", dim)},
        {_km_assign("a1", "c1", with_dist=False)},
        {_km_update("a1", "c1", "m2", "c2", dim)},
        {_km_assign("af", "c2", with_dist=True)},
        cn AS (
            SELECT cidx,
                   sqrt(list_sum(list_transform(cent, x -> x * x))) AS nrm
            FROM c2
        )
        SELECT CAST(af.cluster AS INT) AS cluster,
               COUNT(*) AS n_vecs,
               ROUND(SUM(af.d2), 2) AS inertia,
               ROUND(ANY_VALUE(cn.nrm), 4) AS centroid_norm
        FROM af JOIN cn ON af.cluster = cn.cidx
        GROUP BY af.cluster ORDER BY cluster
    """


LLM_ORACLE_SQL["q54_kmeans_clusters"] = _kmeans_oracle()
LLM_ORACLE_SQL["q55_blend_to_target"] = LLM_ORACLE_SQL_Q55
# q56: same lowercase whitespace tokenization as q28's lws; the top-16
# cut is deterministic (n DESC, word) in both engines.
# q57: same dirt synthesis, normalization, and expected-string algebra;
# chr() builds the control byte / tab portably in SQL.
LLM_ORACLE_SQL["q57_text_normalization"] = r"""
    WITH d AS (
        SELECT source, text,
               (CASE WHEN doc_id % 5 = 0 THEN '  ' ELSE '' END)
               || text
               || (CASE WHEN doc_id % 3 = 0 THEN chr(9) || ' trailing' || '  run' ELSE '' END)
               || (CASE WHEN doc_id % 7 = 0 THEN chr(1) ELSE '' END) AS dirty,
               text || (CASE WHEN doc_id % 3 = 0 THEN ' trailing run' ELSE '' END)
                   AS expected
        FROM documents
    ), n AS (
        SELECT source, dirty, expected,
               trim(regexp_replace(regexp_replace(dirty,
                   '[\x00-\x08\x0b\x0e-\x1f\x7f]', '', 'g'), '\s+', ' ', 'g'))
                   AS norm
        FROM d
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN norm != dirty THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           CAST(SUM(LENGTH(dirty) - LENGTH(norm)) AS BIGINT) AS chars_removed,
           CAST(SUM(CASE WHEN norm = expected THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean_roundtrip
    FROM n GROUP BY source ORDER BY source
"""

LLM_ORACLE_SQL["q56_vocab_coverage"] = r"""
    WITH toks AS (
        SELECT lang, unnest(string_split_regex(lower(text), '\s+')) AS wd
        FROM documents
    ),
    vocab AS (
        SELECT wd FROM (
            SELECT wd, COUNT(*) AS n FROM toks
            GROUP BY wd ORDER BY n DESC, wd LIMIT 16)
    )
    SELECT t.lang,
           COUNT(*) AS total_tokens,
           CAST(SUM(CASE WHEN v.wd IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_tokens,
           ROUND(SUM(CASE WHEN v.wd IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (wd)
    GROUP BY t.lang ORDER BY t.lang
"""


# q59: the salted md5 rank is bit-identical to corpus.salted_hash_bucket;
# hash ties break on doc_id like the Spark window's orderBy.
LLM_ORACLE_SQL["q59_domain_cap"] = r"""
    WITH r AS (
        SELECT source, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY (('0x' || substr(md5('domcap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 1000000),
                            doc_id) AS domain_rank
        FROM documents
    )
    SELECT source, CAST(domain_rank AS INT) AS domain_rank, doc_id
    FROM r WHERE domain_rank <= 20
    ORDER BY source, domain_rank
"""

# q60: bigram types with repeats + the word_ngrams short-doc fallback
# (len<2 -> the whole text as one gram); all gated aggregates are
# integer-derived (CAST the SUMs — INT128 pitfall), the two ratios are
# single exact-integer divisions that round identically in both engines.
LLM_ORACLE_SQL["q60_bigram_lm_score"] = r"""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
                  FROM documents),
    bg AS (
        SELECT doc_id, unnest(
            CASE WHEN len(ws) >= 2
                 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
                 ELSE [array_to_string(ws, ' ')] END) AS bg
        FROM toks
    ),
    counts AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(c.c) AS BIGINT) AS sum_freq,
           CAST(SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           ROUND(SUM(c.c) * 1.0 / COUNT(*), 4) AS mean_freq,
           ROUND(SUM(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
               AS rare_rate
    FROM bg b JOIN counts c USING (bg)
    GROUP BY b.doc_id ORDER BY b.doc_id
"""

# q61: 8-token windows with the same short-doc fallback as word_shingles;
# distinct span types per doc, pair count = shared span types.
LLM_ORACLE_SQL["q61_shared_spans"] = r"""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
                  FROM documents),
    spans AS (
        SELECT doc_id, unnest(
            CASE WHEN len(ws) >= 8
                 THEN list_distinct([array_to_string(ws[i:i+7], ' ')
                                     for i in range(1, len(ws) - 6)])
                 ELSE [array_to_string(ws, ' ')] END) AS sp
        FROM toks
    ),
    p AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS n_shared
        FROM spans a JOIN spans b ON a.sp = b.sp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i, j, CAST(n_shared AS BIGINT) AS n_shared
    FROM p ORDER BY i, j
"""

# q62: full 3-round BPE replay. Every word's symbol string brackets each
# symbol individually, so replace('<a><b>' -> '<ab>') is exactly the
# greedy leftmost non-overlapping merge in BOTH engines; ties on the
# pair count break lexicographically (ORDER BY c DESC, lhs, rhs) like
# the Spark trainer's orderBy.
LLM_ORACLE_SQL["q62_bpe_merges"] = r"""
    WITH w0 AS (
        SELECT w, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w
    ),
    r0 AS (SELECT w, cnt, regexp_replace(w, '(.)', '<\1>', 'g') AS rep FROM w0),
    p1 AS (
        SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(cnt) AS c
        FROM (SELECT cnt, string_split(trim(rep, '<>'), '><') AS s FROM r0) t,
             unnest(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    t1 AS (SELECT lhs, rhs, c FROM p1 ORDER BY c DESC, lhs, rhs LIMIT 1),
    r1 AS (
        SELECT w, cnt,
               replace(rep, (SELECT '<' || lhs || '><' || rhs || '>' FROM t1),
                            (SELECT '<' || lhs || rhs || '>' FROM t1)) AS rep
        FROM r0
    ),
    p2 AS (
        SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(cnt) AS c
        FROM (SELECT cnt, string_split(trim(rep, '<>'), '><') AS s FROM r1) t,
             unnest(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    t2 AS (SELECT lhs, rhs, c FROM p2 ORDER BY c DESC, lhs, rhs LIMIT 1),
    r2 AS (
        SELECT w, cnt,
               replace(rep, (SELECT '<' || lhs || '><' || rhs || '>' FROM t2),
                            (SELECT '<' || lhs || rhs || '>' FROM t2)) AS rep
        FROM r1
    ),
    p3 AS (
        SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(cnt) AS c
        FROM (SELECT cnt, string_split(trim(rep, '<>'), '><') AS s FROM r2) t,
             unnest(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    t3 AS (SELECT lhs, rhs, c FROM p3 ORDER BY c DESC, lhs, rhs LIMIT 1)
    SELECT 1 AS round, lhs, rhs, lhs || rhs AS merged, CAST(c AS BIGINT) AS pair_count FROM t1
    UNION ALL
    SELECT 2, lhs, rhs, lhs || rhs, CAST(c AS BIGINT) FROM t2
    UNION ALL
    SELECT 3, lhs, rhs, lhs || rhs, CAST(c AS BIGINT) FROM t3
    ORDER BY round
"""


# q63: q62's training chain + one more merge application (r3), then
# per-word piece counts joined back onto every token occurrence.
LLM_ORACLE_SQL["q63_bpe_segment"] = r"""
    WITH w0 AS (
        SELECT w, COUNT(*) AS cnt FROM (
            SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w
    ),
    r0 AS (SELECT w, cnt, regexp_replace(w, '(.)', '<\1>', 'g') AS rep FROM w0),
    p1 AS (
        SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(cnt) AS c
        FROM (SELECT cnt, string_split(trim(rep, '<>'), '><') AS s FROM r0) t,
             unnest(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    t1 AS (SELECT lhs, rhs, c FROM p1 ORDER BY c DESC, lhs, rhs LIMIT 1),
    r1 AS (
        SELECT w, cnt,
               replace(rep, (SELECT '<' || lhs || '><' || rhs || '>' FROM t1),
                            (SELECT '<' || lhs || rhs || '>' FROM t1)) AS rep
        FROM r0
    ),
    p2 AS (
        SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(cnt) AS c
        FROM (SELECT cnt, string_split(trim(rep, '<>'), '><') AS s FROM r1) t,
             unnest(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    t2 AS (SELECT lhs, rhs, c FROM p2 ORDER BY c DESC, lhs, rhs LIMIT 1),
    r2 AS (
        SELECT w, cnt,
               replace(rep, (SELECT '<' || lhs || '><' || rhs || '>' FROM t2),
                            (SELECT '<' || lhs || rhs || '>' FROM t2)) AS rep
        FROM r1
    ),
    p3 AS (
        SELECT s[i] AS lhs, s[i+1] AS rhs, SUM(cnt) AS c
        FROM (SELECT cnt, string_split(trim(rep, '<>'), '><') AS s FROM r2) t,
             unnest(generate_series(1, len(s) - 1)) AS u(i)
        GROUP BY 1, 2
    ),
    t3 AS (SELECT lhs, rhs, c FROM p3 ORDER BY c DESC, lhs, rhs LIMIT 1),
    r3 AS (
        SELECT w,
               replace(rep, (SELECT '<' || lhs || '><' || rhs || '>' FROM t3),
                            (SELECT '<' || lhs || rhs || '>' FROM t3)) AS rep
        FROM r2
    ),
    pieces AS (
        SELECT w, len(string_split(trim(rep, '<>'), '><')) AS n_pieces,
               LENGTH(w) AS n_chars
        FROM r3
    ),
    occ AS (
        SELECT source, w FROM (
            SELECT source, unnest(string_split_regex(text, '\s+')) AS w
            FROM documents
        ) WHERE regexp_matches(w, '^[a-z]+$')
    )
    SELECT o.source,
           CAST(SUM(p.n_pieces) AS BIGINT) AS bpe_tokens,
           CAST(SUM(p.n_chars) AS BIGINT) AS char_tokens,
           ROUND(SUM(p.n_pieces) * 1.0 / SUM(p.n_chars), 4) AS compression
    FROM occ o JOIN pieces p USING (w)
    GROUP BY o.source ORDER BY o.source
"""


# q64: identical RE2-safe regex chain (non-greedy spans, inline (?is),
# 'g' global flag), identical entity order (&amp; LAST so "&amp;lt;"
# decodes once to the literal "&lt;"), md5-sum gate per source.
LLM_ORACLE_SQL["q64_html_extract"] = r"""
    WITH h AS (
        SELECT source,
               '<html><head><style>p{color:red}</style></head>'
               || CASE WHEN doc_id % 3 = 0
                       THEN '<script>var x = 1 < 2;' || chr(10) || 'alert(''hi'');</script>'
                       ELSE '' END
               || '<BODY><h1>Doc ' || CAST(doc_id AS VARCHAR)
               || '</h1>' || chr(10) || '<p>' || text || '</p>'
               || CASE WHEN doc_id % 5 = 0
                       THEN '<p>fish &amp; chips &lt;b&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y</p>'
                       ELSE '' END
               || '</BODY></html>' AS html
        FROM documents
    ),
    x AS (
        SELECT source,
               trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                       regexp_replace(
                       regexp_replace(
                       regexp_replace(html,
                           '(?is)<script\b.*?</script>', ' ', 'g'),
                           '(?is)<style\b.*?</style>', ' ', 'g'),
                           '(?s)<!--.*?-->', ' ', 'g'),
                           '(?s)<[^>]*>', ' ', 'g'),
                       '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                       '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                   '\s+', ' ', 'g')) AS t
        FROM h
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(LENGTH(t)) AS BIGINT) AS sum_chars,
           CAST(SUM(('0x' || substr(md5(t), 1, 8))::BIGINT) AS BIGINT)
               AS content_hash_sum
    FROM x GROUP BY source ORDER BY source
"""


# q65: same salted md5 bucket per (row, word), same 4x256 sketch, same
# min-over-rows probe with missing cells as 0.
LLM_ORACLE_SQL["q65_cms_heavy_hitters"] = r"""
    WITH words AS (
        SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents
    ),
    cells AS (
        SELECT r.i AS row,
               (('0x' || substr(md5('cms' || r.i || ':' || w), 1, 8))::BIGINT
                % 256) AS bucket
        FROM words CROSS JOIN range(4) r(i)
    ),
    sketch AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
    exact AS (
        SELECT w, COUNT(*) AS exact_cnt FROM words
        GROUP BY w ORDER BY exact_cnt DESC, w LIMIT 20
    ),
    probe AS (
        SELECT e.w, e.exact_cnt, MIN(COALESCE(s.cnt, 0)) AS est
        FROM exact e
        CROSS JOIN range(4) r(i)
        LEFT JOIN sketch s
          ON s.row = r.i
         AND s.bucket = (('0x' || substr(md5('cms' || r.i || ':' || e.w), 1, 8))::BIGINT
                         % 256)
        GROUP BY e.w, e.exact_cnt
    )
    SELECT w, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(est AS BIGINT) AS est,
           CAST(est - exact_cnt AS BIGINT) AS overcount
    FROM probe ORDER BY w
"""


# q66: identical A-ES priority (same salted-hash uniform, same pow),
# same (key DESC, doc_id) cut; only the selected rows are gated.
LLM_ORACLE_SQL["q66_weighted_sample"] = r"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               POWER(
                   (((('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 1000000) + 0.5) / 1000000.0),
                   1.0 / n_chars) AS k
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars FROM keyed
        ORDER BY k DESC, doc_id LIMIT 15
    ) ORDER BY doc_id
"""


# q67: q42's recursive-CTE components, then the anti-join removal and
# per-language audit of the kept corpus.
LLM_ORACLE_SQL["q67_dedup_kept_corpus"] = f"""
    WITH RECURSIVE {_SHINGLES_CTE.strip()},
    p AS (SELECT i, j FROM jac WHERE jaccard >= 0.8),
    e AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
        WHERE e2.b <> r.a
    ),
    lbl AS (SELECT a AS node, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a),
    dropped AS (SELECT node AS doc_id FROM lbl WHERE node <> label),
    kept AS (
        SELECT d.* FROM documents d
        LEFT JOIN dropped x USING (doc_id) WHERE x.doc_id IS NULL
    )
    SELECT lang, COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM kept GROUP BY lang ORDER BY lang
"""


# q68: same smoothed idf quantized at 6 dp then scaled to an integer
# (round-to-nearest on both sides), integer tf x idf sums per doc.
LLM_ORACLE_SQL["q68_tfidf_relevance"] = r"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w
        FROM documents
    ),
    hits AS (SELECT doc_id, w FROM tok
             WHERE w IN ('fast', 'query', 'spark', 'table')),
    dfc AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY w),
    idf AS (
        SELECT t.w,
               CAST(ROUND(LN((n.n_docs + 1.0) / (COALESCE(d.df, 0) + 1.0)) + 1.0,
                          6) * 1000000 AS BIGINT) AS idf_scaled
        FROM (VALUES ('fast'), ('query'), ('spark'), ('table')) t(w)
        CROSS JOIN n
        LEFT JOIN dfc d USING (w)
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM hits GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(SUM(tf.tf * idf.idf_scaled) AS BIGINT) AS score_scaled,
           COUNT(*) AS n_hits
    FROM tf JOIN idf USING (w)
    GROUP BY doc_id ORDER BY doc_id
"""


# q69: same split, same integer-count-derived expected/chi2 (one float
# division each, rounded at 4dp).
LLM_ORACLE_SQL["q69_corpus_drift"] = r"""
    WITH ref AS (SELECT lang FROM documents WHERE doc_id % 2 = 0),
    new_ AS (SELECT lang FROM documents WHERE doc_id % 2 = 1),
    r AS (SELECT lang, COUNT(*) AS ref_n FROM ref GROUP BY lang),
    n AS (SELECT lang, COUNT(*) AS new_n FROM new_ GROUP BY lang),
    t AS (SELECT (SELECT COUNT(*) FROM ref) AS rt,
                 (SELECT COUNT(*) FROM new_) AS nt),
    j AS (
        SELECT COALESCE(r.lang, n.lang) AS lang,
               COALESCE(r.ref_n, 0) AS ref_n,
               COALESCE(n.new_n, 0) AS new_n
        FROM r FULL OUTER JOIN n USING (lang)
    )
    SELECT lang, CAST(ref_n AS BIGINT) AS ref_n,
           CAST(new_n AS BIGINT) AS new_n,
           ROUND(t.nt * 1.0 * ref_n / t.rt, 4) AS expected,
           CASE WHEN ref_n > 0
                THEN ROUND((new_n - t.nt * 1.0 * ref_n / t.rt)
                           * (new_n - t.nt * 1.0 * ref_n / t.rt)
                           / (t.nt * 1.0 * ref_n / t.rt), 4)
           END AS chi2_contrib,
           ref_n = 0 AS is_new
    FROM j CROSS JOIN t ORDER BY lang
"""

# q112: lift over exact integer counts (n_ab·N and n_a·n_b are exact
# int64 products; the score is ONE IEEE division, then both engines
# order by the 6-dp rounded value with pair-text tie-breaks).
LLM_ORACLE_SQL["q112_cooccurrence_lift"] = r"""
    WITH uniq AS (
        SELECT doc_id,
               list_distinct(string_split_regex(text, '\s+')) AS ts
        FROM documents
    ),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    ex AS (SELECT doc_id, unnest(ts) AS tok FROM uniq),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM ex GROUP BY tok),
    vocab AS (SELECT tok, df FROM dfreq ORDER BY df DESC, tok LIMIT 64),
    vl AS (SELECT list(tok) AS vlist FROM vocab),
    docv AS (
        SELECT list_sort(list_intersect(ts, vl.vlist)) AS vs
        FROM uniq CROSS JOIN vl
    ),
    pairs AS (
        SELECT p.t1 AS t1, p.t2 AS t2 FROM (
            SELECT unnest(flatten(
                [[{t1: vs[i], t2: vs[j]}
                  for j in range(i + 1, len(vs) + 1)]
                 for i in range(1, len(vs) + 1)])) AS p
            FROM docv)
    ),
    co AS (SELECT t1, t2, COUNT(*) AS n_ab FROM pairs GROUP BY t1, t2),
    scored AS (
        SELECT co.t1, co.t2, co.n_ab,
               ROUND(CAST(co.n_ab * nd.n AS DOUBLE)
                     / CAST(a.df * b.df AS DOUBLE), 6) AS lift
        FROM co
        JOIN vocab a ON a.tok = co.t1
        JOIN vocab b ON b.tok = co.t2
        CROSS JOIN nd
    )
    SELECT t1, t2, n_ab, lift
    FROM scored ORDER BY lift DESC, t1, t2 LIMIT 20
"""

# q113: the oracle is deliberately BRUTE FORCE (all shared-shingle
# pairs, exact Jaccard >= 0.7) — matching it is the proof that prefix
# filtering lost nothing.
LLM_ORACLE_SQL["q113_prefix_jaccard_join"] = f"""
    WITH {_SHINGLES_CTE.strip()}
    SELECT i, j, ROUND(jaccard, 4) AS jaccard
    FROM jac WHERE jaccard >= 0.7 ORDER BY i, j
"""

# q120: full 3-round GD replay. Every arithmetic step is algebraic
# (the rational fast-sigmoid link — no libm exp), z-folds are the same
# left-associated order as the engine's _margin, features are dyadic
# rationals (counts / powers of two — exact doubles), and weights are
# FLOOR-quantized to 6 dp after every update, so both engines walk the
# identical weight trajectory (the k-means/BPE iterative-replay
# pattern).
LLM_ORACLE_SQL["q120_logreg_quality"] = r"""
    WITH feat AS (
        SELECT doc_id,
               1.0 AS x0,
               len(string_split_regex(text, '\s+')) / 128 AS x1,
               n_chars / 1024 AS x2,
               (length(text)
                - length(regexp_replace(text, '[0-9]', '', 'g'))) / 16 AS x3,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM documents
    ),
    s1 AS (
        SELECT *, 0.0 * x0 + 0.0 * x1 + 0.0 * x2 + 0.0 * x3 AS z FROM feat
    ),
    a1 AS (
        SELECT COUNT(*) AS n,
               SUM(x0 * e) AS g0, SUM(x1 * e) AS g1,
               SUM(x2 * e) AS g2, SUM(x3 * e) AS g3
        FROM (SELECT *, (0.5 + 0.5 * z / (1 + abs(z))) - y AS e FROM s1)
    ),
    w1 AS (
        SELECT FLOOR((0.0 - (1.0/1024) * g0 / n) * 1000000) / 1000000 AS w0,
               FLOOR((0.0 - (1.0/1024) * g1 / n) * 1000000) / 1000000 AS w1,
               FLOOR((0.0 - (1.0/1024) * g2 / n) * 1000000) / 1000000 AS w2,
               FLOOR((0.0 - (1.0/1024) * g3 / n) * 1000000) / 1000000 AS w3
        FROM a1
    ),
    s2 AS (
        SELECT f.*, w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 AS z
        FROM feat f, w1 w
    ),
    a2 AS (
        SELECT COUNT(*) AS n,
               SUM(x0 * e) AS g0, SUM(x1 * e) AS g1,
               SUM(x2 * e) AS g2, SUM(x3 * e) AS g3
        FROM (SELECT *, (0.5 + 0.5 * z / (1 + abs(z))) - y AS e FROM s2)
    ),
    w2 AS (
        SELECT FLOOR((w.w0 - (1.0/1024) * a.g0 / a.n) * 1000000) / 1000000 AS w0,
               FLOOR((w.w1 - (1.0/1024) * a.g1 / a.n) * 1000000) / 1000000 AS w1,
               FLOOR((w.w2 - (1.0/1024) * a.g2 / a.n) * 1000000) / 1000000 AS w2,
               FLOOR((w.w3 - (1.0/1024) * a.g3 / a.n) * 1000000) / 1000000 AS w3
        FROM w1 w, a2 a
    ),
    s3 AS (
        SELECT f.*, w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 AS z
        FROM feat f, w2 w
    ),
    a3 AS (
        SELECT COUNT(*) AS n,
               SUM(x0 * e) AS g0, SUM(x1 * e) AS g1,
               SUM(x2 * e) AS g2, SUM(x3 * e) AS g3
        FROM (SELECT *, (0.5 + 0.5 * z / (1 + abs(z))) - y AS e FROM s3)
    ),
    w3 AS (
        SELECT FLOOR((w.w0 - (1.0/1024) * a.g0 / a.n) * 1000000) / 1000000 AS w0,
               FLOOR((w.w1 - (1.0/1024) * a.g1 / a.n) * 1000000) / 1000000 AS w1,
               FLOOR((w.w2 - (1.0/1024) * a.g2 / a.n) * 1000000) / 1000000 AS w2,
               FLOOR((w.w3 - (1.0/1024) * a.g3 / a.n) * 1000000) / 1000000 AS w3
        FROM w2 w, a3 a
    )
    SELECT doc_id,
           CAST(y AS BIGINT) AS label,
           ROUND(0.5 + 0.5 * z / (1 + abs(z)), 6) AS score,
           (0.5 + 0.5 * z / (1 + abs(z))) >= 0.5 AS kept
    FROM (
        SELECT f.doc_id, f.y,
               w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3 AS z
        FROM feat f, w3 w
    )
    ORDER BY doc_id
"""

# q118: the md5-prefix hash is the ENGINE-PORTABLE part of the design —
# the 16-hex-char prefix compares lexicographically exactly like the
# big-endian uint64 the Spark Arrow pass selects by, so both engines
# winnow the same gram out of every window.
LLM_ORACLE_SQL["q118_winnow_fingerprints"] = r"""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
                  FROM documents),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(ws) >= 5
                    THEN [substr(md5(array_to_string(ws[i:i+4], ' ')), 1, 16)
                          for i in range(1, len(ws) - 3)]
                    ELSE [substr(md5(array_to_string(ws, ' ')), 1, 16)]
               END AS hs
        FROM toks
    ),
    fps AS (
        SELECT doc_id,
               CASE WHEN len(hs) >= 4
                    THEN list_distinct([list_min(hs[p:p+3])
                                        for p in range(1, len(hs) - 2)])
                    ELSE [list_min(hs)]
               END AS fp
        FROM grams
    ),
    ex AS (SELECT doc_id, unnest(fp) AS f FROM fps)
    SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS n_shared
    FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY 1, 2 ORDER BY i, j
"""


# q121: the oracle replays DSIR's hashed-bigram bucketing (portable
# md5-int mod 64), the add-1-smoothed floor-quantized likelihood-ratio
# weights, and the exact-integer per-doc score sums. The three IEEE
# divisions/multiplications are written in the identical fixed order as
# the Spark expressions, so the floor cannot straddle engines.
LLM_ORACLE_SQL["q121_dsir_selection"] = r"""
    WITH toks AS (SELECT doc_id, lang, string_split_regex(text, '\s+') AS ws
                  FROM documents),
    hs AS (
        SELECT doc_id, lang,
               CASE WHEN len(ws) >= 2
                    THEN [('0x' || substr(md5(ws[i] || ' ' || ws[i+1]),
                                          1, 8))::BIGINT % 64
                          for i in range(1, len(ws))]
                    ELSE [('0x' || substr(md5(array_to_string(ws, ' ')),
                                          1, 8))::BIGINT % 64]
               END AS hs
        FROM toks
    ),
    ex AS (SELECT lang, unnest(hs) AS bk FROM hs),
    tot AS (SELECT bk,
                   SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tq,
                   COUNT(*) AS tp
            FROM ex GROUP BY bk),
    sums AS (SELECT SUM(tq) AS tqs, SUM(tp) AS tps FROM tot),
    w AS (SELECT bk,
                 CAST(FLOOR(1000000.0
                            * ((tq + 1)::DOUBLE / (tqs + 64)::DOUBLE)
                            * ((tps + 64)::DOUBLE / (tp + 1)::DOUBLE))
                      AS BIGINT) AS s
          FROM tot CROSS JOIN sums),
    dex AS (SELECT doc_id, unnest(hs) AS bk FROM hs),
    persum AS (SELECT dex.doc_id, SUM(w.s) AS score
               FROM dex JOIN w USING (bk) GROUP BY dex.doc_id),
    scored AS (SELECT h.doc_id, len(h.hs) AS n_grams,
                      CAST(COALESCE(p.score, 0) AS BIGINT) AS score
               FROM hs h LEFT JOIN persum p USING (doc_id)),
    ranked AS (SELECT doc_id, n_grams, score,
                      CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                           AS BIGINT) AS rank
               FROM scored)
    SELECT doc_id, n_grams, score, rank FROM ranked
    WHERE rank <= 100 ORDER BY rank
"""


# q122: lexical side = q68's integer-scaled TF-IDF replay; semantic side
# = floor-quantized list_dot_product cosine against the vec_id=0 row
# (index-order accumulation matches the Spark zip_with/aggregate fold);
# both sides rank inside their own top-50, then rrf sums two exact
# reciprocal terms in the same left-to-right order as the engine.
LLM_ORACLE_SQL["q122_hybrid_rrf"] = f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tok AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w
        FROM documents
    ),
    hits AS (SELECT doc_id, w FROM tok
             WHERE w IN ('fast', 'query', 'spark', 'table')),
    dfc AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY w),
    idf AS (
        SELECT t.w,
               CAST(ROUND(LN((n.n_docs + 1.0) / (COALESCE(d.df, 0) + 1.0)) + 1.0,
                          6) * 1000000 AS BIGINT) AS idf_scaled
        FROM (VALUES ('fast'), ('query'), ('spark'), ('table')) t(w)
        CROSS JOIN n
        LEFT JOIN dfc d USING (w)
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM hits GROUP BY doc_id, w),
    text_scores AS (
        SELECT doc_id, CAST(SUM(tf.tf * idf.idf_scaled) AS BIGINT) AS s_text
        FROM tf JOIN idf USING (w) GROUP BY doc_id
    ),
    ta AS (SELECT doc_id,
                  CAST(ROW_NUMBER() OVER (ORDER BY s_text DESC, doc_id)
                       AS INT) AS rank_a
           FROM text_scores
           ORDER BY s_text DESC, doc_id LIMIT 50),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    vec_scores AS (
        SELECT vec_id AS doc_id,
               CAST(FLOOR(1000000.0 *
                   ({_COS.format(a='qv.qv', b='c.embedding')}))
                    AS BIGINT) AS s_vec
        FROM embeddings c CROSS JOIN qv
    ),
    tb AS (SELECT doc_id,
                  CAST(ROW_NUMBER() OVER (ORDER BY s_vec DESC, doc_id)
                       AS INT) AS rank_b
           FROM vec_scores
           ORDER BY s_vec DESC, doc_id LIMIT 50),
    fused AS (
        SELECT COALESCE(ta.doc_id, tb.doc_id) AS doc_id,
               ta.rank_a AS rank_a, tb.rank_b AS rank_b,
               COALESCE(1.0 / (60.0 + ta.rank_a), 0.0)
               + COALESCE(1.0 / (60.0 + tb.rank_b), 0.0) AS rrf
        FROM ta FULL OUTER JOIN tb ON ta.doc_id = tb.doc_id
    )
    SELECT * FROM (
        SELECT doc_id, rank_a, rank_b, ROUND(rrf, 6) AS rrf
        FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    ) ORDER BY doc_id
"""


# q123: the oracle replays the full curation chain — conditional
# survivor windows (min-id per sha / per fingerprint restricted to
# prior-stage survivors), the running conditional count that ranks
# domain survivors in (salted-hash, id) order, and the split bands —
# over the same portable md5/sha primitives as q26/q35/q47.
LLM_ORACLE_SQL["q123_curation_pipeline"] = r"""
    WITH toks AS (SELECT doc_id, source, text,
                         string_split_regex(text, '\s+') AS ws,
                         string_split_regex(lower(text), '\s+') AS lws
                  FROM documents),
    base AS (
        SELECT doc_id, source,
               (len(ws) >= 20
                AND len(list_distinct(lws)) * 10 >= len(lws) * 3) AS q_ok,
               sha256(text) AS sha,
               list_min(list_transform(
                   CASE WHEN len(ws) >= 3
                        THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                            for i in range(1, len(ws) - 1)])
                        ELSE [array_to_string(ws, ' ')] END,
                   s -> ('0x' || substr(md5(s), 1, 8))::BIGINT)) AS fp,
               ('0x' || substr(md5('domcap:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 1000000 AS h,
               ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS sb
        FROM toks),
    e AS (SELECT *, q_ok AND doc_id = MIN(CASE WHEN q_ok THEN doc_id END)
                                      OVER (PARTITION BY sha) AS e_ok FROM base),
    n AS (SELECT *, e_ok AND doc_id = MIN(CASE WHEN e_ok THEN doc_id END)
                                      OVER (PARTITION BY fp) AS n_ok FROM e),
    r AS (SELECT *, SUM(CASE WHEN n_ok THEN 1 ELSE 0 END)
                        OVER (PARTITION BY source ORDER BY h, doc_id
                              ROWS UNBOUNDED PRECEDING) AS rnk FROM n)
    SELECT doc_id, source,
           CASE WHEN NOT q_ok THEN 'quality'
                WHEN NOT e_ok THEN 'exact_dup'
                WHEN NOT n_ok THEN 'near_dup'
                WHEN NOT (n_ok AND rnk <= 12) THEN 'domain_cap'
                ELSE 'kept' END AS stage,
           CASE WHEN n_ok AND rnk <= 12
                THEN CASE WHEN sb < 90 THEN 'train'
                          WHEN sb < 95 THEN 'val'
                          ELSE 'test' END
           END AS split
    FROM r ORDER BY doc_id
"""


# q124: exact integer Hamilton apportionment — the base quota uses the
# subtract-remainder form ((B·n − (B·n) MOD N) / N is exactly divisible,
# so the double division is exact below 2^53), leftover seats rank by
# (remainder DESC, source), membership is the salted-hash rank replay.
LLM_ORACLE_SQL["q124_stratified_sample"] = r"""
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    tot AS (SELECT SUM(n) AS t FROM counts),
    base AS (SELECT source, n,
                    CAST(((123 * n) - (123 * n) % t) / t AS BIGINT) AS b,
                    (123 * n) % t AS rem
             FROM counts CROSS JOIN tot),
    seats AS (SELECT source, n, b, rem,
                     ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr,
                     (SELECT 123 - SUM(b) FROM base) AS leftover
              FROM base),
    alloc AS (SELECT source,
                     LEAST(b + CASE WHEN rr <= leftover THEN 1 ELSE 0 END, n)
                         AS alloc
              FROM seats),
    ranked AS (SELECT d.source, d.doc_id, a.alloc,
                      ROW_NUMBER() OVER (
                          PARTITION BY d.source
                          ORDER BY ('0x' || substr(md5('stratsample:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                                       % 1000000,
                                   d.doc_id) AS sample_rank
               FROM documents d JOIN alloc a USING (source))
    SELECT source, doc_id, sample_rank, alloc FROM ranked
    WHERE sample_rank <= alloc ORDER BY source, sample_rank
"""


# q125: exact-regime replay (q79's pattern) — every source's distinct
# shingle set is below k, so the KMV estimates ARE exact set
# cardinalities and the oracle computes exact set algebra; jaccard is
# the same single IEEE division of the same exact integers.
LLM_ORACLE_SQL["q125_source_overlap"] = r"""
    WITH toks AS (SELECT doc_id, source, string_split_regex(text, '\s+') AS ws
                  FROM documents),
    sh AS (SELECT source, unnest(
               CASE WHEN len(ws) >= 3
                    THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                        for i in range(1, len(ws) - 1)])
                    ELSE [array_to_string(ws, ' ')] END) AS s
           FROM toks),
    d AS (SELECT DISTINCT source, s FROM sh),
    c AS (SELECT source, COUNT(*) AS n FROM d GROUP BY source),
    inter AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS n_i
              FROM d a JOIN d b ON b.s = a.s AND a.source < b.source
              GROUP BY 1, 2),
    pairs AS (SELECT a.source AS sa, b.source AS sb, a.n AS na, b.n AS nb
              FROM c a JOIN c b ON a.source < b.source)
    SELECT p.sa AS source_a, p.sb AS source_b,
           CAST(p.na AS BIGINT) AS est_a,
           CAST(p.nb AS BIGINT) AS est_b,
           CAST(p.na + p.nb - COALESCE(i.n_i, 0) AS BIGINT) AS est_union,
           CAST(COALESCE(i.n_i, 0) AS BIGINT) AS est_inter,
           ROUND(COALESCE(i.n_i, 0) /
                 CAST(p.na + p.nb - COALESCE(i.n_i, 0) AS DOUBLE),
                 4) AS jaccard
    FROM pairs p LEFT JOIN inter i ON i.sa = p.sa AND i.sb = p.sb
    ORDER BY source_a, source_b
"""


# q127: DuckDB replays the keep-iff-different-from-predecessor filter
# with an indexed list_filter (ws[0] is NULL there; x <> NULL is NULL
# and the OR absorbs it — the Spark side uses greatest(i,1) because
# element_at(ws, 0) throws instead).
LLM_ORACLE_SQL["q127_collapse_repeats"] = r"""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
                  FROM documents),
    cleaned AS (
        SELECT doc_id, ws,
               list_filter(ws, (x, i) -> i = 1 OR x <> ws[i-1]) AS cw
        FROM toks)
    SELECT doc_id,
           CAST(len(ws) AS INT) AS n_before,
           CAST(len(cw) AS INT) AS n_after,
           array_to_string(cw, ' ') AS cleaned
    FROM cleaned ORDER BY doc_id
"""


# q128: q42's recursive-CTE components + an arg-max over each cluster's
# members by the exact (n_chars desc, id asc) order.
LLM_ORACLE_SQL["q128_keep_best_survivors"] = f"""
    WITH RECURSIVE {_SHINGLES_CTE.strip()},
    p AS (SELECT i, j FROM jac WHERE jaccard >= 0.8),
    e AS (SELECT i AS a, j AS b FROM p UNION SELECT j, i FROM p),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
        WHERE e2.b <> r.a
    ),
    lbl AS (SELECT a AS node, LEAST(a, MIN(b)) AS label FROM reach GROUP BY a),
    best AS (
        SELECT l.label AS cluster_id, d.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY l.label
                   ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY l.label) AS n_docs
        FROM lbl l JOIN documents d ON d.doc_id = l.node
    )
    SELECT cluster_id, doc_id AS kept_id, n_chars AS kept_n_chars,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM best WHERE rn = 1 ORDER BY cluster_id
"""


# q129: the oracle computes the SAME global running sum with one naive
# window over (hash, id) order — exact integers make the distributed
# two-phase scan and the single window bit-identical; the shard floor
# divides exact int64s below 2^53, so the IEEE division matches.
LLM_ORACLE_SQL["q129_token_shards"] = r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
               ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 1000000 AS h
        FROM documents),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY h, doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS cumb
        FROM t)
    SELECT doc_id, n_tokens,
           CAST(FLOOR(cumb / 2048.0) AS BIGINT) AS shard
    FROM c ORDER BY doc_id
"""


# q130: integer quota ((n·25 − (n·25) MOD 100)/100 is exactly divisible
# → the double division is exact), rank by (distinct-tokens desc, id).
LLM_ORACLE_SQL["q130_quality_percentile_gate"] = r"""
    WITH base AS (
        SELECT doc_id, lang,
               CAST(len(list_distinct(string_split_regex(text, '\s+')))
                    AS INT) AS q_distinct
        FROM documents),
    ranked AS (
        SELECT doc_id, lang, q_distinct,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang
                   ORDER BY q_distinct DESC, doc_id ASC) AS INT) AS rank,
               ((COUNT(*) OVER (PARTITION BY lang) * 25)
                - (COUNT(*) OVER (PARTITION BY lang) * 25) % 100) / 100
                   AS keep_n
        FROM base)
    SELECT doc_id, lang, q_distinct, rank, rank <= keep_n AS kept
    FROM ranked ORDER BY doc_id
"""

# q132: SQRT is correctly rounded by IEEE-754 in both engines and the
# weights/seats are floor-quantized int64, so the Hamilton allocation
# replays exactly. DuckDB widens the integer products to HUGEINT — the
# explicit BIGINT casts keep pandas rendering int64 (§2.10 rule e).
LLM_ORACLE_SQL["q132_temperature_mixture"] = r"""
    WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (SELECT source, n,
                 CAST(FLOOR(1000000.0 * SQRT(CAST(n AS DOUBLE))) AS BIGINT)
                     AS w_e6
          FROM c),
    tot AS (SELECT SUM(w_e6) AS wt FROM w),
    a AS (SELECT source, n, w_e6,
                 CAST((200 * w_e6) // wt AS BIGINT) AS base,
                 (200 * w_e6) % wt AS rem
          FROM w CROSS JOIN tot),
    lo AS (SELECT CAST(200 - SUM(base) AS BIGINT) AS leftover FROM a),
    r AS (SELECT source, n, w_e6, base,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rr
          FROM a)
    SELECT source, n, w_e6,
           CAST(base + CASE WHEN rr <= lo.leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM r CROSS JOIN lo
    ORDER BY source
"""

# q133: the gram arrays mirror word_ngrams (short docs collapse to one
# whole-text gram, the q121/q39 convention); first occurrence is MIN
# over doc_id per distinct gram; novelty is exact integer floor
# division.
LLM_ORACLE_SQL["q133_novelty_profile"] = r"""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
                  FROM documents),
    grams AS (
        SELECT doc_id,
               list_distinct(
                   CASE WHEN len(ws) >= 2
                        THEN [ws[i] || ' ' || ws[i+1]
                              for i in range(1, len(ws))]
                        ELSE [array_to_string(ws, ' ')] END) AS gs
        FROM toks
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    nd AS (SELECT doc_id, COUNT(*) AS n_distinct FROM ex GROUP BY doc_id),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY g),
    nv AS (SELECT first_doc AS doc_id, COUNT(*) AS n_novel
           FROM first GROUP BY first_doc)
    SELECT nd.doc_id, nd.n_distinct,
           CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
           CAST((1000000 * COALESCE(nv.n_novel, 0)) // nd.n_distinct
                AS BIGINT) AS novelty_e6
    FROM nd LEFT JOIN nv ON nd.doc_id = nv.doc_id
    ORDER BY nd.doc_id
"""

# q136: the mode per (source, pos) breaks count ties by token ASC in
# both engines; shares are exact integer floor divisions.
LLM_ORACLE_SQL["q136_boilerplate_positions"] = r"""
    WITH t AS (SELECT source, string_split_regex(text, '\s+') AS ws
               FROM documents),
    nsrc AS (SELECT source, COUNT(*) AS n_docs FROM t GROUP BY source),
    toks AS (
        SELECT source, u.pos, u.tok
        FROM (SELECT source,
                     unnest([{'pos': i, 'tok': ws[i]}
                             for i in range(1, least(len(ws), 5) + 1)]) AS u
              FROM t)
    ),
    c AS (SELECT source, pos, tok, COUNT(*) AS n
          FROM toks GROUP BY source, pos, tok),
    r AS (SELECT source, pos, tok, n,
                 ROW_NUMBER() OVER (PARTITION BY source, pos
                                    ORDER BY n DESC, tok ASC) AS rn
          FROM c)
    SELECT r.source, CAST(r.pos AS BIGINT) AS pos, r.tok AS top_token, r.n,
           CAST((1000000 * r.n) // nsrc.n_docs AS BIGINT) AS share_e6
    FROM r JOIN nsrc ON r.source = nsrc.source
    WHERE r.rn = 1
    ORDER BY r.source, r.pos
"""

# q137: both gram streams follow the word_ngrams short-doc fallback
# (len < n collapses to one whole-text gram); counts are CAST to
# BIGINT before the integer shares (the §2.10 HUGEINT rule); keep
# replays the same floor-division comparisons.
LLM_ORACLE_SQL["q137_gopher_repetition"] = r"""
    WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS ws
               FROM documents),
    g2 AS (SELECT doc_id,
                  unnest(CASE WHEN len(ws) >= 2
                       THEN [ws[i] || ' ' || ws[i+1]
                             for i in range(1, len(ws))]
                       ELSE [array_to_string(ws, ' ')] END) AS g
           FROM t),
    g3 AS (SELECT doc_id,
                  unnest(CASE WHEN len(ws) >= 3
                       THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                             for i in range(1, len(ws) - 1)]
                       ELSE [array_to_string(ws, ' ')] END) AS g
           FROM t),
    c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY doc_id, g),
    c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY doc_id, g),
    a2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                  CAST(MAX(c) AS BIGINT) AS top_bigram_n
           FROM c2 GROUP BY doc_id),
    a3 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
                  CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                      AS dup_trigram_n
           FROM c3 GROUP BY doc_id)
    SELECT a2.doc_id, n_bigrams, top_bigram_n,
           (1000000 * top_bigram_n) // n_bigrams AS top_share_e6,
           n_trigrams, dup_trigram_n,
           (1000000 * dup_trigram_n) // n_trigrams AS dup_share_e6,
           ((1000000 * top_bigram_n) // n_bigrams <= 200000
            AND (1000000 * dup_trigram_n) // n_trigrams <= 600000) AS keep
    FROM a2 JOIN a3 USING (doc_id) ORDER BY a2.doc_id
"""

# q138: each ln term is quantized to round(1e6·ln c) BEFORE the per-doc
# sum (unit-scanned: no such input sits within 1e-7 of a .5 boundary
# for c ≤ 3e5, so a 1-ulp cross-engine ln difference cannot flip it);
# everything downstream is exact BIGINT arithmetic.
LLM_ORACLE_SQL["q138_char_entropy"] = r"""
    WITH ch AS (SELECT doc_id, unnest(regexp_extract_all(text, '\S')) AS ch
                FROM documents),
    c AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch),
    p AS (SELECT doc_id,
                 CAST(SUM(c) AS BIGINT) AS n_chars_ns,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
                 CAST(SUM(CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000, 0)
                               AS BIGINT) * c) AS BIGINT) AS sum_clnc_e6
          FROM c GROUP BY doc_id)
    SELECT doc_id, n_chars_ns, n_distinct_chars, sum_clnc_e6,
           CAST(ROUND(LN(CAST(n_chars_ns AS DOUBLE)) * 1000000, 0) AS BIGINT)
               - sum_clnc_e6 // n_chars_ns AS entropy_e6
    FROM p ORDER BY doc_id
"""


def _kcenter_oracle(k: int = 8) -> str:
    """Unrolled greedy k-center replay (the q54 pattern): seed at the
    min id, then k−1 rounds of quantized farthest-point argmax, then
    the nearest-center assignment with ties to the earlier round.
    Every chained CTE is MATERIALIZED — DuckDB inlines plain CTEs at
    each reference, which turns the sel0→sel{k-1} chain (each level
    referenced three times) into exponential re-evaluation (measured:
    >120 s inlined vs 0.15 s materialized at sf0.01)."""
    d2 = ("CAST(FLOOR(1000000.0 * list_sum(list_transform("
          "list_zip(e.v, s.v), x -> (x[1] - x[2]) * (x[1] - x[2])))) "
          "AS BIGINT)")
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, list_transform(embedding, "
        "x -> CAST(x AS DOUBLE)) AS v FROM embeddings)",
        "sel0 AS MATERIALIZED (SELECT 0 AS r, vec_id, v, "
        "CAST(0 AS BIGINT) AS radius FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(1, k):
        prev = f"sel{i - 1}"
        parts.append(f"""m{i} AS MATERIALIZED (
            SELECT e.vec_id, MIN({d2}) AS md
            FROM e CROSS JOIN {prev} s
            WHERE e.vec_id NOT IN (SELECT vec_id FROM {prev})
            GROUP BY e.vec_id)""")
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT {i} AS r, m.vec_id, e.v, "
            f"m.md AS radius FROM m{i} m JOIN e USING (vec_id) "
            f"ORDER BY m.md DESC, m.vec_id ASC LIMIT 1)"
        )
        parts.append(
            f"sel{i} AS MATERIALIZED (SELECT * FROM {prev} UNION ALL "
            f"SELECT * FROM s{i})"
        )
    fin = f"sel{k - 1}"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes},
    asn AS (
        SELECT vec_id, r FROM (
            SELECT e.vec_id, s.r,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {d2} ASC, s.r ASC) AS rn
            FROM e CROSS JOIN {fin} s) WHERE rn = 1),
    cov AS (SELECT r, COUNT(*) AS n FROM asn GROUP BY r)
    SELECT CAST(s.r AS INT) AS round, s.vec_id, s.radius AS radius_e6,
           CAST(COALESCE(cov.n, 0) AS BIGINT) AS n_assigned
    FROM {fin} s LEFT JOIN cov ON s.r = cov.r ORDER BY round
"""


LLM_ORACLE_SQL["q139_kcenter_coreset"] = _kcenter_oracle()
