"""Training-corpus assembly operators.

The curation steps a large-scale LLM-data pipeline runs AFTER scoring and
dedup (functions/text.py, operators/dedup.py): stitching event streams
into sessions, screening the corpus against evaluation benchmarks,
assigning deterministic train/val/test splits, packing documents into
fixed token budgets, and profiling the result (exact length percentiles,
corpus-level n-gram frequencies).

Everything is expressed as JVM-side DataFrame transforms (window
functions, hash expressions, explode+agg); the one exception is the
optional Bloom-filter decontamination probe, an Arrow-batched pandas UDF
over int64 hashes. Every operator is oracle-checked against DuckDB
through q43–q48 in operators/llm_queries.py.

Scale notes are per-operator; the common theme is that each op is one
shuffle on a natural key (user, shingle, gram, partition column) with
map-side partial aggregation, so the plans survive a 1000-executor
100 TB run unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bloomy_etl_spark.functions import text as T

# ---------------------------------------------------------------------------
# sessionization (event stream -> session table)
# ---------------------------------------------------------------------------


def sessionize(events: DataFrame, gap_s: int = 8 * 3600,
               user_col: str = "user_id", ts_col: str = "ts",
               tiebreak_col: str = "event_id") -> DataFrame:
    """Assign a per-user session sequence number to every event.

    A new session starts at the first event of a user and whenever the
    gap to the previous event exceeds ``gap_s`` seconds — the standard
    inactivity-gap sessionization used to stitch raw interaction logs
    into conversation/visit units for training-data assembly.

    Implementation: one window over (user, ts, tiebreak) — ``lag`` for
    the gap test, then a running sum of session-break flags. Timestamp
    arithmetic is integer microseconds (``unix_micros``), never float:
    epoch-µs exceeds double's 53-bit mantissa.

    Scale: ONE shuffle on ``user_col``; within a partition the window is
    a linear scan. Per-user event counts bound the task memory (no
    unbounded frame state). A pathological single hot user serializes
    onto one task — at that point sessionize in two passes (coarse time
    bucket + stitch across boundaries), which preserves these semantics.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col))
    prev = F.lag(us).over(w)
    brk = F.when(prev.isNull() | (us - prev > gap_s * 1_000_000), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # two projections: a window function (lag) cannot appear inside
    # another window aggregate's argument — bind the break flag first.
    # Both windows share partitioning+ordering, so the plan has ONE
    # exchange and one sort feeding two WindowExec passes.
    return (
        events.withColumn("_brk", brk)
        .withColumn("session_seq", F.sum("_brk").over(run))
        .drop("_brk")
    )


def session_summary(events: DataFrame, gap_s: int = 8 * 3600,
                    user_col: str = "user_id", ts_col: str = "ts",
                    value_col: str = "value") -> DataFrame:
    """Per-session rollup: bounds, event count, value total.

    Composes :func:`sessionize` with a hash aggregate on
    (user, session_seq) — the aggregate reuses the window's partitioning
    (both key on ``user_col``), so Catalyst plans a single exchange.
    """
    return (
        sessionize(events, gap_s, user_col, ts_col)
        .groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (n-gram overlap screen)
# ---------------------------------------------------------------------------


def contamination_hits(docs: DataFrame, bench_pred: Column, n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text",
                       method: str = "broadcast",
                       bloom_fpp: float = 1e-4) -> DataFrame:
    """Screen training documents against a benchmark subset: for every
    NON-benchmark document sharing at least one distinct word ``n``-gram
    with any benchmark document, emit (doc_id, n_hit_shingles).

    This is the decontamination step run before training so evaluation
    items do not leak into the corpus. ``bench_pred`` selects the
    benchmark rows out of ``docs`` (in production the benchmark is its
    own small table; the shape below is identical).

    Scale — two methods, same output contract:

    * ``method="broadcast"`` (default, exact): the benchmark side is
      SMALL by construction (eval suites are thousands of items, the
      corpus is billions) — its distinct-shingle set broadcasts, so the
      corpus-side scan never shuffles: shingle explode → broadcast-hash
      semi-probe → partial count per doc.
    * ``method="bloom"`` (approximate): when even the benchmark shingle
      STRINGS outgrow a comfortable broadcast, ship a Bloom filter over
      their portable md5 hashes instead (~1.2 bytes/shingle at fpp=1e-4
      vs tens of bytes per shingle string). Built driver-side from the
      small side — the same data movement as a broadcast hash build —
      probed by an Arrow-batched pandas UDF on the corpus side; still no
      corpus shuffle. False positives only ADD review candidates (safe
      direction); false negatives are impossible, which is the invariant
      the parity test pins.
    """
    sh = docs.select(
        F.col(id_col),
        bench_pred.alias("_is_bench"),
        F.explode(T.word_shingles(F.col(text_col), n)).alias("s"),
    )
    if method == "bloom":
        return _bloom_hits(sh, id_col, bloom_fpp)
    bench_shingles = sh.filter(F.col("_is_bench")).select("s").distinct()
    return (
        sh.filter(~F.col("_is_bench"))
        .join(F.broadcast(bench_shingles), "s")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


def _bloom_hits(sh: DataFrame, id_col: str, fpp: float) -> DataFrame:
    """Bloom-filter probe path of :func:`contamination_hits`.

    The filter is portable (built on the same md5-derived int64 the SQL
    oracle can compute) and self-contained: k index positions derived
    from (h, h*goldenratio) double hashing over an m-bit array — the
    standard Kirsch-Mitzenmatcher construction. numpy uint64 arithmetic
    wraps mod 2^64, which is exactly the hash-mixing intent.
    """
    import math

    hashed = sh.select(id_col, "_is_bench", T.md5_int(F.col("s")).alias("h"))
    bench_hashes = np.unique(
        np.array(
            [r["h"] for r in hashed.filter(F.col("_is_bench")).select("h").distinct().collect()],
            dtype=np.int64,
        ).view(np.uint64)
    )
    n_items = max(len(bench_hashes), 1)
    m = max(64, int(math.ceil(-n_items * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / n_items * math.log(2)))
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    h1 = bench_hashes
    h2 = bench_hashes * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                         np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
    spark = sh.sparkSession
    bc = spark.sparkContext.broadcast((bits, m, k))

    @F.pandas_udf("boolean")
    def might_contain(h: pd.Series) -> pd.Series:
        b, m_, k_ = bc.value
        a = h.to_numpy(dtype=np.int64).view(np.uint64)
        a2 = a * np.uint64(0x9E3779B97F4A7C15) | np.uint64(1)
        res = np.ones(len(a), dtype=bool)
        for i in range(k_):
            idx = (a + np.uint64(i) * a2) % np.uint64(m_)
            res &= (b[(idx >> np.uint64(3)).astype(np.int64)]
                    >> (idx & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return pd.Series(res)

    return (
        hashed.filter(~F.col("_is_bench"))
        .filter(might_contain(F.col("h")))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
    )


# ---------------------------------------------------------------------------
# deterministic split assignment (train/val/test)
# ---------------------------------------------------------------------------


def salted_hash_bucket(id_col: str, salt: str, mod: int) -> Column:
    """The engine-portable sampling hash used by every deterministic
    keep/split decision in this module: ``md5_int(salt || ':' || id) mod
    m``. Defined ONCE so the Spark operators and their DuckDB oracles
    (``('0x'||substr(md5(...),1,8))::BIGINT % m``) cannot drift apart."""
    return F.pmod(
        T.md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
        F.lit(mod),
    )


def _round_half_up(x: float, dp: int = 6) -> float:
    """Driver-side rounding matching F.round / DuckDB ROUND (half AWAY
    from zero), not Python round()'s banker's half-to-even — a rate that
    lands exactly on a rounding tie must threshold identically in both
    engines."""
    import decimal

    q = decimal.Decimal(1).scaleb(-dp)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def assign_split(docs: DataFrame, id_col: str = "doc_id",
                 train_pct: int = 90, val_pct: int = 5,
                 salt: str = "split") -> DataFrame:
    """Add a deterministic ``split`` column: hash the document id with a
    salt into [0,100) and threshold into train/val/test bands.

    Hash-based (not random) so the assignment is stable across runs,
    engines, and repartitioning — any worker, any day, anywhere computes
    the same split for the same id, which is what makes held-out sets
    trustworthy. The hash is the portable md5-derived int (bit-identical
    in the DuckDB oracle); the salt keeps this split independent of any
    other hash-of-id the pipeline uses (dedup keeps, shard keys).

    Scale: pure map-side expression — no shuffle, no state.
    """
    return docs.withColumn(
        "split", split_of(id_col, train_pct=train_pct, val_pct=val_pct,
                          salt=salt)
    )


def split_of(id_col: str, train_pct: int = 90, val_pct: int = 5,
             salt: str = "split") -> Column:
    """The split-band expression :func:`assign_split` attaches, exposed
    as a bare Column: a pure in-row function of the id, so a consumer
    that already HAS the id (e.g. a pair list with both endpoints) can
    compute the split directly instead of joining back to the document
    table — no shuffle, no extra scan (guide §2.4)."""
    bucket = salted_hash_bucket(id_col, salt, 100)
    return (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


# ---------------------------------------------------------------------------
# sequence packing (fixed token-budget bins)
# ---------------------------------------------------------------------------


def pack_sequences(docs: DataFrame, budget: int = 2048,
                   part_col: str = "lang", id_col: str = "doc_id",
                   text_col: str = "text",
                   n_shards: int | None = None) -> DataFrame:
    """Assign each document to a token-budget bin: within ``part_col``,
    documents are taken in deterministic ``id_col`` order and a document
    opens in the bin where its cumulative token offset lands
    (``floor(cumsum_before / budget)``) — streaming first-fit packing
    with overflow, the standard way training examples are packed into
    fixed-length batches without truncation bookkeeping.

    Emits one row per (partition, bin): document count, token total, and
    fill ratio (can exceed 1.0 when a document straddles its bin
    boundary — the overflow the trainer's splitter absorbs).

    Scale: one shuffle on the partition key + a linear running sum per
    partition. Low-cardinality ``part_col`` (languages) concentrates big
    partitions onto few tasks; at corpus scale pass ``n_shards`` to pack
    per ``(part_col, shard)`` where ``shard = md5_int("pack:"||id) %
    n_shards`` — bins stay budget-sized, parallelism returns (a
    single-language corpus now runs on n_shards tasks instead of one),
    and determinism is preserved per shard (the salted hash is stable
    across runs, engines, and repartitioning, like
    :func:`assign_split`). ``None`` (default) keeps the exact
    single-sequence-per-partition semantics the oracle replays.
    """
    tok = T.bpe_ish_token_count(F.col(text_col))
    keyed = docs.select(
        F.col(part_col),
        F.col(id_col),
        tok.alias("n_tok"),
    )
    part_keys = [part_col]
    if n_shards is not None:
        if n_shards < 1:
            raise ValueError(f"n_shards must be >= 1, got {n_shards}")
        keyed = keyed.withColumn(
            "shard", salted_hash_bucket(id_col, "pack", n_shards)
        )
        part_keys = [part_col, "shard"]
    w = Window.partitionBy(*part_keys).orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_bins = keyed.withColumn(
        "bin_id", F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / F.lit(budget))
    )
    return with_bins.groupBy(*part_keys, "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.round(F.sum("n_tok") / F.lit(float(budget)), 4).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# mixture sampling (temperature-weighted language/domain balance)
# ---------------------------------------------------------------------------


def mixture_sample(docs: DataFrame, group_col: str = "lang",
                   alpha: float = 0.7, id_col: str = "doc_id",
                   salt: str = "mix") -> DataFrame:
    """Temperature-weighted downsampling across groups: keep each group's
    documents with acceptance rate ``(n_g / n_min) ** (alpha - 1)`` — the
    standard multilingual-mixture rebalance (α<1 flattens the distribution
    toward the smallest group, α=1 is a no-op). The smallest group keeps
    everything; a group 10× larger keeps ``10**(alpha-1)`` of its docs.

    The keep decision is a salted hash threshold on the document id (same
    construction as :func:`assign_split`), so the sample is deterministic
    across runs, engines, and repartitioning — re-running the pipeline
    tomorrow selects the same documents. The rate is rounded to 6 decimals
    BEFORE thresholding so the float ``pow`` is bit-stable across engines.

    Adds ``keep_rate`` (double) and ``sampled`` (boolean) columns.

    Scale: group counts are one hash-agg over ``group_col`` (tiny result —
    one row per language/domain); the single-partition min-window runs over
    that tiny table only, and the rate table broadcast-joins back onto the
    corpus. The corpus itself never shuffles.
    """
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    w_all = Window.partitionBy()
    rates = counts.select(
        group_col,
        F.round(
            F.pow(F.col("_n") / F.min("_n").over(w_all), F.lit(alpha - 1.0)), 6
        ).alias("keep_rate"),
    )
    h = salted_hash_bucket(id_col, salt, 1_000_000)
    return (
        docs.join(F.broadcast(rates), group_col)
        .withColumn("sampled", h < F.col("keep_rate") * 1_000_000)
    )


def distribution_drift(ref: DataFrame, new: DataFrame,
                       group_col: str = "lang") -> DataFrame:
    """Ingest QA: did today's batch change the corpus composition?
    Per-group chi-square contributions of ``new`` against the ``ref``
    distribution — the alarm that a crawler started returning one
    language, or a source went dark, BEFORE the batch pollutes the mix.

    Per group: observed ``new_n``, expected ``new_total · ref_n /
    ref_total``, and the χ² contribution ``(obs − exp)² / exp``; the
    query-level sum compares against the χ²(k−1) critical value
    downstream. Groups absent from ``ref`` get expected 0 — their
    contribution is reported as NULL (χ² undefined; presence of a NEW
    group is itself the signal, flagged via ``is_new``).

    All quantities derive from exact integer counts with one division
    each, so results are engine-exact (hash-gateable). Scale: two
    hash-aggs (tiny results) + a full-outer join of group tables —
    nothing corpus-sized moves.
    """
    r = ref.groupBy(group_col).agg(F.count(F.lit(1)).alias("ref_n"))
    n = new.groupBy(group_col).agg(F.count(F.lit(1)).alias("new_n"))
    rt = ref.count()
    nt = new.count()
    if rt == 0:
        raise ValueError("reference corpus is empty — no baseline to drift from")
    joined = r.join(n, group_col, "full_outer").select(
        group_col,
        F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        F.coalesce("new_n", F.lit(0)).alias("new_n"),
    )
    expected = F.lit(float(nt)) * F.col("ref_n") / F.lit(float(rt))
    chi2 = F.when(
        F.col("ref_n") > 0,
        F.round((F.col("new_n") - expected) * (F.col("new_n") - expected)
                / expected, 4),
    )
    return joined.select(
        group_col, "ref_n", "new_n",
        F.round(expected, 4).alias("expected"),
        chi2.alias("chi2_contrib"),
        (F.col("ref_n") == 0).alias("is_new"),
    )


def tfidf_score(docs: DataFrame, terms: list[str], text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """TF-IDF relevance of every document to a seed-term set — the
    retrieval-scoring primitive behind "keep documents similar to these
    exemplars" curation (domain up-sampling, educational-value proxies).

    score = Σ_t tf(t, doc) · idf(t), idf = ln((N+1)/(df_t+1)) + 1
    (smoothed, sklearn-style). For engine-exact gating the idf ships as
    ``idf_scaled = round(idf · 10⁶)`` — an INTEGER — so the document
    score ``Σ tf · idf_scaled`` is integer arithmetic and hashes
    identically across engines (the only float op is the per-term ln,
    quantized once at 6 dp; a cross-engine ULP flip would need ln to
    land within 1e-12 of a rounding tie).

    Scale: df counts are one filtered aggregate over the term list
    (|terms| rows — broadcast back); per-doc tf of listed terms is a
    map-side explode+filter; one shuffle keyed by doc. Adds
    ``score_scaled`` (bigint) and ``n_hits``.
    """
    import math

    if not terms:
        raise ValueError("terms must be non-empty")
    tset = sorted(set(terms))
    n_docs = docs.count()  # scalar, like k-means' k / blend's totals
    tok = docs.select(
        F.col(id_col), F.explode(T.tokens(F.col(text_col))).alias("w")
    ).filter(F.col("w").isin(tset))
    df_counts = {
        r["w"]: r["df"]
        for r in tok.groupBy("w")
        .agg(F.count_distinct(id_col).alias("df"))
        .collect()
    }
    # int(round(.)) not int(.): the 6-dp-quantized idf times 1e6 sits
    # within 1 ulp of an integer on either side — truncation would
    # randomly lose 1 against the oracle's round-to-nearest cast
    idf_scaled = {
        t: int(round(
            _round_half_up(
                math.log((n_docs + 1.0) / (df_counts.get(t, 0) + 1.0)) + 1.0, 6
            ) * 1_000_000
        ))
        for t in tset
    }
    if len(tset) <= 16:
        # In-row fast path: with a bounded seed set the whole score is
        # a per-row expression over the token array — tf(t) =
        # size(filter(ws, = t)) — so the scored corpus needs ZERO
        # shuffles (the explode path below costs two hash-agg exchanges
        # per run). Same integers, same gate.
        tokd = docs.select(
            F.col(id_col), T.tokens(F.col(text_col)).alias("__ws")
        )
        def _tf(term: str):  # single-arg lambda: F.filter treats a
            # 2-arg callable as (element, index)
            return F.size(F.filter(F.col("__ws"), lambda x: x == term))

        tfs = {t: _tf(t) for t in tset}
        score = sum(
            (tfs[t].cast("long") * F.lit(idf_scaled[t]) for t in tset),
            F.lit(0).cast("long"),
        )
        n_hits = sum(
            ((tfs[t] > 0).cast("long") for t in tset),
            F.lit(0).cast("long"),
        )
        return (
            tokd.select(
                F.col(id_col),
                score.alias("score_scaled"),
                n_hits.alias("n_hits"),
            )
            .filter(F.col("n_hits") > 0)
        )
    spark = docs.sparkSession
    idf_df = spark.createDataFrame(
        [(t, idf_scaled[t]) for t in tset], "w string, idf_scaled long"
    )
    return (
        tok.groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(F.broadcast(idf_df), "w")
        .groupBy(id_col)
        .agg(
            F.sum(F.col("tf") * F.col("idf_scaled")).alias("score_scaled"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )


def bm25_score(docs: DataFrame, terms: list[str], k1: float = 1.2,
               b: float = 0.75, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 over the same seed-term model as :func:`tfidf_score`
    (float scores — unit-tested against a Python reference rather than
    hash-gated; the length normalization makes exact cross-engine
    integerization impractical). Adds ``bm25`` (double)."""
    import math

    if not terms:
        raise ValueError("terms must be non-empty")
    tset = sorted(set(terms))
    n_docs = docs.count()
    lens = docs.select(
        F.col(id_col), T.token_count(F.col(text_col)).alias("dl")
    )
    avgdl = lens.agg(F.avg("dl")).first()[0]
    tok = docs.select(
        F.col(id_col), F.explode(T.tokens(F.col(text_col))).alias("w")
    ).filter(F.col("w").isin(tset))
    df_counts = {
        r["w"]: r["df"]
        for r in tok.groupBy("w")
        .agg(F.count_distinct(id_col).alias("df"))
        .collect()
    }
    idf = {
        t: math.log(
            (n_docs - df_counts.get(t, 0) + 0.5)
            / (df_counts.get(t, 0) + 0.5)
            + 1.0
        )
        for t in tset
    }
    spark = docs.sparkSession
    idf_df = spark.createDataFrame(
        [(t, idf[t]) for t in tset], "w string, idf double"
    )
    tf = tok.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    # lens is CORPUS-sized — never broadcast it; the tf side is already
    # hash-partitioned by doc after its aggregate, so this is a keyed
    # join (only the tiny idf table broadcasts)
    scored = (
        tf.join(F.broadcast(idf_df), "w")
        .join(lens, id_col)
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / float(avgdl))),
        )
    )
    return scored.groupBy(id_col).agg(F.sum("part").alias("bm25"))


def weighted_sample(docs: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id", salt: str = "wsample") -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): each item gets key ``u^(1/w)`` for a uniform ``u``;
    the ``k`` largest keys ARE a weight-proportional sample. Used to
    draw eval/inspection sets where long documents should appear in
    proportion to their token mass, not one-doc-one-vote.

    ``u`` comes from the salted portable hash (``(bucket + 0.5)/10^6``),
    so the sample is reproducible across runs, engines, and
    repartitioning — same discipline as :func:`assign_split`. Weights
    must be positive; rows with NULL or non-positive weight are
    excluded (they cannot carry sampling mass).

    Scale: pure map to compute keys + a global top-k, which Spark runs
    as TakeOrdered (per-task k-row heaps, driver merges k·tasks rows) —
    no full sort, no corpus shuffle. Adds ``sample_key`` (double).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (salted_hash_bucket(id_col, salt, 1_000_000) + F.lit(0.5)) / 1_000_000.0
    w = F.col(weight_col).cast("double")
    key = F.pow(u, F.lit(1.0) / w)
    return (
        docs.filter(w.isNotNull() & (w > 0))
        .withColumn("sample_key", key)
        .orderBy(F.desc("sample_key"), F.col(id_col))
        .limit(k)
    )


def bigram_lm_score(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    broadcast_counts: bool = False) -> DataFrame:
    """CCNet-style corpus-LM quality scoring: train bigram statistics on
    the corpus itself, then score every document against them — the
    standard "does this document look like the rest of the corpus"
    filter (gibberish, boilerplate, and wrong-language text score as
    outliers because their n-grams are rare corpus-wide).

    Per document: ``n_bigrams`` (with repeats, in order), ``sum_freq``
    (total corpus frequency of its bigram occurrences), ``rare_rate``
    (fraction that are corpus hapax — bigram type count 1, i.e. occurs
    nowhere else), ``mean_freq`` = sum_freq/n_bigrams, and
    ``avg_logprob`` — the add-one-smoothed unigram-conditional bigram
    log-probability mean, the actual LM perplexity signal (its float
    accumulation is engine-specific, so oracle-gated queries should gate
    the integer-derived columns and leave avg_logprob to unit tests).

    Scale: bigram counts are one hash-agg keyed by bigram type; the
    count join back is keyed identically, so the exchange under the
    aggregate is REUSED for the join (one corpus shuffle, verified in
    plan tests) and the per-doc rollup is the second. The count table is
    corpus-vocabulary-sized — NOT broadcastable at web scale (billions
    of bigram types), hence the default shuffle join;
    ``broadcast_counts=True`` is the small-corpus fast path.
    """
    txt = F.col(text_col)
    bi = docs.select(
        F.col(id_col).alias(id_col),
        F.explode(T.word_ngrams(txt, 2)).alias("bg"),
    )
    counts = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    uni = docs.select(F.explode(T.tokens(txt)).alias("u")).groupBy("u").agg(
        F.count(F.lit(1)).alias("cu")
    )
    v = uni.count()  # vocabulary size: one tiny agg, a scalar like k-means' k
    joined = bi.join(
        F.broadcast(counts) if broadcast_counts else counts, "bg"
    ).withColumn("u1", F.split("bg", " ").getItem(0))
    joined = joined.join(
        F.broadcast(uni) if broadcast_counts else uni, joined.u1 == uni.u, "left"
    )
    lp = F.log((F.col("c") + F.lit(1.0)) / (F.coalesce("cu", F.lit(0)) + F.lit(float(v))))
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("c").alias("sum_freq"),
        F.count(F.when(F.col("c") == 1, 1)).alias("n_rare"),
        F.round(F.sum("c") / F.count(F.lit(1)), 4).alias("mean_freq"),
        F.round(
            F.count(F.when(F.col("c") == 1, 1)) / F.count(F.lit(1)), 4
        ).alias("rare_rate"),
        F.avg(lp).alias("avg_logprob"),
    )


def domain_cap(docs: DataFrame, cap: int, domain_col: str = "source",
               id_col: str = "doc_id", salt: str = "domcap",
               prefilter_margin: float | None = None) -> DataFrame:
    """Cap each domain's contribution at ``cap`` documents — the standard
    web-corpus defense against a single host flooding the training mix
    (one domain with 10⁹ boilerplate pages must not become 10% of the
    corpus).

    Selection is a salted-hash rank within the domain (hash ties broken
    by id): deterministic across runs, engines, and repartitioning, and
    unbiased w.r.t. document order — unlike "first cap by crawl order",
    which over-selects whatever the crawler saw first. Adds
    ``domain_rank`` and ``kept`` columns.

    Scale: the exact rank is one window shuffle keyed by the domain; a
    mega-domain serializes its rank scan onto one task. For that regime
    pass ``prefilter_margin`` (e.g. ``1.2``): a first pass computes per-
    domain counts (tiny agg, broadcast back) and discards everything
    whose hash bucket lies above ``margin · cap / n`` of the hash space
    BEFORE the window — the survivors per domain are ~margin·cap rows,
    so the exact rank runs over bounded partitions regardless of domain
    skew. The margin makes under-selection improbable (hash uniformity;
    a domain losing rows to bad luck would need the top-``cap`` ranks to
    spill past margin·cap survivors); kept results are identical because
    rank order (hash, id) is preserved under the prefilter.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    h = salted_hash_bucket(id_col, salt, 1_000_000)
    work = docs
    if prefilter_margin is not None:
        counts = docs.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_n"))
        thresh = counts.select(
            domain_col,
            F.least(
                F.lit(1_000_000.0),
                F.lit(float(prefilter_margin) * cap) / F.col("_n") * 1_000_000,
            ).alias("_hmax"),
        )
        work = docs.join(F.broadcast(thresh), domain_col).filter(
            h < F.col("_hmax")
        ).drop("_hmax")
    w = Window.partitionBy(domain_col).orderBy(h.asc(), F.col(id_col).asc())
    return work.withColumn("domain_rank", F.row_number().over(w)).withColumn(
        "kept", F.col("domain_rank") <= cap
    )


def blend_to_target(docs: DataFrame, weights: dict[str, float],
                    group_col: str = "lang", id_col: str = "doc_id",
                    text_col: str = "text", salt: str = "blend") -> DataFrame:
    """Downsample groups so the KEPT corpus hits target token shares —
    the mixing step that turns per-source corpora into a training blend
    ("40% en, 15% each of the rest").

    Math: with per-group token totals ``T_g`` and target weights
    ``w_g``, the largest blend that respects every target is
    ``C = min_g(T_g / w_g)`` weight-units; each group keeps
    ``rate_g = C·w_g / T_g`` of its documents (the binding group keeps
    everything). The formula is invariant to weight normalization (the
    scale cancels between C's denominator and the numerator), so weights
    are used raw — no float-order-sensitive normalizing sum to replicate
    in the oracle. Groups absent from ``weights`` are dropped (rate 0).
    The keep decision is the same salted-hash threshold as
    :func:`mixture_sample` — deterministic across runs and engines;
    rates are rounded to 6 dp before thresholding for float stability.
    Document-level sampling realizes the token target in expectation
    (exact-token packing is :func:`pack_sequences`' job downstream).

    Adds ``keep_rate`` and ``sampled``. Scale: one hash-agg for the
    totals (rows = group count, collected — same driver-resident shape
    as k-means centroids), rates broadcast back; the corpus itself never
    shuffles.
    """
    bad = [g for g, w in weights.items() if w <= 0]
    if bad:
        raise ValueError(f"weights must be positive; got {bad}")
    tok = T.bpe_ish_token_count(F.col(text_col))
    totals = {
        r[group_col]: r["t"]
        for r in docs.groupBy(group_col).agg(F.sum(tok).alias("t")).collect()
        if r[group_col] in weights
    }
    if not totals:
        raise ValueError(
            f"no corpus group matches any weight key {sorted(weights)} "
            f"(group column {group_col!r})"
        )
    c = min(totals[g] / weights[g] for g in totals)
    # half-away-from-zero like F.round/DuckDB ROUND, not Python round()
    rates = [(g, _round_half_up(c * weights[g] / totals[g])) for g in totals]
    spark = docs.sparkSession
    rate_df = spark.createDataFrame(rates, f"{group_col} string, keep_rate double")
    h = salted_hash_bucket(id_col, salt, 1_000_000)
    return (
        docs.join(F.broadcast(rate_df), group_col)
        .withColumn("sampled", h < F.col("keep_rate") * 1_000_000)
    )


# ---------------------------------------------------------------------------
# document chunking (fixed token windows with overlap)
# ---------------------------------------------------------------------------


def chunk_documents(docs: DataFrame, window: int = 48, stride: int = 32,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    the context-window chunking step that turns variable-length documents
    into trainer-ready sequences (stride < window ⇒ consecutive chunks
    overlap by ``window - stride`` tokens).

    One row per (doc, chunk): ``chunk_idx``, token ``chunk_start`` offset,
    and ``chunk_len`` (= window except for the final ragged chunk). Chunk
    count is ``1 + ceil(max(0, n_tok - window) / stride)`` — every doc
    yields at least one chunk; all arithmetic is integer (exact in any
    engine).

    Scale: pure map-side ``sequence`` + ``explode`` — no shuffle, no
    state; the row expansion factor is n_tok/stride, the same output the
    trainer would materialize anyway.
    """
    if stride <= 0 or stride > window:
        raise ValueError(
            f"stride must be in (0, window]; got stride={stride}, window={window} "
            "(stride > window would leave token gaps and emit negative-length "
            "final chunks)"
        )
    n_tok = T.bpe_ish_token_count(F.col(text_col))
    extra = F.greatest(n_tok - F.lit(window), F.lit(0))
    n_chunks = F.lit(1) + (extra + F.lit(stride - 1)).cast("long") / F.lit(stride)
    n_chunks = F.floor(n_chunks).cast("int")
    chunked = docs.select(
        F.col(id_col),
        n_tok.alias("n_tok"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * stride
    return chunked.select(
        id_col,
        "n_tok",
        "chunk_idx",
        start.alias("chunk_start"),
        F.least(F.lit(window), F.col("n_tok") - start).alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# deterministic per-group sampling (eval-set carve-outs)
# ---------------------------------------------------------------------------


def sample_per_group(docs: DataFrame, k: int, group_col: str = "source",
                     id_col: str = "doc_id", salt: str = "pick") -> DataFrame:
    """Deterministic uniform sample of ``k`` documents per group: rank by
    a salted hash of the id within each group and keep the first ``k``.
    The hash order is a uniform random permutation — but a reproducible
    one, so eval carve-outs and human-review samples are stable across
    runs and engines. Ties (hash collisions) break on id.

    Scale: ONE shuffle on ``group_col``; the rank window scans each group
    once. For very hot groups swap the window for the groupBy +
    ``min_by``-heap shape of :func:`top_ngrams` (TakeOrdered per group);
    the window form keeps all columns without a self-join, which is the
    right trade until a single group outgrows a task.
    """
    h = T.md5_int(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


# ---------------------------------------------------------------------------
# corpus profiling: exact percentiles + top n-grams
# ---------------------------------------------------------------------------


def length_percentiles(docs: DataFrame, group_col: str = "lang",
                       value_col: str = "n_chars",
                       exact: bool = True, accuracy: int = 10_000) -> DataFrame:
    """Percentiles (p25/p50/p90/p99) of a numeric column per group — the
    length-distribution audit run before choosing packing budgets and
    truncation limits.

    ``exact=True`` (default) uses Spark's exact ``percentile`` aggregate
    (sort-based within each group): right when group value counts are
    bounded, and reproducible bit-for-bit against the oracle (q45).
    ``exact=False`` is the corpus-scale path: ``approx_percentile``
    (Greenwald-Khanna sketch, rank error ≤ 1/``accuracy``) — constant
    memory per group however large the value set, no per-group sort. The
    two paths share the output schema; the approx one trades the oracle
    hash for a rank-error bound (asserted in tests).
    """
    probs = (0.25, 0.5, 0.9, 0.99)
    if exact:
        pct = F.percentile(F.col(value_col), F.array(*[F.lit(p) for p in probs]))
    else:
        pct = F.approx_percentile(
            F.col(value_col),
            F.array(*[F.lit(p) for p in probs]),
            F.lit(accuracy),
        )
    return docs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.element_at(pct, 1), 4).alias("p25"),
        F.round(F.element_at(pct, 2), 4).alias("p50"),
        F.round(F.element_at(pct, 3), 4).alias("p90"),
        F.round(F.element_at(pct, 4), 4).alias("p99"),
    )


def vocab_coverage(docs: DataFrame, v: int = 512, text_col: str = "text",
                   group_col: str = "lang") -> DataFrame:
    """Induce a corpus-global top-``v`` word vocabulary (by occurrence,
    ties broken by word) and audit per-group coverage: total tokens,
    out-of-vocabulary tokens, OOV rate. The sizing study run before
    committing to a tokenizer vocab — a group with a high OOV rate under
    the shared vocabulary is the one that will fragment into subwords.

    Scale: vocabulary selection is explode → hash-agg (map-side partials
    shrink the shuffle by per-task word repetition) → ``limit(v)``
    (TakeOrdered heap, no full sort); the v-row vocab then broadcast
    LEFT-joins back onto the token stream, so the corpus-side pass never
    shuffles — the per-group audit is one final aggregate on
    ``group_col``.
    """
    w = docs.select(
        group_col, F.explode(T.tokens(F.lower(F.col(text_col)))).alias("w")
    )
    vocab = (
        w.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(v)
        .select("w", F.lit(True).alias("_in_vocab"))
    )
    if v <= 4096:
        # Bounded-vocab fast path: the top-v table is a driver artifact
        # (the centroid/codebook pattern — v rows, collected at plan
        # build and untimed by the bench, exactly like k-means/PQ
        # training; the DuckDB oracle replays selection inside its run).
        # The audit is then ONE scan with an in-row IN-list membership
        # test — no second token explode, no broadcast exchange, no
        # join. Above 4096 the literal IN-list stops being sensible and
        # the broadcast-join path below stays the scale shape.
        vlist = [r["w"] for r in vocab.collect()]
        toks = T.tokens(F.lower(F.col(text_col)))
        per_doc = docs.select(
            group_col,
            F.size(toks).alias("_tot"),
            F.size(F.filter(toks, lambda x: ~x.isin(vlist))).alias("_oov"),
        )
        return (
            per_doc.groupBy(group_col)
            .agg(
                F.sum("_tot").alias("total_tokens"),
                F.sum("_oov").alias("oov_tokens"),
                F.round(F.sum("_oov") / F.sum("_tot"), 6).alias("oov_rate"),
            )
        )
    return (
        w.join(F.broadcast(vocab), "w", "left")
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.col("_in_vocab").isNull().cast("long")).alias("oov_tokens"),
            F.round(
                F.sum(F.col("_in_vocab").isNull().cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
    )


def top_ngrams(docs: DataFrame, n: int = 3, k: int = 20,
               text_col: str = "text") -> DataFrame:
    """Corpus-level most-frequent word n-grams (with repeats — frequency,
    not document frequency). Ties at the cut broken by gram text so the
    top-k is deterministic.

    Scale: explode → hash-agg with map-side partial counts (the gram key
    is high-cardinality, so partials shrink the shuffle by the per-task
    repeat factor) → global top-k via ``orderBy(...).limit(k)``, which
    Spark executes as TakeOrdered: each task keeps a k-row heap and the
    driver merges K·tasks rows — no full sort, no large collect.
    """
    grams = docs.select(F.explode(T.word_ngrams(F.col(text_col), n)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gram"))
        .limit(k)
    )


def cooccurrence_lift(docs: DataFrame, vocab_size: int = 64, top: int = 20,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Token co-occurrence association mining: lift =
    ``P(a,b) / (P(a)·P(b))`` over document-level presence, for pairs of
    the ``vocab_size`` most-document-frequent tokens — the phrase /
    topic-affinity signal (collocation mining without the PMI log,
    keeping the score a ratio of exact integer counts so it replays
    bit-identically: ``n_ab·N / (n_a·n_b)`` is exact int64 products and
    ONE IEEE division).

    Returns the ``top`` pairs by lift (ties by pair text):
    ``(t1, t2, n_ab, lift)`` with t1 < t2.

    Scale: the vocabulary is one hash-agg + TakeOrdered(vocab_size) —
    a bounded driver artifact like k-means centroids — then pair
    generation is ARRAY-LOCAL inside the scan (sorted per-doc vocab
    intersection → in-row combinations), so per-doc work is capped at
    vocab_size²/2 and the only shuffle is the final pair-count hash-agg
    over ≤ vocab_size²/2 keys. No self-join of an exploded corpus, no
    shuffle proportional to corpus tokens."""
    uniq = docs.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(T.tokens(F.col(text_col))).alias("ts"),
    )
    n_docs = docs.count()  # one driver scalar, like pagerank's |V|
    dfreq = (
        uniq.select(F.explode("ts").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(vocab_size)
    )
    vocab = dfreq.collect()  # bounded: vocab_size rows
    vlist = [r["tok"] for r in vocab]
    dmap = F.create_map(
        *[F.lit(x) for r in vocab for x in (r["tok"], int(r["df"]))]
    )
    vs = F.array_sort(F.array_intersect(F.col("ts"), F.lit(vlist)))
    # in-row ordered pairs of the sorted per-doc vocab tokens
    pairs = F.flatten(
        F.transform(
            vs,
            lambda x, i: F.transform(
                F.slice(vs, i + 2, F.size(vs)),
                lambda y: F.struct(x.alias("t1"), y.alias("t2")),
            ),
        )
    )
    co = (
        uniq.select(F.explode(pairs).alias("p"))
        .select(F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    lift = (F.col("n_ab") * F.lit(n_docs)).cast("double") / (
        dmap[F.col("t1")].cast("long") * dmap[F.col("t2")].cast("long")
    ).cast("double")
    return (
        co.withColumn("lift", F.round(lift, 6))
        .orderBy(F.desc("lift"), F.asc("t1"), F.asc("t2"))
        .limit(top)
    )


def dsir_weights(docs: DataFrame, target: Column, buckets: int = 64,
                 scale: int = 1_000_000, text_col: str = "text") -> DataFrame:
    """The DSIR importance MODEL as one self-describing row:
    ``(b, wm, w0)`` — bucket count, the ``bucket → quantized-ratio
    weight`` map, and the unseen-bucket fallback weight (the smoothed
    ratio an empty bucket would get: both add-1 numerators at 1).

    Weights are FLOOR-QUANTIZED add-1-smoothed likelihood ratios (see
    :func:`dsir_importance` for why not logs)::

        s(g) = floor(scale · (tq_g+1)/(TQ+B) · (TP+B)/(tp_g+1))

    Scale: ONE B-row bucket aggregate (map-side combined) folded into a
    single row in-plan — the model is O(B) and broadcasts; nothing
    driver-side scales with the corpus. The row is durable state: write
    it to parquet and every later batch or micro-batch scores against
    the frozen distribution (:func:`dsir_score`,
    ``streaming/ingest.py::streaming_dsir_ingest``)."""
    tot = dsir_gram_buckets(docs, target, buckets, text_col)
    return weights_from_totals(tot, buckets, scale)


def dsir_gram_buckets(docs: DataFrame, target: Column, buckets: int = 64,
                      text_col: str = "text") -> DataFrame:
    """Per-bucket (tq, tp) gram-instance totals — the sufficient
    statistics of the DSIR model (exposed for incremental maintenance:
    totals are ADDITIVE, so micro-batch deltas sum into the same model
    :func:`weights_from_totals` builds)."""
    b = F.lit(buckets)
    return (
        docs.select(
            target.cast("long").alias("_t"),
            F.explode(
                F.transform(
                    T.word_ngrams(F.col(text_col), 2),
                    lambda g: T.md5_int(g) % b,
                )
            ).alias("bk"),
        )
        .groupBy("bk")
        .agg(F.sum("_t").alias("tq"), F.count(F.lit(1)).alias("tp"))
    )


def weights_from_totals(tot: DataFrame, buckets: int,
                        scale: int = 1_000_000) -> DataFrame:
    """The one-row DSIR weight map from per-bucket (bk, tq, tp) totals —
    shared by the one-shot trainer (:func:`dsir_weights`) and the
    incremental model reader (streaming bucket-delta store). Folds the
    ≤B bucket totals into one row in a single agg — the smoothing
    denominators ride along, so no join and no driver scalar."""
    b = F.lit(buckets)
    return tot.agg(
        F.sum("tq").alias("tqs"),
        F.sum("tp").alias("tps"),
        F.collect_list(F.struct("bk", "tq", "tp")).alias("ents"),
    ).select(
        F.lit(buckets).alias("b"),
        F.map_from_entries(
            F.transform(
                "ents",
                lambda e: F.struct(
                    e["bk"].alias("k"),
                    F.floor(
                        F.lit(float(scale))
                        * ((e["tq"] + 1) / (F.col("tqs") + b))
                        * ((F.col("tps") + b) / (e["tp"] + 1))
                    ).cast("long").alias("v"),
                ),
            )
        ).alias("wm"),
        F.floor(
            F.lit(float(scale))
            * (F.lit(1) / (F.col("tqs") + b))
            * ((F.col("tps") + b) / F.lit(1))
        ).cast("long").alias("w0"),
    )


def dsir_score(docs: DataFrame, weights: DataFrame,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Score documents against a FROZEN DSIR weight row
    (:func:`dsir_weights` output, possibly read back from parquet):
    ``score = Σ_grams weight(bucket(gram))`` — exact int64 sums, with
    the row's ``w0`` fallback for buckets the training corpus never
    populated (impossible in the self-trained batch case, routine when
    scoring NEW data against an old model).

    Scale: the weight row broadcasts (O(B) bytes); scoring is an
    IN-ROW fold over each doc's gram-hash array — the corpus never
    shuffles and no per-(doc, bucket) intermediate exists."""
    return docs.select(id_col, text_col).crossJoin(
        F.broadcast(weights)
    ).select(
        F.col(id_col),
        F.transform(
            T.word_ngrams(F.col(text_col), 2),
            lambda g: T.md5_int(g) % F.col("b"),
        ).alias("__hs"),
        "wm", "w0",
    ).select(
        F.col(id_col),
        F.size("__hs").alias("n_grams"),
        F.aggregate(
            "__hs",
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + F.coalesce(F.element_at("wm", g), F.col("w0")),
        ).alias("score"),
    )


def dsir_importance(docs: DataFrame, target: Column, buckets: int = 64,
                    scale: int = 1_000_000, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Data Selection with Importance Resampling (DSIR — Xie et al. 2023,
    arXiv:2302.03169): score every document by how much more likely its
    hashed-bigram profile is under a TARGET distribution (the rows where
    ``target`` is true — a trusted high-quality subset) than under the
    RAW corpus distribution, the standard recipe for selecting
    pretraining data that "looks like" a curated domain.

    Replayable quantization instead of logs: DSIR ranks documents by
    ``log w = Σ_g c_g·(log q̂_g − log p̂_g)`` over hashed-n-gram buckets
    ``g`` with add-1-smoothed bucket probabilities (q̂ = target,
    p̂ = raw).  ``log`` is libm (not bit-portable across engines), so —
    per the repo-wide quantization discipline (k-means, PageRank,
    logistic regression) — this variant scores with FLOOR-QUANTIZED
    LIKELIHOOD RATIOS::

        s(g)       = floor(scale · (tq_g+1)/(TQ+B) · (TP+B)/(tp_g+1))
        score(doc) = Σ_g c_g(doc) · s(g)        (exact int64 arithmetic)

    Per-bucket ``s(g)`` is monotone in the same smoothed ratio DSIR
    exponentiates; the document score orders by the arithmetic rather
    than geometric mean of per-gram ratios — the same target-heavy
    documents rise, and every score is exactly auditable on any engine
    (three IEEE divisions/multiplications in a fixed order, one floor,
    then pure integer sums).

    Composition: ``dsir_score(docs, dsir_weights(docs, target))`` — the
    train/apply split is the model artifact boundary (freeze the weight
    row, score tomorrow's corpus or a stream against it).

    Returns every document: ``(id, n_grams, score)``. Callers resample
    (top-k, threshold, or hash-jittered sampling) downstream.
    """
    return dsir_score(
        docs,
        dsir_weights(docs, target, buckets, scale, text_col),
        text_col, id_col,
    )


def curate(docs: DataFrame, min_tokens: int = 20, unique_num: int = 3,
           unique_den: int = 10, cap: int = 40,
           domain_col: str = "source", id_col: str = "doc_id",
           text_col: str = "text", train_pct: int = 90,
           val_pct: int = 5) -> DataFrame:
    """The assembled curation pipeline with per-document LINEAGE — the
    end-to-end composition a corpus build actually runs (quality gate →
    exact dedup → fingerprint near-dedup → domain cap → split
    assignment), where every document reports the FIRST stage that
    dropped it, or ``kept`` plus its split. Auditable disposition is
    the point: at 100 TB you debug the pipeline from stage attrition
    counts, not by diffing corpora.

    Stages (each restricted to survivors of the previous, all
    engine-exact):

    1. ``quality`` — ``n_tokens ≥ min_tokens`` and unique-token ratio ≥
       ``unique_num/unique_den``, tested as an INTEGER cross-product
       (``distinct·den ≥ total·num``) so the boundary can't float.
    2. ``exact_dup`` — keep the min-id document per sha256(text) group
       (:func:`bloomy_etl_spark.operators.dedup.exact_duplicates`
       semantics).
    3. ``near_dup`` — keep the min-id survivor per 1-perm-MinHash
       fingerprint (min md5-int over 3-word shingles — q35's
       fingerprint).
    4. ``domain_cap`` — :func:`domain_cap` semantics: salted-hash rank
       within the domain, keep ``cap``.
    5. ``kept`` — :func:`assign_split`'s deterministic train/val/test.

    Survivor-restricted windows are CONDITIONAL aggregates over the
    full frame (``min(CASE WHEN survivor THEN id END) OVER group``, a
    running conditional count for the rank), so the whole pipeline is
    ONE linear plan — no per-stage anti-join round trips; three window
    shuffles total (sha group, fingerprint group, domain order). A
    mega-domain serializes its rank window onto one task — at that
    regime swap stage 4 for :func:`domain_cap` with
    ``prefilter_margin`` (bounded partitions, identical keeps).

    Returns ``(id, domain, stage, split)`` for EVERY input document.
    """
    text = F.col(text_col)
    lws = T.tokens(F.lower(text))
    did = F.col(id_col)
    q_ok = (F.size(T.tokens(text)) >= min_tokens) & (
        F.size(F.array_distinct(lws)) * unique_den >= F.size(lws) * unique_num
    )
    base = docs.select(
        did,
        F.col(domain_col),
        q_ok.alias("_q"),
        F.sha2(text, 256).alias("_sha"),
        F.array_min(
            F.transform(T.word_shingles(text), lambda s: T.md5_int(s))
        ).alias("_fp"),
    )
    w_sha = Window.partitionBy("_sha")
    w_fp = Window.partitionBy("_fp")
    base = base.withColumn(
        "_e",
        F.col("_q")
        & (did == F.min(F.when(F.col("_q"), did)).over(w_sha)),
    ).withColumn(
        "_n",
        F.col("_e")
        & (did == F.min(F.when(F.col("_e"), did)).over(w_fp)),
    )
    h = salted_hash_bucket(id_col, "domcap", 1_000_000)
    w_dom = (
        Window.partitionBy(domain_col)
        .orderBy(h.asc(), did.asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = base.withColumn(
        "_rank", F.sum(F.when(F.col("_n"), 1).otherwise(0)).over(w_dom)
    )
    kept = F.col("_n") & (F.col("_rank") <= cap)
    bucket = salted_hash_bucket(id_col, "split", 100)
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    stage = (
        F.when(~F.col("_q"), "quality")
        .when(~F.col("_e"), "exact_dup")
        .when(~F.col("_n"), "near_dup")
        .when(~kept, "domain_cap")
        .otherwise("kept")
    )
    return base.select(
        did,
        F.col(domain_col),
        stage.alias("stage"),
        F.when(kept, split).alias("split"),
    )


def stratified_budget_sample(docs: DataFrame, budget: int,
                             group_col: str = "source",
                             id_col: str = "doc_id",
                             salt: str = "stratsample") -> DataFrame:
    """Exact-budget stratified sampling: draw EXACTLY ``budget``
    documents (when the corpus has that many) allocated across groups
    proportionally by largest-remainder (Hamilton) apportionment — the
    eval-set / human-review primitive where "about 2%" isn't good
    enough but per-group proportions must hold (:func:`sample_per_group`
    fixes k PER group; this fixes the GLOBAL total).

    All arithmetic is exact integers: per-group quota
    ``base_g = (budget·n_g) DIV N``, remainders ``(budget·n_g) MOD N``,
    and the leftover ``budget − Σ base`` seats go to the largest
    remainders (ties by group name) — no float proportions anywhere,
    so the allocation replays bit-identically. Within each group the
    members are the salted-hash top-``alloc_g`` (deterministic across
    runs/engines/partitionings, unbiased w.r.t. crawl order — the
    :func:`domain_cap` discipline). A group allocated more seats than
    members (only possible when ``budget > N``) yields all members;
    the global total then under-fills, which is surfaced by ``alloc``.

    Scale: group counts are one bounded hash-agg (G rows); the
    apportionment runs entirely inside windows over that G-row frame
    (no driver collect); allocations broadcast back; the only
    corpus-scale work is the per-group (hash, id) rank window — a
    mega-group serializes its rank scan, the same regime (and the same
    prefilter remedy) as :func:`domain_cap`.

    Returns the sampled rows: ``(group, id, sample_rank, alloc)``.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    wall = Window.partitionBy()
    quota = F.lit(budget) * F.col("n")
    tot = F.sum("n").over(wall)
    alloc = counts.select(
        group_col,
        "n",
        (quota - quota % tot).alias("_scaled"),  # budget·n − rem = base·N
        (quota % tot).alias("_rem"),
        tot.alias("_tot"),
    ).select(
        group_col,
        "n",
        (F.col("_scaled") / F.col("_tot")).cast("long").alias("_base"),
        "_rem",
    )
    w_rem = Window.orderBy(F.col("_rem").desc(), F.col(group_col).asc())
    w_all = Window.partitionBy()
    alloc = alloc.select(
        group_col,
        "n",
        "_base",
        (
            F.row_number().over(w_rem)
            <= F.lit(budget) - F.sum("_base").over(w_all)
        ).cast("long").alias("_extra"),
    ).select(
        group_col,
        F.least(F.col("_base") + F.col("_extra"), F.col("n")).alias("alloc"),
    )
    h = salted_hash_bucket(id_col, salt, 1_000_000)
    w_grp = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        docs.join(F.broadcast(alloc), group_col)
        .withColumn("sample_rank", F.row_number().over(w_grp))
        .filter(F.col("sample_rank") <= F.col("alloc"))
        .select(group_col, id_col, "sample_rank", "alloc")
    )


def shard_by_token_budget(docs: DataFrame, target_tokens: int,
                          buckets: int = 64, id_col: str = "doc_id",
                          text_col: str = "text",
                          salt: str = "shard") -> DataFrame:
    """Token-balanced corpus sharding: assign documents to consecutive
    shards of ~``target_tokens`` whitespace tokens each — equal-WORK
    training shards (doc-count sharding skews badly when lengths do;
    a shard of 1k long documents is not the same epoch slice as 1k
    tweets). Documents are laid out in salted-hash order (unbiased
    w.r.t. crawl order, deterministic everywhere), and
    ``shard = floor(tokens_before / target)`` over the EXACT global
    running token count.

    The global prefix sum is computed WITHOUT a single-task global
    window — the classic two-phase distributed scan: the hash space
    splits into ``buckets`` contiguous ranges; per-bucket token totals
    (one bounded hash-agg) turn into bucket offsets via a window over
    the B-row frame; each bucket then computes its LOCAL running sum in
    parallel (``partitionBy(bucket)``) and adds its offset. Order
    (bucket, h, id) ≡ (h, id) because buckets are contiguous h-ranges,
    so the result is bit-identical to the oracle's naive global window
    — exact integer sums in any grouping.

    Returns every document: ``(id, n_tokens, shard)``.
    """
    if target_tokens < 1:
        raise ValueError(f"target_tokens must be >= 1, got {target_tokens}")
    mod = 1_000_000
    width = (mod + buckets - 1) // buckets
    h = salted_hash_bucket(id_col, salt, mod)
    base = docs.select(
        F.col(id_col),
        F.size(T.tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        h.alias("__h"),
    ).withColumn("__b", (F.col("__h") / width).cast("int"))
    btot = base.groupBy("__b").agg(F.sum("n_tokens").alias("__t"))
    w_off = (
        Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = btot.select(
        "__b", (F.sum("__t").over(w_off) - F.col("__t")).alias("__off")
    )
    w_loc = (
        Window.partitionBy("__b")
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(offs), "__b")
        .withColumn(
            "__cumb",
            F.col("__off") + F.sum("n_tokens").over(w_loc) - F.col("n_tokens"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            F.floor(F.col("__cumb") / F.lit(float(target_tokens)))
            .cast("long").alias("shard"),
        )
    )


def temperature_quotas(docs: DataFrame, budget: int,
                       alpha_quarters: int = 2, scale: int = 1_000_000,
                       group_col: str = "source") -> DataFrame:
    """Temperature-flattened mixture allocation — the multilingual /
    multi-source sampling trick (mBERT, XLM-R, PaLM data mixing):
    sample group g proportionally to ``n_g^α`` with ``α < 1`` so
    head sources are damped and tail sources up-weighted, here with a
    FIXED global budget apportioned by largest remainder over
    quantized weights.

    Bit-portability: α is restricted to quarters (k/4, k = 1..4) so
    ``n^α`` is a composition of IEEE ``sqrt`` (correctly rounded by
    spec — the ONLY portable transcendental; general ``pow`` is not)
    and one exact multiply: n^¼ = sqrt(sqrt n), n^¾ = sqrt·sqrt∘sqrt.
    Weights quantize as ``w_g = floor(scale · n_g^α)``; the Hamilton
    seats ``base = (budget·w) DIV W``, leftovers by largest
    ``(budget·w) MOD W`` (ties by group name). The seat products run
    in DECIMAL(38,0) — int64 would wrap silently under non-ANSI mode
    once ``budget·w`` passes ~9·10¹⁸, and even in-range longs lose
    exactness above 2⁵³ through the double division — so the
    allocation replays bit-identically on any engine for any budget·W
    within DECIMAL(38)'s range (~10³⁸, beyond any real corpus).

    Scale: ONE bounded hash-agg (G rows); the apportionment runs in
    windows over the G-row frame — no corpus-scale work at all.

    Returns one row per group: ``(group, n, w_e6, alloc)``.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    if not 1 <= alpha_quarters <= 4:
        raise ValueError(
            f"alpha_quarters must be in 1..4, got {alpha_quarters}"
        )
    nd = F.col("n").cast("double")
    r2 = F.sqrt(nd)
    r4 = F.sqrt(r2)
    powmap = {1: r4, 2: r2, 3: r2 * r4, 4: nd}
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    weights = counts.select(
        group_col, "n",
        F.floor(F.lit(scale) * powmap[alpha_quarters])
        .cast("long").alias("w_e6"),
    )
    wall = Window.partitionBy()
    q = F.lit(budget).cast("decimal(19,0)") * F.col("w_e6").cast(
        "decimal(19,0)"
    )
    tot = F.sum(F.col("w_e6").cast("decimal(19,0)")).over(wall)
    alloc = weights.select(
        group_col, "n", "w_e6",
        ((q - q % tot) / tot).cast("long").alias("_base"),
        (q % tot).alias("_rem"),
    )
    w_rem = Window.orderBy(F.col("_rem").desc(), F.col(group_col).asc())
    return alloc.select(
        group_col, "n", "w_e6",
        (
            F.col("_base")
            + (
                F.row_number().over(w_rem)
                <= F.lit(budget) - F.sum("_base").over(wall)
            ).cast("long")
        ).alias("alloc"),
    )


def first_seen_novelty(docs: DataFrame, n: int = 2, scale: int = 1_000_000,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document content novelty by FIRST OCCURRENCE: the fraction
    of a document's distinct n-grams whose global first appearance
    (min id) is this document — the marginal-contribution curve a
    corpus build reads to decide when another crawl dump stops adding
    anything ("novelty decay"). Near-1 = fresh content; near-0 = the
    corpus already said all of it.

    Shape: distinct grams per doc explode once; first occurrence is an
    order-free ``min(id)`` hash-agg keyed by gram (map-side
    combinable); per-doc novel counts come from THAT G-row result —
    no gram-grain join back to the corpus. The only doc-grain join is
    doc-cardinality left-join of the two count tables. Novelty is
    quantized ``floor(scale · novel / distinct)`` in exact integer
    arithmetic.

    Returns every document: ``(id, n_distinct, n_novel, novelty_e6)``.
    """
    # Grams enter the gram-keyed exchange as int64 xxhash64 FINGERPRINTS,
    # not ~20-byte strings (guide §2.3 "narrower types", the q31 trick):
    # novelty needs only gram IDENTITY (distinct-count per doc, min(id)
    # per gram), never gram values, so fingerprints are exact up to
    # 64-bit collisions (~2⁻⁶⁴ per gram pair — the same documented
    # contract as ngram_jaccard_pairs). Hashing BEFORE array_distinct
    # also makes the in-row dedup an int64 comparison instead of a
    # string comparison, and the map-side hash-agg keys on 8 bytes.
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    T.word_ngrams(F.col(text_col), n),
                    lambda g: F.xxhash64(g),
                )
            )
        ).alias("__g"),
    )
    nd = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_distinct"))
    first = grams.groupBy("__g").agg(F.min(id_col).alias("__first"))
    nv = first.groupBy(F.col("__first").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    num = F.lit(scale) * F.col("n_novel")
    return (
        nd.join(nv, id_col, "left")
        .na.fill({"n_novel": 0})
        .select(
            id_col, "n_distinct", "n_novel",
            ((num - num % F.col("n_distinct")) / F.col("n_distinct"))
            .cast("long").alias("novelty_e6"),
        )
    )


def gopher_repetition(docs: DataFrame, scale: int = 1_000_000,
                      top2_max_e6: int = 200_000,
                      dup3_max_e6: int = 600_000,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Within-document repetition quality signals (the Gopher/MassiveText
    repetition-removal rules, Rae et al. 2021 §A1.1, adapted to token
    fractions): the share of a document's bigram occurrences taken by
    its single most frequent bigram, and the share of trigram
    occurrences whose trigram appears more than once. Boilerplate,
    keyword-stuffed, and generation-loop text light up both; organic
    prose stays low. ``keep`` applies the two thresholds.

    Grams follow the corpus-wide ``word_ngrams`` convention (documents
    shorter than ``n`` tokens collapse to one whole-text gram — such a
    doc has a 100% top-gram share and is rejected, matching Gopher's
    separate minimum-length rule). Shares are exact integer
    ``floor(scale·part/whole)``.

    Shape: ONE explode of tagged bigram+trigram streams into one
    hash-agg keyed (doc, n, gram) — cardinality ≤ 2× corpus token
    count, map-side combinable — then a doc-grain conditional rollup.
    No joins, no windows; the plan is two agg stages over one shuffle
    each and survives any corpus size.
    """
    g2 = docs.select(
        F.col(id_col), F.lit(2).alias("__n"),
        F.explode(T.word_ngrams(F.col(text_col), 2)).alias("__g"),
    )
    g3 = docs.select(
        F.col(id_col), F.lit(3).alias("__n"),
        F.explode(T.word_ngrams(F.col(text_col), 3)).alias("__g"),
    )
    c = (
        g2.unionByName(g3)
        .groupBy(id_col, "__n", "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    is2 = F.col("__n") == 2
    is3 = F.col("__n") == 3
    cc = F.col("__c")
    per = c.groupBy(id_col).agg(
        F.sum(F.when(is2, cc).otherwise(F.lit(0))).alias("n_bigrams"),
        F.max(F.when(is2, cc)).alias("top_bigram_n"),
        F.sum(F.when(is3, cc).otherwise(F.lit(0))).alias("n_trigrams"),
        F.sum(F.when(is3 & (cc >= 2), cc).otherwise(F.lit(0))).alias(
            "dup_trigram_n"
        ),
    )

    def _share(part, whole):
        num = F.lit(scale) * part
        return ((num - num % whole) / whole).cast("long")

    return per.select(
        id_col, "n_bigrams", "top_bigram_n",
        _share(F.col("top_bigram_n"), F.col("n_bigrams")).alias(
            "top_share_e6"
        ),
        "n_trigrams", "dup_trigram_n",
        _share(F.col("dup_trigram_n"), F.col("n_trigrams")).alias(
            "dup_share_e6"
        ),
    ).withColumn(
        "keep",
        (F.col("top_share_e6") <= F.lit(top2_max_e6))
        & (F.col("dup_share_e6") <= F.lit(dup3_max_e6)),
    )


def char_entropy(docs: DataFrame, scale: int = 1_000_000,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document character-level Shannon entropy (nats, ×10⁶) — the
    compression-proxy quality signal: near-zero entropy is repeated
    filler or padding, unusually high entropy is hash spam / minified
    blobs, organic text sits in a mid band. Whitespace is excluded so
    the signal reads content, not formatting.

    Exactness across engines: with per-char counts c and total N,
    H = ln N − (Σ c·ln c)/N. Each ``ln`` term is quantized FIRST —
    R(c) = round(scale·ln c) as int64 — and everything after is exact
    integer arithmetic (Σ c·R(c), then a floor division by N), so the
    non-associativity of float summation can never straddle engines.
    A 1-ulp cross-engine difference in ``ln`` itself cannot flip the
    rounding: the closest any round(scale·ln c) input for c ≤ 3·10⁵
    comes to a .5 boundary is 3.6·10⁻⁷ (unit-scanned), ~100× the ulp.

    Shape: one hash-agg keyed (doc, char) — cardinality ≤ docs ×
    alphabet — then a doc-grain rollup; map-side combinable, no joins.
    """
    ch = docs.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(r"\S"), 0)
        ).alias("__ch"),
    )
    c = ch.groupBy(id_col, "__ch").agg(F.count(F.lit(1)).alias("__c"))

    def _rln(col):
        return F.round(F.log(col.cast("double")) * F.lit(float(scale)),
                       0).cast("long")

    per = c.groupBy(id_col).agg(
        F.sum("__c").alias("n_chars_ns"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(_rln(F.col("__c")) * F.col("__c")).alias("sum_clnc_e6"),
    )
    n = F.col("n_chars_ns")
    s = F.col("sum_clnc_e6")
    return per.select(
        id_col, "n_chars_ns", "n_distinct_chars", "sum_clnc_e6",
        (_rln(n) - ((s - s % n) / n).cast("long")).alias("entropy_e6"),
    )
