"""Deduplication operators for training-data pipelines.

Five families, each DataFrame-in/DataFrame-out with a 100 TB posture
(hash-partitioned shuffles only, candidate generation before any pairwise
work, no driver-side collection):

  * exact            — sha256 grouping, one shuffle on the digest;
  * n-gram Jaccard   — shingle-inverted-index self-join: only pairs
                       sharing a shingle are ever materialized;
  * MinHash + LSH    — signature (16 perms) → banded buckets → candidate
                       pairs → exact-Jaccard verify. The scale path: at
                       100 TB the bucket join replaces the O(n²) pair space
                       with collisions only;
  * SimHash          — 32-bit sign-aggregated fingerprint, hamming ≤ k
                       within LSH-style bit-band blocks;
  * embedding cosine — blocked (label or LSH bucket) pairwise cosine.

Hashing: MinHash/SimHash use the md5-derived int64 of functions/text.py —
portable, so the oracle can replay the exact signatures. The Jaccard and
shared-span operators (r6) shingle via Arrow-batched blake2b+NumPy
fingerprints instead — their outputs are COUNTS (|A∩B|, n_i, n_j), which
the string-shingling oracle reproduces exactly, while the engine never
builds shingle strings or shuffles them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from bloomy_etl_spark.session import pin

from bloomy_etl_spark.functions.sqltext import ident
from bloomy_etl_spark.functions.text import md5_int, tokens, word_shingles
from bloomy_etl_spark.functions.vectors import dot, norm, normalize

MERSENNE = 2147483647  # 2^31 - 1

# in-row pair construction is capped at this many members; larger (hot)
# buckets switch to the chunked distributed path
BUCKET_PAIR_CAP = 64
# upper limit on the tasks the chunked path spreads its chunk-pair rows
# over. One row is at most cap² pairs (4,096 at the default cap), far less
# work than Spark's per-task scheduling, and every map task writes one
# shuffle-index entry per task while the driver tracks each one; past a
# few thousand tasks more of them only add that overhead. Up to this many
# rows there is one task per row (hot buckets of up to ~5,700 members at
# the default cap); above it rows share tasks (bound in bucket_pairs).
BUCKET_PAIR_MAX_TASKS = 4096


def bucket_pairs(buckets: DataFrame, cap: int = BUCKET_PAIR_CAP,
                 carry: tuple[str, ...] = ()) -> DataFrame:
    """All i<j member pairs for each bucket row (column ``ms``: a sorted
    array of members — plain ids or structs ordered by id). Columns named
    in ``carry`` are passed through to the output unchanged (e.g. the
    bucket key, so callers can dedupe multi-block collisions in-row).

    Small buckets (≤ ``cap``) expand in-row: one flatten/transform builds
    C(n,2) pair structs inside the row. Hot buckets — the skew reality of
    LSH blocking at scale (a stop-shingle band, a dominant SimHash block
    that can hold most of the corpus) — would build a single C(n,2) array
    in a single task that way, so they are chunked instead: the member
    array is cut into k = ceil(n/cap) slices, every (chunk_i ≤ chunk_j)
    slice pair becomes its own row (k(k+1)/2 per bucket), and each row
    expands to ≤ cap² pairs in-row. The chunk-pair rows are spread by a
    round-robin repartition into R = min(n, ``BUCKET_PAIR_MAX_TASKS``)
    tasks, where n = Σ k(k+1)/2 over the buckets with more than ``cap``
    members, so the task count follows the hot buckets, not the cluster's
    core count. Sizing it costs one job: ``buckets`` is pinned eagerly,
    and n is a single-row integer aggregate observed by that same pinning
    job; the expansion reads the pin, so the caller's lineage runs once.
    The pin must be eager: a lazy checkpoint publishes every
    ``Observation`` upstream of it (this count, ``ngram_jaccard_pairs``'
    dropped-shingle count) with empty metrics before anything has run.

    Round-robin deals each input partition's rows to consecutive tasks,
    so a task receives at most ceil(n/R) rows from each input partition:
    per-task pair work is at most (input partitions that hold hot
    buckets) × ceil(n/R) × cap². Up to ``BUCKET_PAIR_MAX_TASKS`` rows that
    is one row per task and (input partitions that hold hot buckets) ×
    cap², whatever the bucket sizes; above it the per-task work grows
    with n/R instead of the task count (a 10⁶-member bucket at cap 64 is
    ≈1.2·10⁸ rows, ≈3·10⁴ per task). No salted self-join, no driver-side
    pair work.

    Returns columns ``a``, ``b`` with a < b in member sort order.
    """
    ms = F.col("ms")

    def combos(arr):
        return F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(arr, i + 2, F.size(arr)),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )

    k = F.ceil(F.size(ms) / cap).cast("int")
    hot_k = F.when(F.size(ms) > cap, k.cast("long"))
    sizing = Observation()
    buckets = pin(buckets.observe(
        sizing, F.sum(hot_k * (hot_k + 1)).alias("k_k1")
    ))
    # k(k+1) is always even, so the halving stays exact
    n_chunk_pairs = (sizing.get["k_k1"] or 0) // 2

    small = buckets.filter(F.size(ms) <= cap).select(
        *carry, F.explode(combos(ms)).alias("p")
    )
    chunk_rows = F.flatten(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda ci: F.transform(
                F.sequence(ci, k - 1),
                lambda cj: F.struct(
                    F.slice(ms, ci * cap + 1, cap).alias("ma"),
                    F.slice(ms, cj * cap + 1, cap).alias("mb"),
                    (ci == cj).alias("same"),
                ),
            ),
        )
    )
    big = (
        buckets.filter(F.size(ms) > cap)
        .select(*carry, F.explode(chunk_rows).alias("c"))
        .repartition(min(max(1, n_chunk_pairs), BUCKET_PAIR_MAX_TASKS))
    )
    ma, mb = F.col("c.ma"), F.col("c.mb")
    # chunks come from one sorted array: same-chunk → combinations,
    # ci<cj cross-chunk → full cross product (every ma member < every mb)
    cross = F.flatten(
        F.transform(
            ma, lambda x: F.transform(mb, lambda y: F.struct(x.alias("a"), y.alias("b")))
        )
    )
    big_pairs = big.select(
        *carry,
        F.explode(F.when(F.col("c.same"), combos(ma)).otherwise(cross)).alias("p"),
    )
    return small.unionByName(big_pairs).select(*carry, "p.a", "p.b")


def perm_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic MinHash permutation coefficients (a odd, b spread)."""
    return [(2 * j + 1, (1000003 * j) % MERSENNE) for j in range(num_perm)]


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by content digest; one row per distinct content with the
    canonical (min) id and multiplicity. ``n_copies > 1`` are duplicates."""
    return (
        docs.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# shingle inverted index + exact Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        max_doc_freq: int | None = None,
                        dropped_obs=None) -> DataFrame:
    """Exact Jaccard over n-word shingles for every pair sharing ≥1 shingle.

    |A∩B| via the inverted index grouped per shingle: posting lists →
    i<j pair generation (skew-safe bucket_pairs) → pair-count aggregate —
    one shuffle keyed by shingle, one by pair, no posting-list self-join.
    |A∪B| by inclusion-exclusion: each posting member carries its doc's
    shingle count (computed in-row before the explode), so pairs arrive
    with (n_i, n_j) attached and no per-doc sizes table or join exists.
    Non-overlapping pairs are never materialized, which is what makes
    this viable beyond toy scale.

    ``max_doc_freq`` is the stop-shingle cap, the knob that makes this
    operator survive a real corpus: a shingle appearing in > cap docs is
    dropped from the inverted index BEFORE pairing, so no posting list can
    generate more than C(cap, 2) pairs. Even with bucket_pairs chunking,
    an uncapped stop-shingle ("in the of") posting of size m still emits
    ~C(m,2)/cap² chunk rows — at 100 TB that single shingle dominates the
    whole job. With the cap, worst-case pair volume is
    |shingles| · C(cap,2), independent of document count skew. The cost:
    dropped shingles no longer contribute to |A∩B| (|A∪B| via the per-doc
    counts is unaffected), so reported Jaccard is a lower bound for pairs
    that shared a dropped shingle — the standard stop-shingle tradeoff,
    and exactly how production MinHash/Jaccard dedup is run. Default
    ``None`` (no cap) keeps oracle parity; pass a pyspark ``Observation``
    as ``dropped_obs`` to count dropped shingles without a second job
    (it is filled before this function returns, by ``bucket_pairs``'
    eager pin of the postings, which the query then reads).
    """
    # Shingles enter the exchange as int64 FINGERPRINTS from the same
    # Arrow-batched pass as shared_span_pairs (r6): blake2b per UNIQUE
    # token via pd.factorize + a vectorized sliding-window combine.
    # (In-JVM md5_int per shingle was A/B-measured earlier and LOST —
    # ~1M md5 evaluations cost what the narrower shuffle saved; the
    # batched path hashes each token once and builds no shingle strings
    # at all, so it wins on both compute AND shuffle width.) Jaccard
    # only needs COUNTS (|A∩B|, n_i, n_j), never shingle values, so
    # fingerprints are exact up to 64-bit collisions (~2⁻⁶⁴/pair).
    # ``n_sh`` rides along in-row from the same pass.
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    id_field = docs.schema[id_col]
    idx = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(
        _span_fingerprint_batches(n, with_counts=True),
        StructType([
            StructField("doc_id", id_field.dataType),
            StructField("n_sh", IntegerType()),
            StructField("span", LongType()),
        ]),
    ).withColumnRenamed("span", "shingle")
    postings = (
        idx.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("doc_id"), F.col("n_sh")))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    if max_doc_freq is not None:
        if dropped_obs is not None:
            postings = postings.observe(
                dropped_obs,
                F.sum(
                    (F.size("ms") > max_doc_freq).cast("long")
                ).alias("dropped_shingles"),
            )
        postings = postings.filter(F.size("ms") <= max_doc_freq)
    inter = (
        bucket_pairs(postings)
        .groupBy(
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
            F.col("a.n_sh").alias("n_i"),
            F.col("b.n_sh").alias("n_j"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_i") + F.col("n_j") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def prefix_jaccard_join(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        cap: int = BUCKET_PAIR_CAP) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al., WWW'07): lossless, unlike
    :func:`ngram_jaccard_pairs`'s stop-shingle cap, which trades missed
    pairs for bounded postings.

    The filter: order every doc's shingle set by one GLOBAL total order
    (df asc, shingle asc — rarest first, the canonical choice); two sets
    with Jaccard ≥ t MUST share an element inside each one's first
    ``|S| − ⌈t·|S|⌉ + 1`` elements, so only those PREFIX tokens enter
    the inverted index. At t=0.8 that is ~20% of the postings volume,
    and the guarantee holds under ANY shared total order — the
    fingerprint order used here and the oracle's string order generate
    different candidate sets but the identical verified output.

    Phases (all bounded):
      1. one fingerprint pass (shared with ngram_jaccard_pairs);
      2. df counts: one hash-agg keyed by shingle;
      3. prefix selection: one row_number window keyed by doc;
      4. candidates: prefix postings → skew-safe ``bucket_pairs`` →
         distinct pairs, pruned by the length condition
         ``min(n_i,n_j) ≥ t·max(n_i,n_j)`` (necessary for J ≥ t);
      5. verify: candidates join the per-doc shingle arrays (point
         lookups by doc id) and exact ``|A∩B|`` comes from one in-row
         ``array_intersect`` — pair work is O(candidates), never
         O(all shared-token pairs).
    """
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    id_field = docs.schema[id_col]
    idx = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(
        _span_fingerprint_batches(n, with_counts=True),
        StructType([
            StructField("doc_id", id_field.dataType),
            StructField("n_sh", IntegerType()),
            StructField("span", LongType()),
        ]),
    ).withColumnRenamed("span", "shingle")
    idx = pin(idx, eager=False)  # three consumers: df, prefix, verify

    dfreq = idx.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    plen = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).cast("int")
    prefix = (
        idx.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= plen)
    )
    postings = (
        prefix.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("doc_id"), F.col("n_sh")))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    cand = (
        bucket_pairs(postings, cap=cap)
        .select(
            F.col("a.doc_id").alias("i"), F.col("b.doc_id").alias("j"),
            F.col("a.n_sh").alias("n_i"), F.col("b.n_sh").alias("n_j"),
        )
        .filter(
            F.least("n_i", "n_j").cast("double")
            >= F.lit(threshold) * F.greatest("n_i", "n_j")
        )
        .distinct()
    )
    sets = idx.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("shingle")).alias("sh")
    )
    return (
        cand.join(
            sets.select(F.col("doc_id").alias("i"), F.col("sh").alias("sh_i")),
            "i",
        )
        .join(
            sets.select(F.col("doc_id").alias("j"), F.col("sh").alias("sh_j")),
            "j",
        )
        .withColumn("n_inter", F.size(F.array_intersect("sh_i", "sh_j")))
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_i") + F.col("n_j") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def _span_fingerprint_batches(span: int, with_counts: bool = False):
    """Arrow-batched span fingerprinting for :func:`shared_span_pairs`
    and :func:`ngram_jaccard_pairs`.

    Returns a ``mapInPandas`` generator mapping (doc_id, text) batches to
    one (doc_id, span:int64) row per DISTINCT ``span``-token window;
    ``with_counts=True`` adds ``n_sh`` (the doc's distinct-window count,
    constant across the doc's rows) — the |A∪B| ingredient Jaccard needs,
    attached in-row so no per-doc sizes table or join ever exists.

    Determinism contract (required for cross-partition agreement — two
    copies of a passage land in different tasks and must fingerprint
    identically): token hash = first 8 bytes of blake2b(token), window
    combine = Σ_k mult_k·h(tok_{i+k}) mod 2⁶⁴ with fixed odd positional
    multipliers, then a murmur-style avalanche. No dependence on
    PYTHONHASHSEED, batch order, or partitioning. Position-distinct
    multipliers keep the combine order-sensitive (token swaps change the
    fingerprint); the pre-avalanche linearity is irrelevant for corpus
    dedup (non-adversarial input).

    Tokenization is an ASCII ``[ \\t\\n\\r\\f\\v]+`` regex split —
    byte-identical to the Java-regex ``\\s+`` split the string-shingle
    expression path uses AND to the DuckDB oracle's RE2
    ``string_split_regex(text, '\\s+')``, including their leading/
    trailing EMPTY-token artifacts and their ASCII-only whitespace
    classes (NBSP stays inside tokens in all three engines; Python
    ``str.split()`` would disagree on all of those, silently skewing
    per-doc counts against the oracle). Docs shorter than ``span``
    tokens fold to ONE whole-doc fingerprint (the word_ngrams fallback
    semantic); ``re.split`` always yields ≥ 1 token, so every doc emits
    at least one fingerprint (two empty docs pair, as in the oracle).
    """

    def gen(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        ws_re = re.compile(r"[ \t\n\r\f\v]+")
        m64 = (1 << 64) - 1
        mult = np.uint64(0x9E3779B97F4A7C15)
        mults = np.array(
            [((0x9E3779B97F4A7C15 * (k + 1)) & m64) | 1 for k in range(span)],
            dtype=np.uint64,
        )

        def h64(tok: str) -> np.uint64:
            return np.frombuffer(
                hashlib.blake2b(tok.encode(), digest_size=8).digest(),
                dtype=np.uint64,
            )[0]

        imult = np.uint64(0x9E3779B97F4A7C15)
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            n = len(ids)
            if n == 0:
                out = {"doc_id": pdf["doc_id"].iloc[:0]}
                if with_counts:
                    out["n_sh"] = pd.Series([], dtype="int32")
                out["span"] = pd.Series([], dtype="int64")
                yield pd.DataFrame(out)
                continue
            toks_per_doc = pdf["text"].fillna("").map(ws_re.split)
            flat = [t for ts in toks_per_doc for t in ts]
            # re.split yields >= 1 token per doc, so flat is non-empty
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uh = np.fromiter(
                (h64(u) for u in uniques),
                dtype=np.uint64,
                count=len(uniques),
            )
            th = uh[codes]
            lens = toks_per_doc.str.len().to_numpy()
            offs = np.concatenate(([0], np.cumsum(lens)))
            # Whole-batch window fold (one sliding view over the
            # concatenated token hashes; windows that straddle a doc
            # boundary are masked out) instead of a per-doc Python
            # loop — the loop's ~130 µs/doc of NumPy call overhead was
            # 78% of the pass at sf0.1 (guide §4.2: batch the native
            # work). Arithmetic is unchanged op for op, so every
            # fingerprint is bit-identical to the per-doc fold.
            total = int(offs[-1])
            if total >= span:
                w = sliding_window_view(th, span)
                fps_all = (w * mults).sum(axis=1, dtype=np.uint64)
                fps_all ^= fps_all >> np.uint64(33)
                fps_all *= mult
                fps_all ^= fps_all >> np.uint64(29)
                starts = np.arange(total - span + 1)
                doc_of = np.repeat(np.arange(n), lens)
                d_long = doc_of[starts]
                keepw = starts + span <= offs[d_long + 1]
                fps_long = fps_all[keepw]
                d_long = d_long[keepw]
            else:
                fps_long = np.empty(0, dtype=np.uint64)
                d_long = np.empty(0, dtype=np.int64)
            short = np.flatnonzero(lens < span)
            if len(short):
                # Horner fold for < span-token docs, vectorized ACROSS
                # the short docs (≤ span−1 masked steps). uint64
                # vector ops wrap silently — same mod-2⁶⁴ values the
                # old masked-Python-int fold produced.
                sl = lens[short]
                so = offs[short]
                accs = th[so].copy()
                for kstep in range(1, int(sl.max())):
                    msk = sl > kstep
                    accs[msk] = accs[msk] * imult + th[so[msk] + kstep]
                d_all = np.concatenate([d_long, short])
                fps_v = np.concatenate([fps_long, accs])
            else:
                d_all, fps_v = d_long, fps_long
            # per-doc sorted distinct, docs in batch order — exactly
            # the rows (and row order) of the old per-doc np.unique
            order = np.lexsort((fps_v, d_all))
            ds = d_all[order]
            fs = fps_v[order]
            keep = np.ones(len(ds), dtype=bool)
            keep[1:] = (ds[1:] != ds[:-1]) | (fs[1:] != fs[:-1])
            ds = ds[keep]
            fs = fs[keep]
            counts = np.bincount(ds, minlength=n)
            out = {"doc_id": np.repeat(ids, counts)}
            if with_counts:
                out["n_sh"] = np.repeat(counts.astype(np.int32), counts)
            out["span"] = fs.view(np.int64)
            yield pd.DataFrame(out)

    return gen


def shared_span_pairs(docs: DataFrame, span: int = 8, min_spans: int = 1,
                      text_col: str = "text", id_col: str = "doc_id",
                      max_doc_freq: int | None = None) -> DataFrame:
    """Exact shared-substring dedup (the Lee et al. "Deduplicating
    Training Data Makes Language Models Better" signal): flag document
    pairs that share at least ``min_spans`` DISTINCT verbatim windows of
    ``span`` consecutive tokens. Unlike Jaccard similarity, one long
    copied passage is enough — a news article quoting a boilerplate
    paragraph inside otherwise-unique text is caught here and invisible
    to a 0.8-Jaccard gate.

    Same inverted-index discipline as :func:`ngram_jaccard_pairs`
    (posting lists per span, skew-safe :func:`bucket_pairs` expansion,
    no posting-list self-join, non-sharing pairs never materialized);
    ``max_doc_freq`` is the stop-span cap for boilerplate windows that
    would otherwise dominate pair volume at corpus scale. Output:
    ``(i, j, n_shared)`` with i < j, n_shared = count of distinct shared
    span types.

    Shape note: a two-phase variant (count spans first, broadcast-semi-
    join the duplicated ones, collect postings only for survivors) was
    A/B-measured at sf0.1 and LOST ~1.7× — the second shingling pass
    costs more than the narrower shuffle saves while shingle compute
    dominates. It becomes the right trade only when shuffle bytes
    dominate compute (very wide corpora with cheap shingles); flip there.

    Fingerprint note (r6 perf rework): spans enter the exchange as int64
    FINGERPRINTS, never as strings — the shuffle key was ~50-byte
    8-token strings before, and building those strings (7 progressive
    ``concat_ws`` passes per gram) dominated the whole query (measured
    ~2s of a 2.4s sf0.1 run; the HOF-expression rewrite still paid
    ~780ns/element on the interpreted lambda path). The fingerprints are
    computed in ONE Arrow-batched ``mapInPandas`` pass
    (:func:`_span_fingerprint_batches`): blake2b-8 per *unique* token in
    the batch (``pd.factorize`` dedups tokenization work), then a
    vectorized sliding-window positional-multiplier combine + avalanche
    in NumPy — measured 2.7× faster end-to-end than the best pure-
    expression plan and pair-identical on the sf0.1 corpus.
    ``n_shared`` counts distinct shared span *fingerprints*; a false
    pair needs two distinct spans in the same doc pair to collide in 64
    bits (~2⁻⁶⁴ per span pair — negligible at any corpus size; for
    provable exactness re-verify survivors against doc text as
    verify_jaccard_pairs does for LSH).
    """
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = docs.schema[id_col]
    out_schema = StructType([
        StructField("doc_id", id_field.dataType),
        StructField("span", LongType()),
    ])
    idx = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(_span_fingerprint_batches(span), out_schema)
    postings = (
        idx.groupBy("span")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    if max_doc_freq is not None:
        postings = postings.filter(F.size("ms") <= max_doc_freq)
    return (
        bucket_pairs(postings)
        .groupBy(F.col("a").alias("i"), F.col("b").alias("j"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_spans)
    )


def _winnow_fp_batches(k: int, window: int):
    """Arrow-batched winnowed fingerprinting for
    :func:`winnow_fingerprint_pairs`: maps (doc_id, text) batches to one
    (doc_id, fp:int64) row per DISTINCT selected fingerprint.

    Hashes are ENGINE-PORTABLE by construction — the selection (a min
    over hash values) must replay in the SQL oracle, so each k-token
    gram hashes to the first 8 bytes of its md5 read big-endian: the
    uint64 order used here is exactly the lexicographic order of the
    16-hex-char prefix DuckDB's ``list_min`` compares. (blake2b, the
    cheaper fingerprint of :func:`_span_fingerprint_batches`, is fine
    there because only COUNTS leave that operator; here the hash ORDER
    decides which grams survive, so both engines must rank identically.)

    Tokenization matches the shared contract documented on
    :func:`_span_fingerprint_batches` (ASCII ``\\s+`` split, empty-token
    artifacts preserved, < k tokens folds to one whole-doc gram); docs
    with fewer than ``window`` grams select their single minimal hash.
    """

    def gen(batches):
        import hashlib
        import re

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        ws_re = re.compile(r"[ \t\n\r\f\v]+")

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            n = len(ids)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"].iloc[:0],
                        "fp": pd.Series([], dtype="int64"),
                    }
                )
                continue
            # Gram strings and their md5s stay per gram (the hash ORDER
            # is the oracle contract, and grams are near-unique so a
            # factorize dedup does not pay); the window-min selection
            # and per-doc distinct below are whole-batch vectorized
            # (guide §4.2) — one sliding view over the concatenated
            # gram hashes with doc-boundary masking, then one lexsort
            # dedup, replacing the per-doc NumPy loop. Selection
            # arithmetic is unchanged, so every fingerprint (and the
            # emitted row order) is bit-identical.
            grams_per_doc = [
                [" ".join(ts[i:i + k]) for i in range(len(ts) - k + 1)]
                if len(ts) >= k else [" ".join(ts)]
                for ts in pdf["text"].fillna("").map(ws_re.split)
            ]
            hs_all = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.md5(g.encode("utf-8")).digest()[:8],
                        "big",
                    )
                    for gs in grams_per_doc
                    for g in gs
                ),
                dtype=np.uint64,
            )
            glens = np.array([len(gs) for gs in grams_per_doc])
            goffs = np.concatenate(([0], np.cumsum(glens)))
            total = int(goffs[-1])
            if total >= window:
                sel_all = sliding_window_view(hs_all, window).min(axis=1)
                starts = np.arange(total - window + 1)
                doc_of = np.repeat(np.arange(n), glens)
                d_long = doc_of[starts]
                keepw = starts + window <= goffs[d_long + 1]
                sel_long = sel_all[keepw]
                d_long = d_long[keepw]
            else:
                sel_long = np.empty(0, dtype=np.uint64)
                d_long = np.empty(0, dtype=np.int64)
            short = np.flatnonzero(glens < window)
            if len(short):
                mins = np.array(
                    [hs_all[goffs[i]:goffs[i + 1]].min() for i in short],
                    dtype=np.uint64,
                )
                d_all = np.concatenate([d_long, short])
                sel_v = np.concatenate([sel_long, mins])
            else:
                d_all, sel_v = d_long, sel_long
            order = np.lexsort((sel_v, d_all))
            ds = d_all[order]
            fs = sel_v[order]
            keep = np.ones(len(ds), dtype=bool)
            keep[1:] = (ds[1:] != ds[:-1]) | (fs[1:] != fs[:-1])
            ds = ds[keep]
            fs = fs[keep]
            counts = np.bincount(ds, minlength=n)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, counts),
                    "fp": fs.view(np.int64),
                }
            )

    return gen


def winnow_fingerprint_pairs(docs: DataFrame, k: int = 5, window: int = 4,
                             min_shared: int = 1, text_col: str = "text",
                             id_col: str = "doc_id",
                             max_doc_freq: int | None = None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03 — the MOSS algorithm): hash every ``k``-token gram, slide
    a ``window``-gram window, keep each window's MINIMUM hash, and pair
    documents sharing ≥ ``min_shared`` distinct selected fingerprints.

    The winnowing guarantee: any verbatim passage of at least
    ``k + window − 1`` tokens shared by two documents yields at least
    one shared selected fingerprint — the same catch contract as
    :func:`shared_span_pairs` at span = k+window−1, but the inverted
    index holds only ~2/(window+1) of the gram positions (before the
    per-doc distinct), so postings, shuffle, and bucket volume shrink by
    the winnowing density factor while copied-passage recall is
    preserved. That sub-sampling is what makes span-level dedup
    affordable at 100 TB; the trade is that ``n_shared`` counts selected
    fingerprints, not all shared windows (rank by it, don't ratio it).

    Scale shape is identical to :func:`shared_span_pairs`: one Arrow
    fingerprint pass (no gram strings ever shuffle — only the int64
    selections), posting lists per fingerprint, skew-safe
    :func:`bucket_pairs` expansion, ``max_doc_freq`` stop-fingerprint
    cap for boilerplate. Output ``(i, j, n_shared)`` with i < j.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = docs.schema[id_col]
    out_schema = StructType([
        StructField("doc_id", id_field.dataType),
        StructField("fp", LongType()),
    ])
    idx = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).mapInPandas(_winnow_fp_batches(k, window), out_schema)
    postings = (
        idx.groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    if max_doc_freq is not None:
        postings = postings.filter(F.size("ms") <= max_doc_freq)
    return (
        bucket_pairs(postings)
        .groupBy(F.col("a").alias("i"), F.col("b").alias("j"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame, num_perm: int = 16, n: int = 3,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature ``sig`` (array<bigint>, ``sig[j]`` = min
    over shingles of (a_j·h + b_j) mod 2³¹−1), computed entirely in-row
    as ONE fold: hash the shingle array once, then a single ``aggregate``
    pass carries all num_perm running minima in its accumulator
    (``zip_with`` of the minima array against the coefficient array).

    Why one fold instead of num_perm ``array_min`` columns: Catalyst
    inlines single-use projections, so 16 separate min columns become 16
    full passes over the hashed-shingle array (and in downstream banding
    each pass is duplicated again). A single array-typed expression is
    referenced — not recomputed — downstream, because the optimizer's
    CollapseProject guard never duplicates a non-cheap expression with
    multiple uses.

    No explode, no groupBy — signature extraction pipelines with the scan
    (zero shuffles at any corpus size)."""
    hashes = F.transform(word_shingles(F.col(text_col), n), lambda s: md5_int(s))
    params = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in perm_coeffs(num_perm)
        ]
    )
    init = F.array_repeat(F.lit(MERSENNE).cast("bigint"), num_perm)
    sig = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc, params, lambda m, p: F.least(m, (p["a"] * h + p["b"]) % MERSENNE)
        ),
    )
    return docs.select(F.col(id_col).alias("doc_id"), sig.alias("sig"))


def stacked_bands(signatures: DataFrame, bands: int = 4,
                  rows: int = 4) -> DataFrame:
    """One row per (doc, band): (doc_id, band_idx, sig) where ``sig``
    concatenates the band's ``rows`` minhashes — the LSH bucket key."""
    def band_key(b):
        return F.concat_ws(
            "_", *[F.col("sig")[b * rows + r] for r in range(rows)]
        )

    return signatures.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_idx"), band_key(b).alias("sig"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(
        "doc_id", F.col("bk.band_idx").alias("band_idx"), F.col("bk.sig").alias("sig")
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4, rows: int = 4) -> DataFrame:
    """Band the signature and bucket: docs agreeing on all ``rows``
    minhashes of any band become a candidate pair. Collision probability
    for true Jaccard J is 1-(1-J^rows)^bands.

    Pairs are generated bucket-locally: groupBy (band, signature) →
    sorted member list → in-row i<j combinations. One shuffle keyed by
    bucket, no self-join — pair cost is Σ C(|bucket|,2), the LSH invariant
    that holds at any corpus size (bucket width is tuned by bands/rows,
    not data volume)."""
    stacked = stacked_bands(signatures, bands, rows)
    buckets = (
        stacked.groupBy("band_idx", "sig")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    return (
        bucket_pairs(buckets)
        .select(F.col("a").alias("i"), F.col("b").alias("j"))
        .distinct()
    )


def minhash_near_dups(docs: DataFrame, num_perm: int = 16, n: int = 3,
                      bands: int = 4, rows: int = 4, threshold: float = 0.8,
                      text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    exact-Jaccard verification of the candidates ONLY.

    Verification joins each candidate pair to the two docs' shingle
    arrays and intersects in-row (array_intersect) — no pairwise shuffle,
    cost O(|candidates| · shingles). This is the property that makes the
    operator viable at 100 TB: work scales with LSH collisions, never
    with n².

    The shingle arrays are built only for docs that appear in a candidate
    pair (broadcast semi-join before the shingling projection): each
    verify branch re-scans the corpus but re-shingles only the candidate
    sliver — at scale the scan is column-pruned to (id, text) and the
    expensive text work is proportional to |candidates|."""
    sigs = minhash_signatures(docs, num_perm, n, text_col, id_col)
    cands = lsh_candidate_pairs(sigs, bands, rows)
    return verify_jaccard_pairs(docs, cands, n, threshold, text_col, id_col)


def verify_jaccard_pairs(docs: DataFrame, cands: DataFrame, n: int = 3,
                         threshold: float = 0.8, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Exact-Jaccard verification of a narrow (i, j) candidate list
    against the docs table; returns pairs meeting ``threshold``.

    Shingles are built only for docs appearing in a candidate (broadcast
    semi-join before the shingling projection). Broadcast ONLY the narrow
    (i, j) candidate list — never a row set carrying shingle arrays. The
    first join broadcasts cands into the sh_i table; the second join keys
    the two shingle-bearing sides on j and is left to the planner/AQE
    (hash join on j at scale). A dup storm then costs a bounded shuffle,
    not candidate-count × shingle-array bytes through the driver
    (VERDICT r02 item 4)."""
    cand_ids = cands.select(
        F.explode(F.array("i", "j")).alias("cand_id")
    ).distinct()
    sets = docs.join(
        F.broadcast(cand_ids), docs[id_col] == F.col("cand_id"), "left_semi"
    ).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), n).alias("shingles"),
    )
    si = sets.select(F.col("doc_id").alias("i"), F.col("shingles").alias("sh_i"))
    sj = sets.select(F.col("doc_id").alias("j"), F.col("shingles").alias("sh_j"))
    n_inter = F.size(F.array_intersect(F.col("sh_i"), F.col("sh_j")))
    jaccard = n_inter / (F.size("sh_i") + F.size("sh_j") - n_inter)
    enriched = si.join(F.broadcast(cands), "i")
    return (
        enriched.join(sj, "j")
        .withColumn("jaccard", jaccard)
        .filter(F.col("jaccard") >= threshold)
        .select("i", "j", "jaccard")
    )


def incremental_near_dups(new_docs: DataFrame, history_docs: DataFrame,
                          history_sigs: DataFrame, num_perm: int = 16,
                          n: int = 3, bands: int = 4, rows: int = 4,
                          threshold: float = 0.8, text_col: str = "text",
                          id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Daily-ingest dedup: near-dup pairs of a NEW batch against an
    already-deduped corpus, using the corpus's STORED MinHash signatures
    (``history_sigs``: doc_id, sig — the output of
    :func:`minhash_signatures`, persisted at prior ingests).

    Returns ``(pairs, new_sigs)``: verified pairs where at least one side
    is a new document, and the new batch's signatures to append to the
    store. Pairs between two history docs are by definition already
    resolved and are never recomputed.

    Scale shape — the reason this exists: re-running full-corpus dedup
    per ingest is O(corpus) every day. Here the corpus pays only
    (a) a band-key probe — the new batch's band keys are SMALL (batch ×
    bands rows) and broadcast, so the history signature table is scanned
    once and never shuffled — and (b) shingling of just the history docs
    that collide with a new doc (the candidate sliver, via the verify
    helper's semi-join). Everything else is proportional to the batch.
    ``history_docs`` supplies text for verification only; at rest it is
    the same corpus table the signatures index."""
    # Lazy checkpoint: the batch signatures feed the band probe, the
    # within-batch candidate pass, AND the caller's append to the
    # signature store — without it each consumer re-runs the shingle +
    # num_perm-way MinHash fold over the batch text. Batch-proportional,
    # so safe to materialize at any corpus size.
    new_sigs = pin(minhash_signatures(
        new_docs, num_perm, n, text_col, id_col
    ), eager=False)
    new_bands = stacked_bands(new_sigs, bands, rows)
    hist_bands = stacked_bands(history_sigs, bands, rows)
    # history probes the broadcast new-batch band keys; emit (i<j) pairs
    probe = new_bands.select(
        "band_idx", "sig", F.col("doc_id").alias("new_id")
    )
    cross = (
        hist_bands.join(F.broadcast(probe), ["band_idx", "sig"])
        .select(
            F.least(F.col("doc_id"), F.col("new_id")).alias("i"),
            F.greatest(F.col("doc_id"), F.col("new_id")).alias("j"),
        )
        .filter(F.col("i") != F.col("j"))
        .distinct()
    )
    within = lsh_candidate_pairs(new_sigs, bands, rows)
    cands = cross.unionByName(within).distinct()
    all_docs = history_docs.select(id_col, text_col).unionByName(
        new_docs.select(id_col, text_col)
    )
    pairs = verify_jaccard_pairs(all_docs, cands, n, threshold, text_col, id_col)
    return pairs, new_sigs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, bits: int = 32, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Per-doc SimHash: bit b is set iff Σ_words (±1 on word-hash bit b) > 0.
    Distinct words weighted once (matches the SQL oracle).

    Computed entirely in-row: hash the distinct-word array once, then per
    bit count set-bits with a ``filter`` fold — sum(±1) > 0 ⟺
    2·count_set > n_words. A pure projection pipelined with the scan
    (zero shuffles); the explode + 32-conditional-sum groupBy it replaces
    recomputed the md5 inside every aggregate expression. (An
    array-accumulator ``aggregate``/``zip_with`` single fold was measured
    ~4x SLOWER — nested higher-order lambdas fall out of codegen and
    allocate a fresh counts array per word.)"""
    hashes = F.transform(
        F.array_distinct(tokens(F.lower(F.col(text_col)))), lambda w: md5_int(w)
    )
    row = docs.select(
        F.col(id_col).alias("doc_id"), hashes.alias("hs"), F.size(hashes).alias("n")
    )
    # one SQL string over the projected hs/n columns: built fluently the
    # 32-bit fold cost ~150 py4j round trips per bit
    fingerprint = " + ".join(
        f"(CASE WHEN size(filter(hs, h -> (shiftright(h, {b}) & 1) = 1)) * 2 > n "
        f"THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    )
    return row.select("doc_id", F.expr(fingerprint).alias("simhash"))


def simhash_block_layout(bits: int, n_blocks: int) -> list[tuple[int, int]]:
    """(bit_offset, width) for each of ``n_blocks`` near-even blocks
    covering ``bits`` — the Manku-style partition whose pigeonhole
    guarantee (pairs with hamming ≤ n_blocks−1 agree on ≥1 block) is the
    exhaustiveness proof for :func:`simhash_near_dups`."""
    base, rem = divmod(bits, n_blocks)
    widths = [base + 1] * rem + [base] * (n_blocks - rem)
    layout, off = [], 0
    for w in widths:
        layout.append((off, w))
        off += w
    return layout


def _simhash_layout(bits: int, max_hamming: int, n_blocks: int | None) -> list[tuple[int, int]]:
    n_blocks = max_hamming + 1 if n_blocks is None else n_blocks
    if n_blocks <= max_hamming:
        raise ValueError(
            f"pigeonhole requires n_blocks > max_hamming "
            f"(got n_blocks={n_blocks}, max_hamming={max_hamming}): "
            f"pairs whose differing bits span all blocks would be dropped"
        )
    if n_blocks > bits:
        raise ValueError(f"n_blocks={n_blocks} exceeds bits={bits}")
    return simhash_block_layout(bits, n_blocks)


def simhash_groups(docs: DataFrame, bits: int = 32, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Collapse docs to distinct fingerprints: (simhash, members sorted,
    n). Exact-duplicate collapse BEFORE near-dup pairing is the Manku trick
    that keeps blocked SimHash viable on real corpora — duplicate-heavy
    data (the common case that motivates dedup in the first place) would
    otherwise multiply every bucket's C(n,2) by the dup factor squared."""
    fps = simhash(docs, bits, text_col, id_col)
    return fps.groupBy("simhash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members"),
        F.count(F.lit(1)).alias("n"),
    )


def simhash_fp_pairs(groups: DataFrame, bits: int = 32, max_hamming: int = 6,
                     n_blocks: int | None = None) -> DataFrame:
    """Distinct-fingerprint pairs with 1 ≤ hamming ≤ max_hamming, via
    Manku-style exhaustive blocking: split the fingerprint into
    ``n_blocks`` (default ``max_hamming + 1``) near-even bit blocks; a
    pair with hamming ≤ max_hamming has fewer differing bits than blocks,
    so by pigeonhole it agrees EXACTLY on ≥1 block — the bucket join is
    exhaustive (no recall loss) while avoiding the O(n²) pair space.
    ``n_blocks > max_hamming`` is asserted, never assumed.

    The candidate stream is pure int64 fingerprint pairs — the dominant
    intermediate at scale stays narrow; member lists are joined back only
    after the hamming filter (see :func:`simhash_near_dups`)."""
    layout = _simhash_layout(bits, max_hamming, n_blocks)

    def blk(c: Column, k: int) -> Column:
        off, w = layout[k]
        return F.shiftright(c, off).bitwiseAND((1 << w) - 1)

    blocks = groups.select(
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(k).alias("block_idx"),
                    blk(F.col("simhash"), k).alias("block"),
                )
                for k in range(len(layout))
            ])
        ).alias("bk"),
    ).select("simhash", F.col("bk.block_idx").alias("block_idx"), F.col("bk.block").alias("block"))
    # bucket-local pair generation via the skew-safe hybrid. SimHash blocks
    # are the canonical hot-bucket case — a common narrow block value can
    # hold much of the corpus, which is exactly what bucket_pairs chunks.
    buckets = (
        blocks.groupBy("block_idx", "block")
        .agg(F.array_sort(F.collect_set("simhash")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = bucket_pairs(buckets, carry=("block_idx",)).select(
        "block_idx", F.col("a").alias("sh_i"), F.col("b").alias("sh_j")
    )
    # A pair agreeing on several blocks collides once per block; keep only
    # the FIRST agreeing block — decidable in-row from the two fingerprints
    # (for every earlier block the bit slices must differ) — so no
    # distinct() shuffle over the raw pair stream ever happens. At corpus
    # scale that stream is the dominant intermediate (Σ C(|bucket|,2) rows).
    first_match = F.lit(True)
    for k in range(len(layout)):
        first_match = first_match & (
            (F.lit(k) >= F.col("block_idx")) | (blk(F.col("sh_i"), k) != blk(F.col("sh_j"), k))
        )
    hamming = F.bit_count(F.col("sh_i").bitwiseXOR(F.col("sh_j")))
    return (
        pairs.filter(first_match)
        .select("sh_i", "sh_j", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dups(docs: DataFrame, bits: int = 32, max_hamming: int = 6,
                      n_blocks: int | None = None, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Doc-level hamming ≤ max_hamming pairs (i < j), exhaustive.

    Three stages, each scale-shaped: (1) collapse to distinct fingerprints
    (:func:`simhash_groups`); (2) blocked fingerprint-pair generation over
    int64s only (:func:`simhash_fp_pairs`); (3) join member lists back to
    the surviving pairs and expand — cross-fingerprint pairs have the
    pair's hamming, same-fingerprint groups contribute their C(n,2)
    hamming-0 pairs via the skew-safe bucket_pairs path. The doc-pair
    output is ground truth (brute-force equality is pytest-asserted); the
    expansion IS the result size, not an intermediate."""
    # r9: pin the fingerprint groups — the fp_pairs consumer prunes
    # members/n, which makes its aggregate subtree differ from the
    # gi/gj/within consumers' and defeats exchange reuse, so without the
    # pin the WHOLE simhash text pass (tokenize + per-word md5 + 32 bit
    # folds over every document) ran twice from two parquet scans. The
    # pinned table is the narrow fingerprint proxy (simhash, member ids,
    # n — no text), built once and read by all four consumers
    # (guide §2.4/§8: compute the decision proxy once).
    groups = pin(simhash_groups(docs, bits, text_col, id_col), eager=False)
    fp_pairs = simhash_fp_pairs(groups, bits, max_hamming, n_blocks)
    gi = groups.select(F.col("simhash").alias("sh_i"), F.col("members").alias("m_i"))
    gj = groups.select(F.col("simhash").alias("sh_j"), F.col("members").alias("m_j"))
    cross = (
        fp_pairs.join(gi, "sh_i")
        .join(gj, "sh_j")
        .select(F.explode("m_i").alias("x"), "m_j", "hamming")
        .select("x", F.explode("m_j").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("i"),
            F.greatest("x", "y").alias("j"),
            "hamming",
        )
    )
    within = bucket_pairs(
        groups.filter(F.col("n") > 1).select(F.col("members").alias("ms"))
    ).select(
        F.col("a").alias("i"), F.col("b").alias("j"), F.lit(0).cast("bigint").alias("hamming")
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_near_dups(embs: DataFrame, threshold: float = 0.4,
                        block_col: str | None = "label", id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        exact_cosine: bool = True,
                        lsh_bits: int = 4, lsh_tables: int = 16,
                        dim: int = 64) -> DataFrame:
    """Blocked pairwise cosine: only pairs within the same block are
    compared.

    ``block_col`` names any coarse cluster column (the oracle-checked q34
    path uses ``label``, which DuckDB can reproduce exactly). Passing
    ``block_col=None`` switches to the REAL scale path: random-hyperplane
    LSH buckets (``similarity._bucket_sql``) — each vector lands in one
    bucket per hash table, pairs are generated per (table, bucket), and
    multi-table collisions collapse with a scalar groupBy. Within-block
    all-pairs on a low-cardinality label column is quadratic in block
    size; LSH bucket width is tuned by ``lsh_bits``, independent of corpus
    size, so pair volume stays Σ C(|bucket|,2) with small buckets. Recall
    vs the exhaustive result is probabilistic (a pair at cosine s collides
    in one table with p = (1 - acos(s)/π)^bits) and is measured in
    tests/test_multimodal.py — 0.86 on the sf0.01 fixture at the defaults
    (uniform random vectors, the weak-signal regime; true near-dups at
    cos ≥ 0.9 collide with far higher probability).

    ``exact_cosine=True`` (default, the oracle-checked path) evaluates
    dot(a,b)/(‖a‖·‖b‖) — bit-identical float accumulation to the DuckDB
    oracle's formula, so pairs sitting exactly on the threshold or a
    rounding boundary cannot flip between engines. The norms are
    precomputed per VECTOR before the join (a norm is a deterministic
    function of one vector, so na·nb is the same float either way) — 2n
    norm evaluations instead of 2·|pairs|. ``exact_cosine=False`` is the
    cheaper variant: unit-normalize *before* the join so per-pair cost is
    a single dot product."""
    from bloomy_etl_spark.operators.similarity import stacked_lsh_buckets

    prepped = F.col(vec_col) if exact_cosine else normalize(F.col(vec_col))
    extra = [norm(F.col(vec_col)).alias("_nm")] if exact_cosine else []
    if block_col is not None:
        blk = F.struct(F.lit(0).alias("t"), F.col(block_col).alias("bucket"))
        block_src = embs.select(
            F.col(id_col).alias("_id"), blk.alias("blk"), prepped.alias("_nv"), *extra
        )
    else:
        # shared bucket derivation with lsh_topk — one definition, no drift
        stacked = stacked_lsh_buckets(ident(vec_col), lsh_tables, lsh_bits, dim)
        block_src = embs.select(
            F.col(id_col).alias("_id"), stacked.alias("blk"), prepped.alias("_nv"), *extra
        )
    a = block_src.select(
        F.col("_id").alias("i"), "blk", F.col("_nv").alias("va"),
        *([F.col("_nm").alias("_na")] if exact_cosine else []),
    )
    b = block_src.select(
        F.col("_id").alias("j"), "blk", F.col("_nv").alias("vb"),
        *([F.col("_nm").alias("_nb")] if exact_cosine else []),
    )
    sim = (
        dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
        if exact_cosine
        else dot(F.col("va"), F.col("vb"))
    )
    pairs = (
        a.join(b, "blk")
        .filter(F.col("i") < F.col("j"))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("i", "j", "cos_sim")
    )
    if block_col is not None:
        return pairs
    # multi-table collisions: a pair sharing buckets in several hash tables
    # appears once per table — collapse by key (scalar agg; cos_sim is the
    # same value from any table, max is just the collapse)
    return pairs.groupBy("i", "j").agg(F.max("cos_sim").alias("cos_sim"))


# ---------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over a pair graph)
# ---------------------------------------------------------------------------

def connected_components(pairs: DataFrame, i_col: str = "i", j_col: str = "j",
                         rounds: int = 3, converge: bool = False,
                         max_iter: int = 20) -> DataFrame:
    """Resolve near-dup PAIRS into clusters: (node, label) where label is
    the minimum doc id reachable through the pair graph — the canonical
    "keep one representative per duplicate cluster" step that completes a
    dedup pipeline (pairs alone don't tell you which docs to drop).

    Min-label propagation: each round every node takes the minimum of its
    own label and its neighbors' labels. Two modes:

      * ``converge=False`` (default): a FIXED number of rounds as one lazy
        plan — no driver actions, so the operator composes like any other
        DataFrame transform and benchmarks honestly. ``rounds`` bounds the
        reachable distance: labels are exact for any component whose
        min-id node is within ``rounds`` hops of every member. Near-dup
        graphs are clique-like (every member pairs with every other), so
        rounds=3 is exact for them by a wide margin; tests assert
        fixture-wide convergence by comparing rounds vs rounds+1.
      * ``converge=True``: iterate until no label changes (bounded by
        ``max_iter``), localCheckpoint-ing each round to truncate lineage.
        One count() action per round — the standard driver-orchestrated
        iterative shape.

    Scale: each round is one shuffle-join (labels keyed by node) plus one
    min-aggregate; edge skew (a hub node) salts naturally through the
    partial aggregate. At extreme graph scale the two-phase
    large-star/small-star variant halves round count to O(log n); for
    dedup graphs (small dense cliques) plain propagation converges in 1–2
    rounds and avoids the extra edge rewrites."""
    edges = pairs.select(F.col(i_col).alias("a"), F.col(j_col).alias("b")).unionByName(
        pairs.select(F.col(j_col).alias("a"), F.col(i_col).alias("b"))
    )
    # Collapse the (potentially expensive) pair-producing DAG into a
    # per-node adjacency table FIRST. Every round references the graph
    # again, and without this boundary each reference re-executes the
    # upstream pair pipeline's post-shuffle tail; after the adjacency
    # groupBy, Spark's ReuseExchange serves every round from the same
    # shuffle output and the re-executed tail is one row per node
    # (measured 5.3s → 2.4s on the q42 shape at sf0.1, rounds=3).
    # Symmetric edges mean every pair member appears as a key, so the
    # adjacency table doubles as the node set for label init.
    #
    # LAZY checkpoint (eager=False): iterative plans reference the
    # adjacency 2+rounds times, and ReuseExchange only dedupes the
    # exchange itself — each nested BroadcastExchange above it re-runs
    # the post-shuffle tail and pays a sequential broadcast build per
    # round (measured: rounds=3 lazy plan 4.2s vs 1.7s checkpointed on
    # the q42 shape at sf0.1). The lazy checkpoint truncates the plan at
    # the adjacency while deferring ALL compute to the first action, so
    # the operator still composes with no driver work at build time. On
    # a multi-executor cluster you would swap this for a reliable
    # `checkpoint()` (localCheckpoint loses partitions on executor
    # failure); the iteration structure is identical.
    adj = edges.groupBy("a").agg(F.collect_list("b").alias("nbrs"))
    adj = pin(adj, eager=False)
    # Self-loop folded into the adjacency: min over (self + neighbors)
    # equals the union-with-own-label formulation but references the
    # labels table ONCE per round. A `lbl.union(nbr(lbl))` step doubles
    # the labels lineage every round (2^rounds plan branches); this form
    # grows the plan linearly — one join + one aggregate per round.
    flat = adj.select(
        "a", F.explode(F.concat(F.array("a"), F.col("nbrs"))).alias("b")
    )
    labels = adj.select(F.col("a").alias("node"), F.col("a").alias("label"))

    def step(lbl: DataFrame) -> DataFrame:
        return (
            flat.join(lbl, flat["b"] == lbl["node"])
            .groupBy(flat["a"].alias("node"))
            .agg(F.min("label").alias("label"))
        )

    if not converge:
        for _ in range(rounds):
            labels = step(labels)
        return labels

    labels = pin(labels, eager=True)
    for _ in range(max_iter):
        new = pin(step(labels), eager=True)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        # The old round's checkpoint blocks are dead once `changed` is
        # computed, but there is no safe eager release from PySpark:
        # localCheckpoint persists at the RDD level (outside the
        # CacheManager, so Dataset.unpersist() is a no-op on it), and
        # `df.rdd` wraps a *fresh* deserialization RDD, not the persisted
        # internal one. The ContextCleaner frees the blocks after the old
        # Dataset is GC'd — dropping our only reference here (labels =
        # new) is exactly what makes that happen; with bounded max_iter
        # the worst-case transient is max_iter small (node,label) frames.
        labels = new
        if changed == 0:
            break
    return labels


def dedup_clusters(pairs: DataFrame, i_col: str = "i", j_col: str = "j",
                   rounds: int = 3) -> DataFrame:
    """Cluster summary over a near-dup pair graph: one row per duplicate
    cluster — (cluster_id = min member id, n_docs, max_doc). Docs outside
    any pair are implicitly their own singleton cluster and are omitted."""
    labels = connected_components(pairs, i_col, j_col, rounds=rounds)
    return labels.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").alias("max_doc"),
    )


def keep_best_per_cluster(labels: DataFrame, docs: DataFrame,
                          quality_col: str,
                          id_col: str = "doc_id") -> DataFrame:
    """Survivorship UPGRADE over min-id: per duplicate cluster keep the
    member with the highest ``quality_col``, ties to the lower id —
    production dedup keeps the BEST copy (longest, cleanest, most
    recent), not the accidentally-lowest-id one; min-id survivorship
    silently prefers whatever was crawled first.

    ``labels`` is :func:`connected_components` output (node, label);
    ``docs`` supplies ``(id, quality)`` where quality is an EXACT
    (integer or integer-scaled) metric so the arg-max replays
    bit-identically. Returns one row per cluster:
    ``(cluster_id, kept_id, kept_<quality_col>, n_docs)``.

    Scale: one broadcast-or-shuffle join of the (small) clustered-node
    set against the docs' (id, quality) projection, then ONE hash-agg
    keyed by label. The arg-max is a ``max(struct(quality, -id))`` —
    struct ordering compares fields left-to-right, so the max is the
    highest quality with ties to the LOWEST id, exactly the window
    ``row_number() over (order by quality desc, id asc) = 1`` it
    replaces (r10, guide §2.3 "aggregate before you shuffle"): the
    window shape shuffled EVERY cluster member to its label partition
    and sorted it; the aggregate is map-side combinable, so the
    exchange carries one partial row per (label, map partition) and no
    sort exists. Requires a numeric (integer) id — negation is the
    order-flip — which the exact-quality contract above already
    implies; a pathological giant cluster now costs one combiner cell
    instead of serializing its members through one window partition.
    Any other id type raises ``TypeError`` rather than come back as a
    silent ``kept_id = NULL`` (what a string id did).
    """
    id_type = docs.schema[id_col].dataType
    if not isinstance(id_type, IntegralType):
        raise TypeError(
            f"keep_best_per_cluster: id_col {id_col!r} is "
            f"{id_type.simpleString()}; the arg-max negates the id, so it "
            "must be an integral type (tinyint, smallint, int or bigint)"
        )
    members = labels.join(
        docs.select(F.col(id_col).alias("node"), quality_col), "node"
    )
    best = members.groupBy("label").agg(
        F.max(
            F.struct(
                F.col(quality_col).alias("q"), (-F.col("node")).alias("nid")
            )
        ).alias("__m"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return best.select(
        F.col("label").alias("cluster_id"),
        (-F.col("__m.nid")).alias("kept_id"),
        F.col("__m.q").alias(f"kept_{quality_col}"),
        "n_docs",
    )
