"""Streaming corpus ingestion with incremental near-dup detection.

The daily-ingest loop, expressed as ONE Structured Streaming query: each
micro-batch of new documents is deduplicated against the accumulated
corpus using the STORED MinHash signatures
(:func:`bloomy_etl_spark.operators.dedup.incremental_near_dups`), then
the batch's documents and signatures are appended to the store. The
reference's batched imperative ingest (``/root/reference/core/
pipeline.py:98-124``) maps to the same shape: a replayable source,
per-batch processing, durable state between batches.

Why ``foreachBatch`` rather than a stateful operator: the dedup state
(signature store) must outlive the streaming query, be shared with batch
jobs, and be readable by the next day's run — a parquet table IS that
state. ``applyInPandasWithState`` state is checkpoint-private and
per-key; the signature store is corpus-global.

Scale: each batch pays batch-proportional work (see
``incremental_near_dups`` — the history side is probed via a broadcast
of the batch's band keys and never shuffles). The store grows as an
append-only parquet table; compact it periodically with
:func:`bloomy_etl_spark.sinks.layout.compact`.

Delivery semantics: foreachBatch is at-least-once on retry — a batch
that fails mid-append can leave partial files. The ``batch_id`` column
written with ALL THREE durable appends (pairs, corpus, signatures) makes
replays detectable and reversible (delete-by-batch_id before re-append,
or dedup on read); a transactional table format slots in at the writer
without changing the flow.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bloomy_etl_spark.session import pin

from bloomy_etl_spark.operators.dedup import incremental_near_dups, minhash_signatures


def _read_or_empty(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Read a parquet state table, or an empty frame with ``like``'s
    schema before the first batch has created it.

    ONLY the path-missing analysis error is absorbed — a corrupt footer,
    permission failure, or listing error must fail the batch loudly
    (silently deduping against an empty history would admit known
    duplicates and never record it)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return spark.createDataFrame([], like.schema)
        raise


def streaming_dedup_ingest(
    docs_stream: DataFrame,
    corpus_dir: str,
    sig_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    drop_dups: bool = False,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Attach the dedup-ingest loop to a streaming document source and
    return the started ``StreamingQuery``.

    Per micro-batch:

    1. near-dup pairs of (batch ∪ batch×corpus) are found via the stored
       signatures — within-batch pairs included, so a burst of mutual
       duplicates in one batch is caught;
    2. pairs are appended to ``pairs_dir`` (with ``batch_id``);
    3. the batch's signatures and documents are appended to ``sig_dir`` /
       ``corpus_dir``. With ``drop_dups=True`` a batch doc that matched
       the EXISTING corpus is not admitted (its signature is withheld
       too); first-arrival wins, the pair row records the evidence.
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = pin(batch.select(id_col, text_col), eager=True)
        corpus = _read_or_empty(spark, corpus_dir, batch)
        sig_like = minhash_signatures(batch.limit(0))
        sigs = _read_or_empty(spark, sig_dir, sig_like)
        pairs, new_sigs = incremental_near_dups(
            batch, corpus, sigs, threshold=threshold,
            text_col=text_col, id_col=id_col,
        )
        pairs = pin(pairs, eager=True)  # one computation, used twice
        pairs.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            pairs_dir
        )
        admitted = batch
        admitted_sigs = new_sigs
        if drop_dups:
            # a batch doc loses only to the EXISTING corpus (not to a
            # same-batch sibling, where both are first arrivals)
            corpus_ids = corpus.select(F.col(id_col).alias("_cid"))
            dup_side = (
                pairs.join(corpus_ids, pairs["i"] == F.col("_cid"), "left_semi")
                .select(F.col("j").alias(id_col))
                .union(
                    pairs.join(corpus_ids, pairs["j"] == F.col("_cid"), "left_semi")
                    .select(F.col("i").alias(id_col))
                )
                .distinct()
            )
            admitted = batch.join(dup_side, id_col, "left_anti")
            admitted_sigs = new_sigs.join(dup_side, id_col, "left_anti")
        # batch_id rides every durable append so an at-least-once replay
        # is detectable and reversible (delete-by-batch_id) in ALL three
        # state tables, not just the pair log.
        admitted.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(corpus_dir)
        # reuse the checkpointed batch signatures (incremental_near_dups
        # computed them once); recomputing minhash here would double the
        # per-batch shingle+hash cost.
        admitted_sigs.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sig_dir)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _order_mtimes(out_dir: str) -> None:
    """Bump part-file mtimes in name (= range-slice) order: the file
    stream source orders batches by modification time, and one parquet
    write's N part files can share an mtime — tie order is arbitrary,
    which would silently break the monotone-arrival contracts the
    order-sensitive ingest tests (SemDeDup, EWMA, funnel) assume."""
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    base = os.stat(parts[0]).st_mtime if parts else 0
    for i, pth in enumerate(parts):
        os.utime(pth, (base + i, base + i))


def replay_docs_dir(spark: SparkSession, sf_dir: str, out_dir: str,
                    n_files: int = 4) -> str:
    """Materialize the ``documents`` fixture as ``n_files`` id-ordered
    parquet files so a file-source stream replays it as ``n_files``
    deterministic micro-batches (the documents analogue of
    ``sources.replay_dir``)."""
    from bloomy_etl_spark.sources.tables import load_table

    (
        load_table(spark, sf_dir, "documents")
        .repartitionByRange(n_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _order_mtimes(out_dir)
    return out_dir


def read_docs_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a directory written by
    :func:`replay_docs_dir`."""
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def replay_embs_dir(spark: SparkSession, sf_dir: str, out_dir: str,
                    n_files: int = 4) -> str:
    """Materialize the ``embeddings`` fixture as ``n_files`` id-ordered
    parquet files — the embeddings analogue of :func:`replay_docs_dir`
    (monotone vec_id ranges across micro-batches, which is exactly the
    arrival order :func:`streaming_semdedup_ingest`'s batch-equivalence
    contract assumes)."""
    from bloomy_etl_spark.sources.tables import load_table

    (
        load_table(spark, sf_dir, "embeddings")
        .repartitionByRange(n_files, "vec_id")
        .sortWithinPartitions("vec_id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _order_mtimes(out_dir)
    return out_dir


def streaming_semdedup_ingest(
    embs_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Stream embeddings through SemDeDup against a persisted store and
    return the started ``StreamingQuery`` — the semantic sibling of
    :func:`streaming_dedup_ingest`, under the frozen-model contract of
    :func:`streaming_ivfpq_ingest` (``centroids`` never retrain;
    rebuild on distribution drift).

    Per micro-batch: assign against the frozen centroids, unit-normalize
    (cosine = dot, the batch operator's exact math), find lower-id
    witnesses WITHIN the batch (the skew-safe ``bucket_pairs`` expansion)
    and AGAINST the store (store scan + broadcast of the small batch —
    the history never reshuffles, mirroring ``incremental_near_dups``),
    then append every batch row to ``store_dir`` with its ``kept`` flag.

    The store keeps dropped rows too — deliberately: batch
    ``semantic_dedup`` drops any id with a lower-id near neighbor
    REGARDLESS of whether that witness itself survived (the chain shape
    a–b–c drops both b and c), so an already-dropped stored vector must
    still witness-drop later arrivals.

    Equivalence contract: when ids arrive monotonically across batches
    (the :func:`replay_embs_dir` shape), the final store's
    (id, cluster, kept) EQUALS a single batch ``semantic_dedup`` of the
    union under the same centroids — bit-identical cosines, tested in
    ``tests/test_streaming.py``. Out-of-order arrivals fall back to
    first-arrival-wins: an earlier-arriving HIGHER id cannot be
    retro-dropped by a later lower-id near-dup (its row is already
    durable); the later arrival is evaluated against everything stored.

    Delivery: at-least-once on retry; ``batch_id`` rides every append so
    replays are detectable and reversible (delete-by-batch_id), as in
    the other ingest loops."""
    from bloomy_etl_spark.functions.vectors import dot, normalize
    from bloomy_etl_spark.operators.clustering import assign_clusters
    from bloomy_etl_spark.operators.semdedup import _pairs_from_assigned

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # referenced by the in-batch pair stage (3×), the history probe,
        # and the final spine — pin so the k·d argmin runs once
        assigned = pin(
            assign_clusters(
                batch.select(id_col, vec_col), centroids, id_col, vec_col
            ).select(
                id_col, normalize(F.col(vec_col)).alias(vec_col), "cluster"
            ),
            eager=True,
        )
        like = (
            assigned.limit(0)
            .withColumn("kept", F.lit(True))
            .withColumn("batch_id", F.lit(0).cast("long"))
        )
        hist = _read_or_empty(spark, store_dir, like)
        # within-batch lower-id witnesses (cap²-bounded hot clusters)
        wdrops = _pairs_from_assigned(
            assigned, threshold, id_col, vec_col, normalized=True
        ).select(F.col("j").alias("_drop"))
        # history witnesses: store rows are ALWAYS lower-id under the
        # monotone contract, but the guard keeps out-of-order arrivals
        # at first-arrival-wins instead of silently wrong
        probe = assigned.select(
            F.col(id_col).alias("_bid"), F.col(vec_col).alias("_bv"),
            "cluster",
        )
        hdrops = (
            hist.join(F.broadcast(probe), "cluster")
            .filter(F.col(id_col) < F.col("_bid"))
            .filter(dot(F.col(vec_col), F.col("_bv")) >= threshold)
            .select(F.col("_bid").alias("_drop"))
        )
        drops = wdrops.union(hdrops).distinct()
        (
            assigned.join(
                drops, assigned[id_col] == drops["_drop"], "left"
            )
            .select(
                id_col, vec_col, "cluster",
                F.col("_drop").isNull().alias("kept"),
            )
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(store_dir)
        )

    return (
        embs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_semdedup_store(spark: SparkSession, store_dir: str,
                        id_col: str = "vec_id") -> DataFrame:
    """Collapse at-least-once replays in a :func:`streaming_semdedup_
    ingest` store: one row per id, FIRST batch wins. A replayed batch's
    rows are identical by determinism (same assignment, same witnesses),
    so which duplicate survives within a batch_id is immaterial; an
    out-of-order duplicate id landing in a LATER batch is superseded by
    its first durable row — the first-arrival-wins contract the writer
    documents. Readers of the store should come through here (the CMS/
    HLL stores have the same reader discipline); the equivalence
    contract ("store ≡ one batch semantic_dedup of the union") is
    stated over THIS collapsed view."""
    s = spark.read.parquet(store_dir)
    w = Window.partitionBy(id_col).orderBy("batch_id")
    return (
        s.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def streaming_ivfpq_ingest(
    embs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Stream new embeddings into a PERSISTED IVF-PQ index and return
    the started ``StreamingQuery``.

    Each micro-batch is assigned and PQ-encoded against the index's
    FROZEN coarse quantizer and codebooks
    (:func:`bloomy_etl_spark.operators.pq.add_to_ivfpq_index`) and
    appended into exactly the cluster partitions it lands in — vectors
    become searchable the moment their batch commits, and the final
    index equals a batch add of the same vectors (which in turn equals
    a from-scratch encode under the same frozen model; both
    equivalences are tested). The index must already exist — streaming
    never retrains; rebuild when distribution drift warrants, exactly
    the IVF ingest contract.

    Delivery: at-least-once on retry like the dedup ingest — a replayed
    batch appends its code rows twice. Ids are the caller's dedup
    contract (duplicate ids = duplicate candidates, still correct top-k
    by id tie-break); a transactional table format slots in at the
    writer for exactly-once.
    """
    from bloomy_etl_spark.operators.pq import add_to_ivfpq_index

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        add_to_ivfpq_index(batch, index_dir, id_col=id_col,
                           vec_col=vec_col)

    return (
        embs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_cms_ingest(
    items_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    item_col: str,
    depth: int = 4,
    width: int = 256,
):
    """Streaming heavy-hitter sketching: fold every micro-batch into a
    durable Count-Min store and return the started ``StreamingQuery``.

    CMS cells are ADDITIVE, so the streaming contract is trivial to
    state and test: the store read back with :func:`read_cms_store`
    equals ``sketches.cms_build`` over the union of all batches,
    cell-for-cell. Each batch appends its own d·w-bounded cell DELTA
    tagged with ``batch_id`` (never rewrites history), so an
    at-least-once replay is detectable and the read side collapses it
    (duplicate (batch_id, row, bucket) rows are identical by
    determinism of the sketch — the reader keeps one).

    Scale: per-batch work is one bounded hash-agg (≤ d·w cells out);
    the store grows by ≤ d·w rows per batch and compacts by rewriting
    the grouped read — the sketch never exceeds d·w cells merged.
    """
    from bloomy_etl_spark.operators.sketches import cms_build

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        delta = cms_build(
            batch.select(item_col), item_col, depth=depth, width=width
        )
        delta.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sketch_dir)

    return (
        items_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cms_store(spark: SparkSession, sketch_dir: str) -> DataFrame:
    """Collapse the per-batch CMS deltas into one sketch:
    (row, bucket, cnt). Replayed appends (same batch_id) are identical
    by construction, so ``max`` per (batch_id, cell) keeps exactly one
    before the cross-batch sum."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy("batch_id", "row", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def streaming_hll_ingest(
    items_stream: DataFrame,
    sketch_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    item_col: str,
    m: int = 64,
):
    """Streaming distinct-count sketching into a durable portable-HLL
    register store (``sketches.hll_registers``); returns the started
    ``StreamingQuery``.

    Even simpler than the CMS contract: registers merge by MAX, which is
    idempotent as well as associative/commutative — an at-least-once
    replay of a batch is a NO-OP under the reader's bucket-wise max, no
    batch_id bookkeeping or delta collapsing needed. The store read back
    with :func:`read_hll_store` equals ``hll_registers`` over the union
    of all batches bit-for-bit (the register monoid's slice-merge ≡
    one-shot law, unit-proven batch-side in
    ``tests/test_r5_operators.py::TestHllRegisters``).

    Scale: per-batch work is one bounded hash-agg (≤ m rows per group
    out); the store grows by ≤ m·groups rows per batch and the grouped
    read compacts it — rewrite the store from :func:`read_hll_store`
    whenever batch count makes the read-side max worth collapsing.
    """
    from bloomy_etl_spark.operators.sketches import hll_registers

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        delta = hll_registers(
            batch.select(*keys, item_col), keys, item_col, m=m
        )
        delta.write.mode("append").parquet(sketch_dir)

    return (
        items_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_hll_store(spark: SparkSession, sketch_dir: str,
                   keys: list[str]) -> DataFrame:
    """Collapse the per-batch register deltas into one register table
    (keys…, bucket, r) by bucket-wise max — idempotent, so replayed or
    duplicated batch appends change nothing."""
    return (
        spark.read.parquet(sketch_dir)
        .groupBy(*keys, "bucket")
        .agg(F.max("r").cast("int").alias("r"))
    )


def streaming_dsir_ingest(
    docs_stream: DataFrame,
    weights: DataFrame,
    score_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming DSIR quality scoring: score every micro-batch of
    documents against a FROZEN importance model
    (:func:`bloomy_etl_spark.operators.corpus.dsir_weights` — train
    once on the reference corpus, then rank arriving data forever) and
    append ``(id, n_grams, score, batch_id)`` to a durable store.

    Because the model is frozen and per-document scores are exact
    integers with no cross-document state, the streaming contract is
    exact: the store equals batch :func:`dsir_score` over the union of
    all batches, row-for-row, in ANY arrival order (unlike the
    SemDeDup ingest, which needs monotone ids). An at-least-once
    replay re-appends identical rows tagged with the same ``batch_id``;
    :func:`read_dsir_store` collapses them.

    Scale: per-batch work is one in-row scoring pass against the
    broadcast O(B) weight row — no shuffle at all; the store grows by
    |batch| rows per batch.
    """
    from bloomy_etl_spark.operators.corpus import dsir_score

    w = pin(weights)  # freeze: one tiny row, never re-derived per batch

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        dsir_score(batch, w, text_col=text_col, id_col=id_col).withColumn(
            "batch_id", F.lit(batch_id)
        ).write.mode("append").parquet(score_dir)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_dsir_store(spark: SparkSession, score_dir: str,
                    id_col: str = "doc_id") -> DataFrame:
    """The scored corpus from the streaming store, replay-collapsed:
    duplicate ``(batch_id, id)`` rows from an at-least-once re-append
    are identical by determinism of the frozen model — keep one."""
    return (
        spark.read.parquet(score_dir)
        .groupBy("batch_id", id_col)
        .agg(F.max("n_grams").alias("n_grams"), F.max("score").alias("score"))
        .select(id_col, "n_grams", "score")
    )


def streaming_dsir_model_ingest(
    docs_stream: DataFrame,
    model_dir: str,
    checkpoint_dir: str,
    target_col: str = "lang",
    target_value: str = "en",
    buckets: int = 64,
    text_col: str = "text",
):
    """Incremental DSIR MODEL maintenance: the model's sufficient
    statistics (per-bucket gram totals) are ADDITIVE, so every
    micro-batch appends its own ≤B-row (bk, tq, tp) delta and the
    reader (:func:`read_dsir_model`) rebuilds the exact weight row —
    the importance model tracks the growing corpus with per-batch cost
    of one bounded hash-agg, never a retrain over history (the CMS
    delta-store pattern applied to a trained model's statistics).

    Deltas are tagged with ``batch_id``; an at-least-once replay
    appends an identical delta (the sketch of a batch is deterministic)
    and the reader collapses duplicates per (batch_id, bucket) before
    the cross-batch sum.
    """
    from bloomy_etl_spark.operators.corpus import dsir_gram_buckets

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        delta = dsir_gram_buckets(
            batch, F.col(target_col) == target_value, buckets, text_col
        )
        delta.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(model_dir)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_dsir_model(spark: SparkSession, model_dir: str,
                    buckets: int = 64, scale: int = 1_000_000) -> DataFrame:
    """The current DSIR weight row from the streaming delta store:
    collapse replays per (batch_id, bucket), sum deltas across batches,
    then build the SAME one-row weight map as batch
    ``corpus.dsir_weights`` — exact-integer totals make stream ≡ batch
    equality entry-for-entry, not approximate."""
    from bloomy_etl_spark.operators.corpus import weights_from_totals

    tot = (
        spark.read.parquet(model_dir)
        .groupBy("batch_id", "bk")
        .agg(F.max("tq").alias("tq"), F.max("tp").alias("tp"))
        .groupBy("bk")
        .agg(F.sum("tq").alias("tq"), F.sum("tp").alias("tp"))
    )
    return weights_from_totals(tot, buckets, scale)


def streaming_novelty_ingest(
    docs_stream: DataFrame,
    gram_dir: str,
    doc_dir: str,
    checkpoint_dir: str,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Incremental first-occurrence novelty
    (:func:`bloomy_etl_spark.operators.corpus.first_seen_novelty` on a
    stream): the live "is this crawl still adding content" signal. The
    operator's sufficient statistics are ASSOCIATIVE — global first
    occurrence is ``min(id)`` over per-batch local minima — so, like
    the DSIR model ingest, each micro-batch appends two deterministic
    bounded artifacts and the reader reconstructs the EXACT batch
    result in ANY arrival order (no monotone-id requirement):

    - ``gram_dir``  ← the batch's distinct grams with their
      within-batch min id: ``(g, first_doc, batch_id)``;
    - ``doc_dir``   ← per-doc distinct-gram counts:
      ``(id, n_distinct, batch_id)``.

    Ids must be unique across batches (re-crawled duplicates belong in
    the dedup ingest upstream). An at-least-once replay appends
    identical rows under the same ``batch_id``;
    :func:`read_novelty_store` collapses per (batch_id, key) before the
    cross-batch min — detectable and reversible like every other
    durable ingest here.

    Scale: per-batch work is one explode + two hash-aggs over the
    batch's grams; store growth is bounded by the batch gram count.
    """
    from bloomy_etl_spark.functions.text import word_ngrams

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        grams = pin(
            batch.select(
                F.col(id_col),
                F.explode(
                    F.array_distinct(word_ngrams(F.col(text_col), n))
                ).alias("g"),
            ),
            eager=True,
        )  # one shingling pass feeds both artifacts
        (
            grams.groupBy("g").agg(F.min(id_col).alias("first_doc"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(gram_dir)
        )
        (
            grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_distinct"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append").parquet(doc_dir)
        )

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_novelty_store(spark: SparkSession, gram_dir: str, doc_dir: str,
                       scale: int = 1_000_000,
                       id_col: str = "doc_id") -> DataFrame:
    """The corpus-wide novelty profile from the streaming store —
    row-identical to batch ``first_seen_novelty`` over the union of all
    ingested batches: collapse replays per (batch_id, key), take the
    cross-batch ``min(first_doc)`` per gram, count novel grams per
    first doc, and join the per-doc distinct counts."""
    first = (
        spark.read.parquet(gram_dir)
        .groupBy("batch_id", "g")
        .agg(F.min("first_doc").alias("first_doc"))
        .groupBy("g")
        .agg(F.min("first_doc").alias("first_doc"))
    )
    nv = first.groupBy(F.col("first_doc").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    nd = (
        spark.read.parquet(doc_dir)
        .groupBy("batch_id", id_col)
        .agg(F.max("n_distinct").alias("n_distinct"))
        .groupBy(id_col)
        .agg(F.max("n_distinct").alias("n_distinct"))
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


def _pairwise_d2_e6(a: list[float], b: list[float], scale: int) -> int:
    """Driver-side replay of ``clustering._dist2_e6`` for two center
    vectors: the same index-order squared-L2 fold, then ``floor(scale·d²)``."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc += d * d
    return int(math.floor(acc * scale))


def streaming_kcenter_ingest(
    embs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 8,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Online k-center maintenance (the doubling algorithm, Charikar
    et al. 1997) — the streaming half of
    :func:`bloomy_etl_spark.operators.clustering.kcenter_greedy`'s
    batch coreset: keep ≤ ``k`` centers covering everything ingested so
    far, growing the coverage threshold geometrically when the budget
    overflows.

    Per micro-batch, against the driver-resident O(k·d) center set:

    1. quantized min-distance² of every batch point to the current
       centers (one corpus map, the q139 convention — all decisions on
       ``floor(scale·d²)`` int64, so replays are deterministic);
    2. points beyond the threshold join greedily (farthest-first, ties
       to the smaller id) — one TakeOrdered(1) scan per admitted
       center, exactly the batch operator's round shape;
    3. when a (k+1)-th center would be admitted, the threshold DOUBLES
       (τ² ×4; seeded at the min pairwise center distance when still
       0) and the center set is re-thinned to a greedy subset pairwise
       farther than the new threshold — a driver-side O(k²·d) pass over
       ≤ k+1 vectors, never over corpus rows.

    Every dropped center sits within the new τ of a kept one, so
    ingested points stay covered within the telescoping sum ≤ 2·τ_final
    (the classic 8×OPT guarantee; pinned by the invariant test rather
    than a batch-equivalence test — online k-center is a different
    algorithm from greedy k-center, and no arrival order reproduces the
    batch result exactly).

    Durability/replay: the full (tiny) center snapshot is APPENDED per
    batch keyed ``batch_id`` — an at-least-once replay recomputes from
    the PREVIOUS snapshot (reads exclude its own ``batch_id``) and
    appends identical rows, so :func:`read_kcenter_state`'s
    latest-snapshot read is replay-stable, like every durable ingest
    here.
    """
    from bloomy_etl_spark.operators.clustering import _dist2_e6

    def _thin(centers: list, tau2: int) -> list:
        """Greedy subset pairwise > tau2, scanning in admission order
        (stable: earlier centers win), driver-side over ≤ k+1 rows."""
        kept: list = []
        for cid, vec in centers:
            if all(_pairwise_d2_e6(vec, kv, scale) > tau2
                   for _, kv in kept):
                kept.append((cid, vec))
        return kept

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        state = _read_or_empty(
            spark,
            state_dir,
            spark.createDataFrame(
                [],
                f"batch_id long, center_id long, {vec_col} array<double>, "
                "tau2_e6 long",
            ),
        ).filter(F.col("batch_id") != batch_id)
        last = state.agg(F.max("batch_id")).collect()[0][0]
        if last is None:
            centers, tau2 = [], 0
        else:
            rows = state.filter(F.col("batch_id") == last).collect()
            tau2 = int(rows[0]["tau2_e6"])
            # replay-duplicated snapshots collapse per center_id
            centers = sorted(
                {
                    int(r["center_id"]): [float(x) for x in r[vec_col]]
                    for r in rows
                }.items()
            )

        pts = pin(batch.select(id_col, vec_col), eager=True)
        while True:
            if centers:
                mind = F.array_min(
                    F.array(*[_dist2_e6(vec_col, c, scale)
                              for _, c in centers])
                )
                cand = pts.filter(
                    ~F.col(id_col).isin([i for i, _ in centers])
                ).select(id_col, vec_col, mind.alias("__mind"))
                far = (
                    cand.filter(F.col("__mind") > F.lit(tau2))
                    .orderBy(F.col("__mind").desc(), F.col(id_col).asc())
                    .limit(1)
                    .collect()
                )
            else:
                far = (
                    pts.orderBy(F.col(id_col).asc()).limit(1).collect()
                )
            if not far:
                break
            row = far[0]
            centers.append(
                (int(row[id_col]), [float(x) for x in row[vec_col]])
            )
            while len(centers) > k:
                # one doubling may not separate far-apart centers —
                # repeat until the thinned set fits the budget
                if tau2 == 0:
                    pair_min = min(
                        _pairwise_d2_e6(a, b, scale)
                        for i, (_, a) in enumerate(centers)
                        for _, b in centers[i + 1:]
                    )
                    tau2 = max(pair_min, 1)
                else:
                    tau2 *= 4
                centers = _thin(centers, tau2)

        snap = spark.createDataFrame(
            [(batch_id, cid, vec, tau2) for cid, vec in centers],
            f"batch_id long, center_id long, {vec_col} array<double>, "
            "tau2_e6 long",
        )
        snap.write.mode("append").parquet(state_dir)

    return (
        embs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_kcenter_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The latest center snapshot ``(center_id, embedding, tau2_e6)``
    from the doubling-ingest store — ≤ k rows; earlier snapshots remain
    for audit (the τ growth curve) and replay stability."""
    st = spark.read.parquet(state_dir)
    last = st.agg(F.max("batch_id")).collect()[0][0]
    # an at-least-once replay appends the IDENTICAL snapshot again under
    # the same batch_id — collapse per center like the delta stores
    return (
        st.filter(F.col("batch_id") == last)
        .dropDuplicates(["center_id"])
        .drop("batch_id")
    )


def streaming_ewma_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    alpha_den: int = 4,
    key_col: str = "user_id",
    ts_col: str = "eus",
    order_col: str = "event_id",
    val_col: str = "v",
):
    """Incremental per-key EWMA
    (:func:`bloomy_etl_spark.operators.timeseries.ewma_last` on a
    stream): the live smoothing baseline. The integer recurrence
    ``s ← ((αd−1)·s + v) div αd`` composes EXACTLY across batches —
    folding batch B from batch A's final state equals folding A∥B —
    so under the ordered-arrival contract (event time per key is
    monotone across micro-batches, the SemDeDup ingest's contract)
    the streaming state is BIT-IDENTICAL to the batch operator over
    the union, and the equivalence test pins that, not an
    approximation.

    Per batch: one key-keyed fold over the batch's sorted in-row
    arrays, initialized from each key's stored accumulator (a
    broadcast-sized left join against the latest state). The store is
    an append-only per-batch delta ``(key, n_obs, last_v, ewma,
    batch_id)``; the reader takes each key's row from its latest
    batch. At-least-once replays recompute from batches ``< own
    batch_id`` and append identical rows; the reader collapses per
    (batch_id, key).
    """
    from bloomy_etl_spark.operators.timeseries import ewma_last

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        like_schema = (
            f"{key_col} long, n_obs long, last_v long, ewma long, "
            "batch_id long"
        )
        prior = (
            _read_or_empty(
                spark, state_dir, spark.createDataFrame([], like_schema)
            )
            .filter(F.col("batch_id") != batch_id)
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(key_col).orderBy(
                        F.col("batch_id").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(key_col, F.col("n_obs").alias("__pn"),
                    F.col("ewma").alias("__ps"))
        )
        seq = batch.groupBy(key_col).agg(
            F.array_sort(
                F.collect_list(F.struct(ts_col, order_col, val_col))
            ).alias("__seq")
        )
        m = F.lit(alpha_den - 1).cast("long")
        d = F.lit(alpha_den).cast("long")

        def _step(acc, e):
            v = e[val_col]
            num = m * acc + v
            return F.when(acc < 0, v).otherwise(
                ((num - num % d) / d).cast("long")
            )

        init = F.coalesce(F.col("__ps"), F.lit(-1).cast("long"))
        out = (
            seq.join(prior, key_col, "left")
            .select(
                key_col,
                (F.coalesce(F.col("__pn"), F.lit(0))
                 + F.size("__seq")).cast("long").alias("n_obs"),
                F.element_at(F.col("__seq"), -1)[val_col].alias("last_v"),
                F.aggregate(F.col("__seq"), init, _step).alias("ewma"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
        )
        out.write.mode("append").parquet(state_dir)

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_ewma_state(spark: SparkSession, state_dir: str,
                    key_col: str = "user_id") -> DataFrame:
    """Each key's latest ``(key, n_obs, last_v, ewma)`` from the
    delta store — replay-duplicated batches collapse per (batch_id,
    key) before the per-key latest is taken."""
    st = spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", key_col]
    )
    w = Window.partitionBy(key_col).orderBy(F.col("batch_id").desc())
    return (
        st.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key_col, "n_obs", "last_v", "ewma")
    )


def streaming_cusum_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    drift: int = 700_000,
    threshold: int = 3_000_000,
    enc: int = 10 ** 12,
    key_col: str = "user_id",
    ts_col: str = "eus",
    order_col: str = "event_id",
    val_col: str = "v",
):
    """Live CUSUM burst monitoring
    (:func:`bloomy_etl_spark.operators.timeseries.cusum_alerts` on a
    stream): per-key alert counts and the residual accumulator stay
    current as events arrive — the use-case CUSUM exists for.  The
    packed-int64 recurrence composes EXACTLY across batches (folding
    batch B from A's final packed state equals folding A∥B — the
    recurrence only ever reads the running state), so under the
    ordered-arrival contract the streaming state is BIT-IDENTICAL to
    the batch operator over the union; the equivalence test pins that.

    Per batch: one key-keyed fold over the batch's sorted in-row
    arrays, seeded from each key's stored ``n_alerts·enc + resid``.
    Durable store/replay semantics are the EWMA ingest's: append-only
    per-batch deltas, reader collapses per (batch_id, key), replays
    rewrite identical rows.
    """
    if threshold >= enc:
        raise ValueError("threshold must be < enc (state packing)")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        like_schema = (
            f"{key_col} long, n_obs long, n_alerts long, resid long, "
            "batch_id long"
        )
        prior = (
            _read_or_empty(
                spark, state_dir, spark.createDataFrame([], like_schema)
            )
            .filter(F.col("batch_id") != batch_id)
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(key_col).orderBy(
                        F.col("batch_id").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(
                key_col,
                F.col("n_obs").alias("__pn"),
                (F.col("n_alerts") * F.lit(enc) + F.col("resid"))
                .alias("__ps"),
            )
        )
        seq = batch.groupBy(key_col).agg(
            F.array_sort(
                F.collect_list(F.struct(ts_col, order_col, val_col))
            ).alias("__seq")
        )
        k = F.lit(drift).cast("long")
        h = F.lit(threshold).cast("long")
        m = F.lit(enc).cast("long")

        def _step(acc, e):
            s = acc % m
            t = F.greatest(s + e[val_col] - k, F.lit(0).cast("long"))
            return F.when(t >= h, acc - s + m).otherwise(acc - s + t)

        init = F.coalesce(F.col("__ps"), F.lit(0).cast("long"))
        state = F.aggregate(F.col("__seq"), init, _step)
        out = (
            seq.join(prior, key_col, "left")
            .select(
                key_col,
                (F.coalesce(F.col("__pn"), F.lit(0))
                 + F.size("__seq")).cast("long").alias("n_obs"),
                state.alias("__st"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            .select(
                key_col,
                "n_obs",
                F.expr(f"__st DIV CAST({enc} AS BIGINT)").alias("n_alerts"),
                (F.col("__st") % F.lit(enc)).alias("resid"),
                "batch_id",
            )
        )
        out.write.mode("append").parquet(state_dir)

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cusum_state(spark: SparkSession, state_dir: str,
                     key_col: str = "user_id") -> DataFrame:
    """Each key's latest ``(key, n_obs, n_alerts, resid)`` from the
    delta store — replay-duplicated batches collapse per (batch_id,
    key) before the per-key latest is taken."""
    st = spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", key_col]
    )
    w = Window.partitionBy(key_col).orderBy(F.col("batch_id").desc())
    return (
        st.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key_col, "n_obs", "n_alerts", "resid")
    )


def streaming_scd2_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "eus",
    order_col: str = "event_id",
    attr_col: str = "state",
):
    """Live SCD2 dimension maintenance
    (:func:`bloomy_etl_spark.operators.history.scd2_compact` on a
    stream): validity intervals stay current as the change log
    arrives, without ever re-reading prior log history.  Each batch
    compacts ITSELF (the batch operator), then merges against each
    key's OPEN run only: same attribute across the boundary → the
    open run extends (the case independent per-batch compaction gets
    wrong); different → the open run closes at the batch's first
    timestamp and versions continue from it.  Under ordered arrival
    the reader's view is BIT-IDENTICAL to ``scd2_compact`` over the
    full log — the equivalence test pins that.

    Store: append-only run rows keyed (key, version, batch_id);
    closed historical runs are never rewritten — a batch appends only
    its own runs plus at most one closing update per key.  Replays
    append identical rows; the reader collapses per (key, version) by
    latest batch.
    """
    from bloomy_etl_spark.operators.history import scd2_compact

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        like_schema = (
            f"{key_col} long, version long, {attr_col} string, "
            "valid_from long, valid_to long, n_rows long, batch_id long"
        )
        w_ver = Window.partitionBy(key_col, "version").orderBy(
            F.col("batch_id").desc()
        )
        prior = (
            _read_or_empty(
                spark, state_dir, spark.createDataFrame([], like_schema)
            )
            .filter(F.col("batch_id") != batch_id)
            .withColumn("__rn", F.row_number().over(w_ver))
            .filter(F.col("__rn") == 1)
        )
        open_run = prior.filter(F.col("valid_to").isNull()).select(
            key_col,
            F.col("version").alias("__over"),
            F.col(attr_col).alias("__ostate"),
            F.col("valid_from").alias("__ofrom"),
            F.col("n_rows").alias("__on"),
        )
        bruns = scd2_compact(
            batch, key_col=key_col, ts_col=ts_col,
            order_col=order_col, attr_col=attr_col,
        ).withColumnRenamed("version", "__bver")
        first = bruns.filter(F.col("__bver") == 1).join(
            open_run, key_col, "left"
        )
        merged = F.col("__ostate") == F.col(attr_col)
        offs = first.select(
            key_col,
            F.when(F.col("__over").isNull(), F.lit(0).cast("long"))
            .when(merged, F.col("__over") - 1)
            .otherwise(F.col("__over"))
            .alias("__off"),
            F.coalesce(merged, F.lit(False)).alias("__merged"),
            F.col("__ofrom"),
            F.col("__on"),
            F.col("__over"),
            F.col("valid_from").alias("__bfrom"),
            F.col("__ostate"),
        )
        is_m1 = (F.col("__bver") == 1) & F.col("__merged")
        out_runs = bruns.join(offs, key_col).select(
            F.col(key_col),
            (F.col("__bver") + F.col("__off")).cast("long").alias("version"),
            F.col(attr_col),
            F.when(is_m1, F.col("__ofrom"))
            .otherwise(F.col("valid_from")).alias("valid_from"),
            F.col("valid_to"),
            F.when(is_m1, F.col("__on") + F.col("n_rows"))
            .otherwise(F.col("n_rows")).cast("long").alias("n_rows"),
        )
        closed = offs.filter(
            (~F.col("__merged")) & F.col("__over").isNotNull()
        ).select(
            F.col(key_col),
            F.col("__over").cast("long").alias("version"),
            F.col("__ostate").alias(attr_col),
            F.col("__ofrom").alias("valid_from"),
            F.col("__bfrom").alias("valid_to"),
            F.col("__on").cast("long").alias("n_rows"),
        )
        out = out_runs.unionByName(closed).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        out.write.mode("append").parquet(state_dir)

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_scd2_state(spark: SparkSession, state_dir: str,
                    key_col: str = "user_id") -> DataFrame:
    """The current interval table from the run store: latest row per
    (key, version), replay duplicates collapsed first."""
    st = spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", key_col, "version"]
    )
    w = Window.partitionBy(key_col, "version").orderBy(
        F.col("batch_id").desc()
    )
    return (
        st.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "batch_id")
    )


def streaming_duel_ingest(
    duels_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    winner: str = "winner",
    loser: str = "loser",
):
    """Live preference-leaderboard maintenance: duel outcomes stream
    in, the durable state is the directional count table
    (:func:`bloomy_etl_spark.operators.preference.duel_counts` per
    batch, appended as deltas), and the leaderboard is re-fit on read
    with ``bradley_terry_from_counts`` over the merged counts.  Counts
    are plain sums — CONFLUENT, so arrival order is provably
    irrelevant (the q148 connected-components argument) and the
    streamed fit is bit-identical to the batch fit over the union by
    construction; the equivalence test still pins it end-to-end.

    Per-batch cost is one hash-agg of the batch + an append; the fit
    itself runs on the item-pair table at read time (bounded by the
    item domain, not by duel history).  Replays append identical
    deltas; the reader collapses per (batch_id, i, j).
    """
    from bloomy_etl_spark.operators.preference import duel_counts

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        out = duel_counts(batch, winner, loser).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        out.write.mode("append").parquet(state_dir)

    return (
        duels_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_duel_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged directional counts from the delta store — replay
    duplicates collapse per (batch_id, i, j) before summation."""
    st = spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", "i", "j"]
    )
    return st.groupBy("i", "j").agg(F.sum("n").cast("long").alias("n"))


def streaming_zonemap_ingest(
    rows_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    x_col: str = "xb",
    y_col: str = "yb",
    order_col: str = "event_id",
    rows_per_file: int = 500,
    bits: int = 8,
):
    """Incremental data-layout maintenance: between OPTIMIZE runs a
    lake keeps ingesting — each micro-batch gets its OWN Z-ordered
    file set (``operators/zorder.py``), and the durable state is the
    zone-map index over every file written so far.  Readers prune with
    the same min/max tests as after a full rewrite; what degrades with
    batch count is only HOW MANY files overlap a predicate (batches
    overlap in z-space), which is exactly the signal
    :func:`compaction_candidates` turns into an OPTIMIZE trigger —
    the real lakehouse write path, end to end.

    Per batch: one batch-local exact z-rank (the two-phase scan) + one
    file-grain agg; the appended state is O(files), never row grain.
    Zone maps of disjoint batches are independent, so replays append
    identical rows and the reader collapses per (batch_id, file_id).
    """

    from bloomy_etl_spark.operators.zorder import zone_maps, zorder_files

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        laid = zorder_files(
            batch, x_col, y_col, order_col,
            bits=bits, rows_per_file=rows_per_file,
        )
        out = zone_maps(laid, x_col, y_col).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        out.write.mode("append").parquet(state_dir)

    return (
        rows_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_zonemap_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live zone-map index: one row per (batch_id, file_id),
    replay duplicates collapsed."""
    return spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", "file_id"]
    )


def compaction_candidates(zonemaps: DataFrame, min_files: int = 2,
                          bits: int = 8) -> DataFrame:
    """Z-ranges whose data is scattered across ≥ ``min_files`` files —
    the OPTIMIZE trigger: a query touching that range opens every one
    of them, so co-locating the range pays.  Ranges are the aligned
    256-wide z-blocks (``z >> 8`` at the default bits); the candidate
    list is range-grain, tiny by construction."""
    zr = zonemaps.select(
        F.col("batch_id"), F.col("file_id"),
        F.shiftright(F.col("z_min"), bits).alias("r_lo"),
        F.shiftright(F.col("z_max"), bits).alias("r_hi"),
    ).select(
        "batch_id", "file_id",
        F.explode(F.sequence("r_lo", "r_hi")).alias("z_range"),
    )
    return (
        zr.groupBy("z_range")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"))
        .filter(F.col("n_files") >= min_files)
    )


def streaming_attribution_ingest(
    events_stream: DataFrame,
    facts_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    lookback_us: int = 7 * 86_400_000_000,
):
    """Streaming FACT ENRICHMENT (a different ingest shape from the
    state-fold family): purchases are attributed to the user's most
    recent view/click AS THEY ARRIVE — q162's packed-MAX LOCF run per
    batch, seeded from each user's durable last-touch state.  Because
    the packed value ``eus·10+code`` is MONOTONE under ordered
    arrival, the cross-batch merge is a plain ``greatest`` with the
    stored state — so the emitted fact stream is BIT-IDENTICAL to the
    batch attribution over the union, and an emitted fact is final
    (never revised), which is what makes it safe to feed downstream
    aggregates incrementally.

    Two durable stores: an append-only attributed-purchase FACT log
    (collapse per (batch_id, purchase_id) on read) and a per-user
    last-touch state delta (latest batch wins — the touch value is
    monotone, so replays and late reads agree).
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        prior = (
            _read_or_empty(
                spark, state_dir,
                spark.createDataFrame([], "user_id long, lt long, "
                                          "batch_id long"),
            )
            .filter(F.col("batch_id") != batch_id)
            .groupBy("user_id")
            .agg(F.max("lt").alias("__plt"))
        )
        code = (
            F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .otherwise(None)
            .cast("long")
        )
        w = Window.partitionBy("user_id").orderBy(
            F.col("eus").asc(), F.col("event_id").asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged = (
            batch.withColumn("__blt", F.max(F.col("eus") * 10 + code).over(w))
            .join(prior, "user_id", "left")
            .withColumn("__lt", F.greatest("__blt", "__plt"))
        )
        t_eus = F.expr("__lt DIV 10")
        in_w = F.col("__lt").isNotNull() & (
            F.col("eus") - t_eus <= F.lit(lookback_us)
        )
        facts = tagged.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("eus").alias("purchase_eus"),
            F.when(in_w, t_eus).alias("touch_eus"),
            F.when(
                in_w,
                F.when(F.col("__lt") % 10 == 2, "click").otherwise("view"),
            ).otherwise("direct").alias("channel"),
            F.when(in_w, F.col("eus") - t_eus).cast("long").alias("lag_us"),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        facts.write.mode("append").parquet(facts_dir)
        state = tagged.groupBy("user_id").agg(
            F.max("__lt").alias("lt")
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        state.write.mode("append").parquet(state_dir)

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_attributed_facts(spark: SparkSession, facts_dir: str) -> DataFrame:
    """The attributed-purchase fact log, replay duplicates collapsed
    per (batch_id, purchase_id)."""
    return (
        spark.read.parquet(facts_dir)
        .dropDuplicates(["batch_id", "purchase_id"])
        .drop("batch_id")
    )


def streaming_active_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Live engagement state: the durable store is per-batch DISTINCT
    (day, user) activity deltas — set union is CONFLUENT (any arrival
    order, any slicing), so every rolling-engagement readout (DAU,
    trailing-window WAU, stickiness — q168) recomputed from the merged
    store is bit-identical to the batch answer over the union.  The
    active-pair grain is bounded by days × users regardless of event
    volume, so per-batch appends are domain-sized, never event-sized.
    Replays append identical rows; the reader collapses per
    (batch_id, day, user)."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        out = (
            batch.select("day", "user_id")
            .distinct()
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        out.write.mode("append").parquet(state_dir)

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_active_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged distinct (day, user) activity from the delta store."""
    return (
        spark.read.parquet(state_dir)
        .select("day", "user_id")
        .distinct()
    )


def streaming_funnel_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    stages: list[str] | None = None,
    key_col: str = "user_id",
):
    """Incremental conversion-funnel state (q140's
    ``engine_queries.funnel_stages`` on a stream): each key's live
    (furthest stage, last-advance µs). The funnel accumulator composes
    exactly across batches — stepping batch B from A's final (stage,
    t) equals stepping A∥B — so under ordered arrival the streaming
    state is BIT-IDENTICAL to the batch fold over the union (the EWMA
    ingest's contract, pinned by the same equivalence test shape).

    Input columns: ``user_id``/``key_col``, ``eus`` (epoch µs),
    ``event_id``, ``event_type``. Per batch: one key-keyed sorted-array
    fold seeded from the stored accumulator; append-only per-batch
    deltas keyed ``batch_id`` (replays recompute from ``< own id`` and
    append identical rows; :func:`read_funnel_state` collapses per
    (batch_id, key) then takes each key's latest).
    """
    from bloomy_etl_spark.operators.engine_queries import (
        _FUNNEL_STAGES,
        funnel_step,
    )

    stages = list(stages) if stages is not None else list(_FUNNEL_STAGES)

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        like_schema = (
            f"{key_col} long, stage int, t long, batch_id long"
        )
        prior = (
            _read_or_empty(
                spark, state_dir, spark.createDataFrame([], like_schema)
            )
            .filter(F.col("batch_id") != batch_id)
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(key_col).orderBy(
                        F.col("batch_id").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .select(key_col, F.col("stage").alias("__ps"),
                    F.col("t").alias("__pt"))
        )
        seq = batch.groupBy(key_col).agg(
            F.array_sort(
                F.collect_list(F.struct("eus", "event_id", "event_type"))
            ).alias("__seq")
        )
        init = F.struct(
            F.coalesce(F.col("__ps"), F.lit(0)).alias("s"),
            F.coalesce(F.col("__pt"), F.lit(-1).cast("long")).alias("t"),
        )
        acc = F.aggregate(F.col("__seq"), init, funnel_step(stages))
        (
            seq.join(prior, key_col, "left")
            .select(
                key_col,
                acc["s"].alias("stage"),
                acc["t"].alias("t"),
                F.lit(batch_id).cast("long").alias("batch_id"),
            )
            .write.mode("append").parquet(state_dir)
        )

    return (
        events_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_funnel_state(spark: SparkSession, state_dir: str,
                      key_col: str = "user_id") -> DataFrame:
    """Each key's latest ``(key, stage, t)`` from the funnel delta
    store, replay-collapsed per (batch_id, key)."""
    st = spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", key_col]
    )
    w = Window.partitionBy(key_col).orderBy(F.col("batch_id").desc())
    return (
        st.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(key_col, "stage", "t")
    )


def streaming_mg_ingest(
    items_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    item_col: str,
    capacity: int = 256,
):
    """Streaming DETERMINISTIC heavy-hitter candidates: fold every
    micro-batch into a durable Misra-Gries summary store and return
    the started ``StreamingQuery`` — the exact-enumeration counterpart
    to :func:`streaming_cms_ingest`'s probabilistic point estimates.

    Per batch: one bounded ``mg_summary`` pass (≤ partitions × capacity
    rows out, with per-partition exact totals) appended tagged with
    ``batch_id`` — history is never rewritten, and an at-least-once
    replay re-appends rows identical by determinism of the summary, so
    the read side collapses duplicates per (batch_id, part_id).

    Contract (the q146 guarantee, sliced by batch×partition instead of
    partition): any item with total stream frequency ≥ N/k, k ≤
    capacity, appears in SOME slice with local frequency > N_s/(cap+1)
    (averaging), hence survives that slice's summary — the union read
    back by :func:`read_mg_candidates` is a provable candidate
    superset, and an exact recount against the corpus store yields
    exactly the batch answer (asserted stream ≡ batch in
    tests/test_streaming.py).
    """
    from bloomy_etl_spark.operators.sketches import mg_summary

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        delta = mg_summary(
            batch.select(item_col), item_col, capacity=capacity,
            with_part_totals=True,
        )
        delta.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(store_dir)

    return (
        items_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_mg_candidates(
    spark: SparkSession, store_dir: str, item_col: str
) -> DataFrame:
    """Collapse the per-batch MG deltas into the merged candidate
    summary ``(item_col, mg_wt)``. Replayed appends are identical per
    (batch_id, part_id) by construction, so ``max`` per
    (batch_id, part_id, item) keeps exactly one before the cross-slice
    sum; weights remain undercounts of true stream frequency.  The
    ``mg_wt = 0`` sentinel rows exist only to carry partition totals
    and are dropped here."""
    return (
        spark.read.parquet(store_dir)
        .filter(F.col("mg_wt") > 0)
        .groupBy("batch_id", "part_id", item_col)
        .agg(F.max("mg_wt").alias("mg_wt"))
        .groupBy(item_col)
        .agg(F.sum("mg_wt").alias("mg_wt"))
    )


def read_mg_total(spark: SparkSession, store_dir: str) -> int:
    """Exact total item count of the ingested stream, recovered from
    the summary store's per-(batch, partition) totals (one bounded
    aggregate; replays collapse on the slice key)."""
    row = (
        spark.read.parquet(store_dir)
        .select("batch_id", "part_id", "n_part")
        .distinct()
        .agg(F.coalesce(F.sum("n_part"), F.lit(0)).alias("n"))
        .collect()[0]
    )
    return int(row["n"])


def streaming_cc_ingest(
    edges_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    i_col: str = "i",
    j_col: str = "j",
):
    """Incremental connected components over a stream of graph edges —
    the maintenance half of the q42 dedup-cluster resolver: as new
    near-dup pairs arrive, cluster labels are updated WITHOUT
    re-reading prior edges.

    State per batch: a full ``(node, label)`` snapshot (label = min
    reachable node, q42's canonical form) written to
    ``state_dir/b{batch_id}``. Each batch runs
    ``connected_components(converge=True)`` over the NEW edges unioned
    with the prior snapshot read back AS STAR EDGES (node → label):
    the star graph preserves connectivity exactly and compresses every
    prior component to diameter ≤ 2, so convergence cost per batch is
    bounded by the BATCH graph's structure, not the accumulated
    history. Because CC is confluent (min-label over any edge
    partition order reaches the same fixpoint), the final state equals
    the one-shot batch answer for ANY arrival order — asserted in
    tests, and the property that makes incremental maintenance sound.

    Crash/replay: a retried batch rewrites the SAME snapshot dir with
    mode("overwrite") and identical deterministic contents (prior
    snapshots are never touched), so at-least-once delivery is
    idempotent. Snapshots are an audit trail; readers take the latest.
    """
    import os
    import re

    from bloomy_etl_spark.operators.dedup import connected_components

    def _latest_before(batch_id: int) -> str | None:
        if not os.path.isdir(state_dir):
            return None
        best = None
        for d in os.listdir(state_dir):
            m = re.fullmatch(r"b(\d+)", d)
            if m and int(m.group(1)) < batch_id:
                if best is None or int(m.group(1)) > best:
                    best = int(m.group(1))
        return None if best is None else os.path.join(state_dir, f"b{best}")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        edges = batch.select(F.col(i_col).alias("i"),
                             F.col(j_col).alias("j"))
        prior = _latest_before(batch_id)
        if prior is not None:
            star = spark.read.parquet(prior).select(
                F.col("node").alias("i"), F.col("label").alias("j")
            ).filter(F.col("i") != F.col("j"))
            edges = edges.unionByName(star)
        cc = connected_components(edges, converge=True)
        cc.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"b{batch_id}")
        )

    return (
        edges_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_cc_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest (node, label) snapshot written by
    :func:`streaming_cc_ingest`."""
    import os
    import re

    ids = [int(m.group(1)) for d in os.listdir(state_dir)
           if (m := re.fullmatch(r"b(\d+)", d))]
    if not ids:
        raise FileNotFoundError(f"no cc snapshots under {state_dir}")
    return spark.read.parquet(os.path.join(state_dir, f"b{max(ids)}"))
