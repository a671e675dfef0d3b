"""Approximate-nearest-neighbor similarity search over embedding columns.

Two tiers (SURVEY §7.6):

  * ``cosine_topk`` — exact brute force: query set × corpus cosine with a
    ranking window. O(|Q|·n·d) but fully distributed and shuffle-light
    (broadcast the query side when small). The correctness baseline.
  * ``lsh_topk`` — random-hyperplane LSH: deterministic sign-bucket per
    vector; candidates share a bucket in ≥1 of ``tables`` hash tables;
    exact cosine re-ranks candidates. The 100 TB path: bucket join bounds
    the candidate set, no all-pairs shuffle.

Hyperplanes are generated from a seeded arithmetic sequence (no RNG state,
reproducible across runs/engines). All JVM expressions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bloomy_etl_spark.session import pin

from bloomy_etl_spark.functions.sqltext import double_array, ident
from bloomy_etl_spark.functions.vectors import dot, norm


def cosine_topk(embs: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_keep: tuple[str, ...] = (),
                c_keep: tuple[str, ...] = ()) -> DataFrame:
    """Exact top-k neighbors for each query vector (self excluded).

    ``queries`` is (id, vector) shaped like ``embs``; it is broadcast —
    the corpus never shuffles, each task scores its partition slice.
    Ties break on neighbor id for determinism.

    ``q_keep`` / ``c_keep`` name extra columns of the query / corpus
    side to carry through the ranking unchanged — callers that need
    side metadata on the ranked pairs (labels, per-query totals) ride
    it along IN-ROW instead of joining it back onto the ranked output,
    which would re-scan the source (guide §2.4: one pass, not a
    decision pass plus an attach pass).
    """
    # Norms are per-VECTOR, so evaluate them once per side before the
    # pair join — cosine(qv, cv) per pair would re-fold both norms for
    # every (query, neighbor) combination (3 array folds per pair instead
    # of 1). A norm is a deterministic function of one vector, so
    # dot/(nq*nc) accumulates bit-identically to the oracle's
    # list_dot_product formula.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("_nq"), *q_keep,
    )
    c = embs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("_nc"), *c_keep,
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim", dot(F.col("qv"), F.col("cv")) / (F.col("_nq") * F.col("_nc"))
        )
        .select("query_id", "neighbor_id", "cos_sim", *q_keep, *c_keep)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def semantic_decontam(corpus: DataFrame, bench: DataFrame,
                      threshold: float, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose max cosine against ANY benchmark vector reaches
    ``threshold`` (the semantic companion to the n-gram decontam of
    ``corpus.py::decontaminate`` — catches paraphrased leakage n-grams
    miss).

    Scale shape: the benchmark side collapses to ONE row holding an
    array of (vector, norm) structs, broadcast to every task; each
    corpus row folds its max similarity IN-ROW (``array_max`` over a
    ``transform``).  The corpus therefore never shuffles and nothing
    benchmark-sized reaches the driver — the k-means-centroid posture.
    Benchmark cardinality bounds the per-row fold (fine for the
    10²–10⁴ eval-set sizes this is for; for benchmark sets beyond
    broadcast size, block with LSH buckets like ``embedding_neardups``).

    Adds ``max_sim`` (double) and ``contaminated`` (bool)."""
    b = bench.select(F.col(vec_col).alias("bv")).withColumn(
        "bn", norm(F.col("bv"))
    )
    brow = b.agg(F.collect_list(F.struct("bv", "bn")).alias("__bench"))
    c = corpus.select(F.col(id_col), *keep_cols,
                      F.col(vec_col).alias("__cv")).withColumn(
        "__cn", norm(F.col("__cv"))
    )
    sim = F.array_max(
        F.transform(
            F.col("__bench"),
            lambda s: dot(F.col("__cv"), s["bv"]) / (F.col("__cn") * s["bn"]),
        )
    )
    return (
        c.crossJoin(F.broadcast(brow))
        .withColumn("max_sim", sim)
        .select(
            id_col,
            *keep_cols,
            "max_sim",
            (F.col("max_sim") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def hard_negative_mining(embs: DataFrame, queries: DataFrame, k: int = 1,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         label_col: str = "label") -> DataFrame:
    """Top-k most-similar OTHER-LABEL neighbors per query — the hard
    negatives contrastive training mines: examples the embedding thinks
    are near but supervision says differ (the gradient-rich pairs;
    random negatives are mostly easy and carry little signal).

    Same scale shape as :func:`cosine_topk` (query side broadcast, the
    corpus never shuffles, one window top-k) with the label-difference
    predicate applied during the scoring join — candidates with the
    query's own label are never scored, not filtered after. At corpus
    scale, swap the brute-force scorer for :func:`ivf_topk` probing and
    keep the predicate; the mining contract is unchanged.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("_nq"),
        F.col(label_col).alias("_qlabel"),
    )
    c = embs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("_nc"),
        F.col(label_col).alias("_nlabel"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & ~F.col("_nlabel").eqNullSafe(F.col("_qlabel")),
        )
        .withColumn(
            "cos_sim", dot(F.col("qv"), F.col("cv")) / (F.col("_nq") * F.col("_nc"))
        )
        .select(
            "query_id",
            "neighbor_id",
            F.col("_nlabel").alias("neighbor_label"),
            "cos_sim",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _hyperplane(table: int, bit: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: small-integer weights from a
    multiplicative sequence, centered on zero. Seeded by (table, bit)."""
    return [
        float(((1103515245 * (table * 7919 + bit * 104729 + d) + 12345) >> 16) % 19 - 9)
        for d in range(dim)
    ]


def _dot_plane_sql(vec_sql: str, plane: list[float]) -> str:
    """SQL text of ``functions.vectors.dot(vec, <literal plane>)`` —
    the same aggregate/zip_with/cast tree, rendered as one string so the
    whole bucket derivation costs ONE driver→JVM round trip instead of
    ~70 per (table, bit)."""
    return (
        f"aggregate(zip_with({vec_sql}, {double_array(plane)}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _bucket_sql(vec_sql: str, table: int, bits: int, dim: int) -> str:
    """Sign-pattern bucket id of one hash table, an integer in
    [0, 2^bits): the ``0 + CASE WHEN proj > 0 THEN 2^b ELSE 0 END``
    chain, left-assoc."""
    acc = "0"
    for b in range(bits):
        proj = _dot_plane_sql(vec_sql, _hyperplane(table, b, dim))
        acc += f" + (CASE WHEN {proj} > 0 THEN {2 ** b} ELSE 0 END)"
    return acc


def ivf_topk(embs: DataFrame, queries: DataFrame, k: int = 5,
             centroid_stride: int = 40, nprobe: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             centroids: list[list[float]] | None = None,
             max_centroids: int = 256) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into inverted lists, probe
    only the ``nprobe`` lists nearest each query, exact-cosine re-rank.

    Default coarse centroids are deterministic corpus members
    (``id % centroid_stride == 0`` AND ``id < stride * max_centroids``)
    rather than trained k-means means — the IVF *search* mechanics
    (assignment, inverted lists, probing, re-rank) are identical, and
    determinism is what makes the whole operator reproducible across
    engines (the DuckDB oracle replays it exactly; recall vs exact top-k
    is measured separately in tests). ``max_centroids`` caps the
    centroid-table size INDEPENDENT of corpus row count: without it the
    stride selection yields n/stride centroids, which at 100 TB makes
    the "tiny broadcast" not tiny and the assignment cross-product
    O(n²/stride). Pass ``centroids`` (e.g.
    ``clustering.kmeans_lloyd(embs)[0]``) to run TRAINED IVF: the list
    ships as literals exactly like a stored centroid table, and
    everything downstream is unchanged.

    Scale shape: the centroid table is tiny and broadcast; corpus
    assignment is a broadcast nested-loop score + per-id partial-aggregate
    ``max_by`` (map-side combine collapses the K candidate rows per vector
    before any shuffle, so shuffle volume is one row per corpus vector —
    at ingest time this assignment would be computed once and stored as a
    cluster column, making search itself partition-prunable on
    ``cluster_id``). Queries probe nprobe centroids each; candidates =
    inverted lists of probed centroids only, so re-rank cost is
    |q| · (nprobe/K) · n instead of |q| · n."""
    # Lazy checkpoint: the centroid table (|corpus|/stride rows) feeds
    # TWO broadcast builds (corpus assignment + query probing), and each
    # un-reused broadcast subtree re-runs the corpus scan underneath it.
    # Materializing the tiny table once is also the real system shape —
    # IVF centroids are trained/stored ahead of search, never re-derived
    # per probe.
    if centroids is not None:
        cents = embs.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cid long, cvec array<double>",
        ).withColumn("_ncent", norm(F.col("cvec")))
    else:
        cents = embs.filter(
            (F.col(id_col) % centroid_stride == 0)
            & (F.col(id_col) < centroid_stride * max_centroids)
        ).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"),
            norm(F.col(vec_col)).alias("_ncent"),
        ).transform(pin, eager=False)
    corpus = embs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"),
        norm(F.col(vec_col)).alias("_nn"),
    )
    # assignment: argmax cosine over centroids, ties to the smallest cid
    # (max of (cos, -cid) struct is lexicographic). any_value is
    # deterministic here: nv/_nn are constant within a neighbor_id group.
    scored = corpus.join(F.broadcast(cents), F.lit(True)).withColumn(
        "cos_c", dot(F.col("nv"), F.col("cvec")) / (F.col("_nn") * F.col("_ncent"))
    )
    assigned = scored.groupBy("neighbor_id").agg(
        F.max_by(F.col("cid"), F.struct(F.col("cos_c"), -F.col("cid"))).alias("cluster_id"),
        F.any_value(F.col("nv")).alias("nv"),
        F.any_value(F.col("_nn")).alias("_nn"),
    )
    # probe lists: top-nprobe centroids per query (query side is tiny)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("_nq"),
    )
    qscored = q.join(F.broadcast(cents), F.lit(True)).withColumn(
        "cos_c", dot(F.col("qv"), F.col("cvec")) / (F.col("_nq") * F.col("_ncent"))
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid")
    )
    probes = (
        qscored.withColumn("probe_rank", F.row_number().over(wprobe))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "_nq", F.col("cid").alias("cluster_id"))
    )
    # candidates: inverted lists of probed clusters; a neighbor lives in
    # exactly ONE list, so no per-pair dedup is needed (unlike LSH)
    cands = assigned.join(F.broadcast(probes), "cluster_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    rescored = cands.withColumn(
        "cos_sim", dot(F.col("qv"), F.col("nv")) / (F.col("_nq") * F.col("_nn"))
    ).select("query_id", "neighbor_id", "cos_sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def stacked_lsh_buckets(vec_sql: str, tables: int, bits: int, dim: int):
    """One exploded ``(t, bucket)`` struct per hash table — the shared
    bucket-derivation expression for ANN search (:func:`lsh_topk`) and
    near-dup blocking (``dedup.embedding_near_dups``). The bucket
    definition lives only here (:func:`_bucket_sql` over
    :func:`_hyperplane`, literals from ``functions.sqltext``), so the
    two can never silently diverge on bits layout or hyperplane
    seeding. Stacking all tables into one explode keeps candidate
    generation a single join instead of ``tables`` sequential ones.

    ``vec_sql`` is the vector column as a SQL reference (``sqltext.ident``
    of a column name, or expression text): the whole derivation —
    ``tables × bits`` plane dots over ``dim`` literals each — is rendered
    as ONE SQL string and parsed in a single driver→JVM call. Built
    fluently this expression cost ~12.5 s of py4j round trips per q36
    construction (measured r10) against ~1 s of Catalyst analysis."""
    body = ",".join(
        f"named_struct('t', {t}, 'bucket', "
        f"{_bucket_sql(vec_sql, t, bits, dim)})"
        for t in range(tables)
    )
    return F.expr(f"explode(array({body}))")


def lsh_topk(embs: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64,
             bits: int = 8, tables: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN top-k: union of per-table bucket joins → exact cosine re-rank.

    Recall < 1 by construction; tests measure it against ``cosine_topk``.
    At 100 TB the corpus bucketing is computed once at ingest and stored
    as columns, so a query touches only matching buckets (partition-pruned
    when the table is clustered by bucket).
    """
    def bucketed(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        """One row per (vector, hash table): stack every table's bucket id
        with a single explode so ALL tables join in one pass — a per-table
        join loop would run ``tables`` sequential shuffle stages over the
        same corpus; stacked, the whole candidate generation is one join."""
        stacked = stacked_lsh_buckets(ident(vec_col), tables, bits, dim)
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            norm(F.col(vec_col)).alias(f"_n_{id_alias}"),
            stacked.alias("tb"),
        ).select(id_alias, vec_alias, f"_n_{id_alias}", "tb.t", "tb.bucket")

    # query side is small → broadcast; the corpus never shuffles, each task
    # scans its slice once and emits only same-bucket collisions. Norms
    # are computed once per (vector, table) row, not per candidate pair —
    # see cosine_topk.
    qb = bucketed(queries, "query_id", "qv")
    cb = bucketed(embs, "neighbor_id", "cv")
    pairs = (
        cb.join(F.broadcast(qb), ["t", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("qv"), F.col("cv"))
            / (F.col("_n_query_id") * F.col("_n_neighbor_id")),
        )
    )
    # a pair colliding in several tables appears once per table — collapse
    # by key (scalar agg, not a distinct over the vector arrays)
    scored = pairs.groupBy("query_id", "neighbor_id").agg(
        F.max("cos_sim").alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# persisted IVF index (build once, search many)
# ---------------------------------------------------------------------------


def build_ivf_index(embs: DataFrame, index_dir: str,
                    centroids: list[list[float]] | None = None,
                    centroid_stride: int = 40, max_centroids: int = 256,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialize the IVF structure :func:`ivf_topk` derives per call:

      * ``{index_dir}/centroids`` — (cid, cvec, _ncent), the coarse
        quantizer (tiny);
      * ``{index_dir}/corpus`` — every vector with its assigned
        ``cluster_id``, PARTITIONED BY cluster_id.

    The partition layout is the point: a search that probes ``nprobe``
    of K clusters reads nprobe/K of the corpus FILES — partition pruning
    at the storage layer, not a runtime filter. This is how IVF behaves
    in a real vector store (inverted lists = partitions), and what makes
    search cost independent of corpus growth in unprobed clusters.
    Assignment math is identical to :func:`ivf_topk` (argmax cosine,
    ties to the smaller cid), so a stored-index search returns exactly
    what the per-call operator returns.
    """
    spark = embs.sparkSession
    if centroids is not None:
        cents = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cid long, cvec array<double>",
        ).withColumn("_ncent", norm(F.col("cvec")))
    else:
        cents = embs.filter(
            (F.col(id_col) % centroid_stride == 0)
            & (F.col(id_col) < centroid_stride * max_centroids)
        ).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"),
            norm(F.col(vec_col)).alias("_ncent"),
        )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cents = spark.read.parquet(f"{index_dir}/centroids")
    assigned = _assign_to_centroids(embs, cents, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(
        f"{index_dir}/corpus"
    )


def _assign_to_centroids(embs: DataFrame, cents: DataFrame,
                         id_col: str, vec_col: str) -> DataFrame:
    """Coarse-quantizer assignment shared by the IVF and IVF-PQ index
    builds — argmax cosine, ties to the smaller cid, the same math as
    :func:`ivf_topk`, so every write path lands vectors in the cluster a
    search will probe for them."""
    corpus = embs.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"),
        norm(F.col(vec_col)).alias("_nn"),
    )
    scored = corpus.join(F.broadcast(cents), F.lit(True)).withColumn(
        "cos_c", dot(F.col("nv"), F.col("cvec")) / (F.col("_nn") * F.col("_ncent"))
    )
    return scored.groupBy("neighbor_id").agg(
        F.max_by(F.col("cid"), F.struct(F.col("cos_c"), -F.col("cid"))).alias(
            "cluster_id"
        ),
        F.any_value(F.col("nv")).alias("nv"),
        F.any_value(F.col("_nn")).alias("_nn"),
    )


def search_ivf_index(spark, index_dir: str, queries: DataFrame, k: int = 5,
                     nprobe: int = 8, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Top-k search against a stored IVF index: probe the ``nprobe``
    nearest centroids per query, scan ONLY those cluster partitions
    (pushed partition filter on ``cluster_id`` — assert with
    ``PartitionFilters`` in the scan node), exact-cosine re-rank.
    Results are identical to :func:`ivf_topk` with the same parameters.
    """
    cents = spark.read.parquet(f"{index_dir}/centroids")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("_nq"),
    )
    qscored = q.join(F.broadcast(cents), F.lit(True)).withColumn(
        "cos_c", dot(F.col("qv"), F.col("cvec")) / (F.col("_nq") * F.col("_ncent"))
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid")
    )
    probes = (
        qscored.withColumn("probe_rank", F.row_number().over(wprobe))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qv", "_nq", F.col("cid").alias("cluster_id"))
    )
    # the probed cluster-id set is tiny (<= |Q|*nprobe values): pin it as
    # an IN-list literal so the parquet scan prunes whole partition
    # directories instead of reading every inverted list
    probe_ids = sorted(
        {r["cluster_id"] for r in probes.select("cluster_id").distinct().collect()}
    )
    if not probe_ids:  # no queries -> empty result, and isin([]) is invalid
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos_sim double, rank int"
        )
    corpus = spark.read.parquet(f"{index_dir}/corpus").filter(
        F.col("cluster_id").isin(probe_ids)
    )
    cands = corpus.join(F.broadcast(probes), "cluster_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    rescored = cands.withColumn(
        "cos_sim", dot(F.col("qv"), F.col("nv")) / (F.col("_nq") * F.col("_nn"))
    ).select("query_id", "neighbor_id", "cos_sim")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return rescored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def retrieval_metrics(result: DataFrame, truth: DataFrame, k: int,
                      query_col: str = "query_id",
                      item_col: str = "neighbor_id",
                      rank_col: str = "rank") -> DataFrame:
    """ANN quality audit: per-query ``recall@k`` and reciprocal rank of
    an approximate result list against an exact ground-truth list — the
    measurement half of every compression-tier trade-off (SQ8 / Hamming
    / JL / PQ all buy speed with recall; this prices it IN the engine
    instead of a notebook).

    Both inputs are ``(query, item, rank)`` top-k frames (ground truth
    from :func:`cosine_topk`). Outputs per query: ``n_hits`` (exact
    int), ``recall = n_hits/k`` and ``rr = 1/first-relevant-rank``
    (one IEEE division each, 6-dp rounded — engine-exact), with
    ``rr = 0.0`` when no relevant item appears.

    Scale: both sides are |Q|·k rows — the join is broadcast-sized
    regardless of corpus size; nothing here touches the corpus.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tr = truth.select(
        F.col(query_col).alias("__q"),
        F.col(item_col).alias("__i"),
        F.lit(1).alias("__hit"),
    )
    j = result.select(query_col, item_col, rank_col).join(
        F.broadcast(tr),
        (F.col(query_col) == F.col("__q"))
        & (F.col(item_col) == F.col("__i")),
        "left",
    )
    return (
        j.groupBy(query_col)
        .agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long").alias("n_hits"),
            F.min(F.when(F.col("__hit") == 1, F.col(rank_col)))
            .alias("__first"),
        )
        .select(
            query_col,
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(k)), 6).alias("recall"),
            F.coalesce(
                F.round(F.lit(1.0) / F.col("__first"), 6), F.lit(0.0)
            ).alias("rr"),
        )
    )
