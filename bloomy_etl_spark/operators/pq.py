"""Product quantization (PQ) for embedding corpora: train, encode,
asymmetric-distance search.

The memory wall at 100 TB is the EMBEDDINGS, not the text: a 768-dim
float32 vector is 3 KB; the same vector PQ-encoded with m=8 subspaces ×
256 centroids is 8 BYTES (384× smaller), and ADC search scans codes with
table lookups instead of float dot products. This module is the
compression half of the classic IVF-PQ design (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011); the coarse
half (inverted lists, partition-pruned probes) already exists in
``similarity.build_ivf_index``/``search_ivf_index`` — compose them by
PQ-encoding each inverted list's residuals or raw vectors.

Spark shapes:

* **train** — m independent k-means over subvector SLICES; each reuses
  ``clustering.kmeans_lloyd`` (corpus-parallel assign, one (cluster,pos)
  shuffle per round, k·dsub driver floats). Codebooks are tiny
  (m·ksub·dsub doubles) and live as expression literals thereafter.
* **encode** — pure column expression: per subspace an ``array_min``
  over ksub (dist², idx) structs; no UDF, no shuffle, pipelined with the
  scan. Ties break to the lower code index (deterministic).
* **search (ADC)** — the query builds m lookup tables of ksub distances
  DRIVER-side (m·ksub floats); the corpus scan then scores each code
  row as Σ_m LUT[m][code_m] via ``element_at`` on literal arrays — one
  corpus map + a top-k sort, zero Python in the hot path.

Determinism: kmeans_lloyd's no-RNG init + quantized means, and
lower-index tie-breaks everywhere, so the whole train/encode/search
pipeline replays identically across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.sqltext import (
    double_array, ident, lit_double_array, lit_double_matrix,
)
from bloomy_etl_spark.operators.clustering import kmeans_lloyd

__all__ = ["train_pq", "pq_encode", "pq_search", "pq_search_batch",
           "build_ivfpq_index", "search_ivfpq_index", "search_ivfpq_refined"]


def _check_dims(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m} subspaces")
    return dim // m


def train_pq(embs: DataFrame, m: int = 4, ksub: int = 16, iters: int = 2,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> list[list[list[float]]]:
    """Train ``m`` subspace codebooks of ``ksub`` centroids each.

    Returns ``codebooks[s][c]`` = centroid ``c`` of subspace ``s`` (a
    dsub-float list). Each subspace trains with the deterministic
    Lloyd's in ``clustering.kmeans_lloyd`` on a sliced view of the
    corpus — m sequential corpus-parallel jobs, driver state bounded by
    m·ksub·dsub floats.
    """
    first = embs.select(vec_col).first()
    if first is None:
        raise ValueError("cannot train PQ on an empty corpus")
    dsub = _check_dims(len(first[vec_col]), m)
    codebooks = []
    for s in range(m):
        sub = embs.select(
            F.col(id_col).alias("vec_id"),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("embedding"),
        )
        cents, _ = kmeans_lloyd(sub, k=ksub, iters=iters)
        codebooks.append(cents)
    return codebooks


def _sub_dist2_sql(vec_sql: str, s: int, dsub: int,
                   centroid: list[float]) -> str:
    """SQL text of the squared L2 from subvector ``s`` of ``vec_sql`` to a
    literal centroid, summed in index order (engine-stable). Rendered as
    a string because encode embeds m·ksub·dsub literals (see
    ``functions.sqltext``)."""
    return (
        f"aggregate(zip_with(slice({vec_sql}, {s * dsub + 1}, {dsub}), "
        f"{double_array(centroid)}, (a, b) -> (a - b) * (a - b)), 0.0D, "
        "(acc, d) -> acc + d)"
    )


def pq_encode(embs: DataFrame, codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as ``codes: array<int>`` (one code per
    subspace, nearest centroid, ties to the lower index). Expression-
    only — pipelines with the scan at any corpus size. The whole codes
    expression is rendered as ONE SQL string so construction costs one
    driver→JVM call instead of ~m·ksub·dsub."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    vec_sql = ident(vec_col)
    subs = []
    for s in range(m):
        scored = ",".join(
            f"named_struct('d', {_sub_dist2_sql(vec_sql, s, dsub, c)}, "
            f"'c', {i})"
            for i, c in enumerate(codebooks[s])
        )
        subs.append(f"array_min(array({scored})).c")
    codes_sql = "array(" + ",".join(subs) + ")"
    return embs.select(
        F.col(id_col).alias(id_col), F.expr(codes_sql).alias("codes")
    )


def pq_search(codes: DataFrame, codebooks: list[list[list[float]]],
              query: list[float], k: int = 5,
              id_col: str = "vec_id") -> DataFrame:
    """ADC top-k: score = Σ over subspaces of LUT[s][code_s], where
    LUT[s][c] = ‖query_s − codebook[s][c]‖² is computed driver-side
    (m·ksub floats). Returns (id, adc_dist2, rank) rows, rank 1..k,
    ties broken on id. One corpus map + a k-row sort; the only data
    moved is the top-k."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if len(query) != m * dsub:
        raise ValueError(
            f"query dim {len(query)} != codebook dim {m * dsub}"
        )
    luts = []
    for s in range(m):
        qs = query[s * dsub:(s + 1) * dsub]
        luts.append([
            sum((a - b) * (a - b) for a, b in zip(qs, c))
            for c in codebooks[s]
        ])
    score = None
    for s in range(m):
        lut = lit_double_array(luts[s])
        term = F.element_at(lut, F.element_at(F.col("codes"), s + 1) + 1)
        score = term if score is None else score + term
    scored = codes.select(F.col(id_col), score.alias("adc_dist2"))
    # orderBy+limit plans as TakeOrderedAndProject — a distributed
    # per-partition top-k merge, NOT a global sort; the unpartitioned
    # row_number window then ranks only the k survivors (bounded)
    topk = scored.orderBy(F.col("adc_dist2").asc(), F.col(id_col).asc()).limit(k)
    # rank on the UNROUNDED distance (same ordering the limit(k) cut
    # used), THEN round for output — ranking the rounded column would
    # re-order by id within sub-1e-6 ties and disagree with the cut
    w = F.row_number().over(
        Window.orderBy(F.col("adc_dist2").asc(), F.col(id_col).asc())
    )
    return topk.withColumn("rank", w).select(
        id_col, F.round("adc_dist2", 6).alias("adc_dist2"), "rank",
    )


def _dim_guard(vec_col: str, want: int):
    """Lazy in-plan dimension check: passes matching rows through,
    raises USER_RAISED_EXCEPTION at EXECUTION time on a mismatch — no
    extra driver job at plan-build, and still no silent NULL-padded
    zip_with garbage at rank 1."""
    return F.when(F.size(F.col(vec_col)) == want, F.lit(True)).otherwise(
        F.raise_error(F.concat(
            F.lit("query dim "), F.size(F.col(vec_col)).cast("string"),
            F.lit(f" != codebook dim {want}"),
        ))
    )


def _decoded_expr(codebooks: list[list[list[float]]], codes_col="codes"):
    """PQ reconstruction as a literal-codebook column expression:
    ``flatten([codebook[s][codes[s]] for s])`` — the decoded vector a
    code row represents, usable in any distance expression with zero
    Python in the plan."""
    m = len(codebooks)
    cb_lits = [lit_double_matrix(book) for book in codebooks]
    return F.flatten(F.array(*[
        F.element_at(cb_lits[s], F.element_at(F.col(codes_col), s + 1) + 1)
        for s in range(m)
    ]))


def pq_search_batch(codes: DataFrame, codebooks: list[list[list[float]]],
                    queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """ADC top-k for a WHOLE DataFrame of queries in one distributed
    pass: broadcast the (small) query set against the code list and
    score each candidate as ‖q − decode(codes)‖² — the same squared
    terms as :func:`pq_search`'s per-query LUT, accumulated in full
    index order over the decoded vector (LUT sums per-subspace
    subtotals instead; equal to ~1 ulp, identical after the 6-dp
    round). Any number of queries shares one corpus scan. Returns
    (query_id, neighbor_id, adc_dist2, rank)."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).filter(_dim_guard("qv", m * dsub))
    cand = codes.withColumnRenamed(id_col, "neighbor_id").join(
        F.broadcast(q), F.lit(True)
    )
    adc = F.aggregate(
        F.zip_with(F.col("qv"), _decoded_expr(codebooks),
                   lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("adc_dist2", adc)
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round("adc_dist2", 6).alias("adc_dist2"), "rank")
    )


def build_ivfpq_index(embs: DataFrame, index_dir: str, m: int = 4,
                      ksub: int = 16, iters: int = 2,
                      centroid_stride: int = 40, max_centroids: int = 256,
                      residual: bool = False,
                      codebooks: list[list[list[float]]] | None = None,
                      keep_raw: bool = False,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> list[list[list[float]]]:
    """IVF-PQ: the coarse inverted-list layout of
    ``similarity.build_ivf_index`` with PQ CODES in the lists instead of
    raw vectors — the full Jégou et al. design, and the layout that
    makes a 100 TB vector corpus searchable from object storage:
    ``nprobe/K`` of the FILES are read per query (partition pruning) and
    each file holds m-byte codes, not 4·d-byte vectors.

    Layout: ``{index_dir}/centroids`` (coarse quantizer, as IVF),
    ``{index_dir}/codebooks`` ((s, c, cvec) rows — m·ksub·dsub doubles),
    ``{index_dir}/corpus`` ((neighbor_id, codes) partitioned by
    cluster_id), ``{index_dir}/meta`` (one row recording the encoding).
    ``residual=True`` PQ-encodes ``v − coarse_centroid(v)`` instead of
    the raw vectors — the classic accuracy refinement (residuals are
    smaller and better centered, so the same m·ksub budget quantizes
    them with less error); the code layout is identical, only the
    reader's reconstruction changes (decode + add centroid back).
    ``keep_raw=True`` additionally persists ``{index_dir}/raw`` —
    raw-vector inverted lists for :func:`search_ivfpq_refined`'s exact
    re-rank tier (always the ORIGINAL vectors, even on residual
    indexes: exact distances need v, not v − centroid).
    Returns the trained codebooks.
    """
    from bloomy_etl_spark.functions.vectors import norm as _vnorm
    from bloomy_etl_spark.operators.similarity import _assign_to_centroids

    spark = embs.sparkSession
    cents = embs.filter(
        (F.col(id_col) % centroid_stride == 0)
        & (F.col(id_col) < centroid_stride * max_centroids)
    ).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"),
        _vnorm(F.col(vec_col)).alias("_ncent"),
    )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    cents = spark.read.parquet(f"{index_dir}/centroids")

    assigned = _assign_to_centroids(embs, cents, id_col, vec_col)
    from bloomy_etl_spark.session import pin

    if keep_raw:
        # with a second consumer (the raw-list write) the assignment is
        # referenced twice — pin it so the O(n·K·d) coarse-assignment
        # cross join executes once
        assigned = pin(assigned, eager=False)
        # raw-vector inverted lists, cluster-partitioned like the code
        # lists: the exact-re-rank tier of the classic two-stage search
        # (Jégou et al. §V). At 100 TB the codes live hot (m bytes/row),
        # the raw lists live in cheap object storage and are read ONLY
        # for the per-query shortlist (partition pruning + an id-pushed
        # filter), never scanned.
        (
            assigned.select("neighbor_id", "cluster_id",
                            F.col("nv").alias("vec"))
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(f"{index_dir}/raw")
        )
    enc_input = pin(_encode_input(assigned, cents, residual), eager=False)

    if codebooks is None:
        if residual:
            codebooks = train_pq(enc_input, m=m, ksub=ksub, iters=iters,
                                 id_col="neighbor_id", vec_col="nv")
        else:
            # raw codebooks don't depend on the assignment at all —
            # train straight on the corpus, skipping the cross join in
            # the training lineage entirely
            codebooks = train_pq(embs, m=m, ksub=ksub, iters=iters,
                                 id_col=id_col, vec_col=vec_col)
    # else: caller-supplied codebooks must have been trained on the same
    # encoding (raw vs residual) they are reused for
    cb_rows = [
        (s, c, [float(x) for x in vec])
        for s, book in enumerate(codebooks)
        for c, vec in enumerate(book)
    ]
    spark.createDataFrame(
        cb_rows, "s int, c int, cvec array<double>"
    ).write.mode("overwrite").parquet(f"{index_dir}/codebooks")
    spark.createDataFrame(
        [(bool(residual), m, ksub)], "residual boolean, m int, ksub int"
    ).write.mode("overwrite").parquet(f"{index_dir}/meta")

    coded = pq_encode(enc_input, codebooks, id_col="neighbor_id",
                      vec_col="nv")
    (
        enc_input.select("neighbor_id", "cluster_id")
        .join(coded, "neighbor_id")
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{index_dir}/corpus")
    )
    return codebooks


def _load_codebooks(spark, index_dir: str) -> list[list[list[float]]]:
    """Read the stored (s, c, cvec) codebook rows back into the nested
    list shape train_pq returns."""
    cb_rows = spark.read.parquet(f"{index_dir}/codebooks").collect()
    m = 1 + max(r["s"] for r in cb_rows)
    ksub = 1 + max(r["c"] for r in cb_rows)
    codebooks: list[list[list[float]]] = [
        [None] * ksub for _ in range(m)  # type: ignore[list-item]
    ]
    for r in cb_rows:
        codebooks[r["s"]][r["c"]] = [float(x) for x in r["cvec"]]
    return codebooks


def _load_residual_flag(spark, index_dir: str) -> bool:
    from pyspark.errors import AnalysisException

    try:
        return bool(
            spark.read.parquet(f"{index_dir}/meta").first()["residual"]
        )
    except AnalysisException:  # no meta path: pre-meta (r6) = raw
        return False
    # any OTHER failure (IO, permissions, corrupt footer) propagates —
    # silently assuming raw would score a residual index with the wrong
    # formula and return garbage top-k without an error


def _encode_input(assigned: DataFrame, cents: DataFrame,
                  residual: bool) -> DataFrame:
    """(neighbor_id, cluster_id, nv) rows ready for pq_encode — nv is
    the raw vector, or the residual v − assigned_centroid."""
    if not residual:
        return assigned.select("neighbor_id", "cluster_id", "nv")
    cj = F.broadcast(
        cents.select(F.col("cid").alias("cluster_id"), "cvec")
    )
    return assigned.join(cj, "cluster_id").select(
        "neighbor_id", "cluster_id",
        F.zip_with(
            F.col("nv"), F.col("cvec"),
            lambda a, b: a.cast("double") - b.cast("double"),
        ).alias("nv"),
    )


def search_ivfpq_index(spark, index_dir: str, queries: DataFrame,
                       k: int = 5, nprobe: int = 8,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ search: probe the ``nprobe`` nearest coarse centroids per
    query (cosine, as the IVF builder assigns), partition-prune the code
    lists to the probed clusters, ADC-score the candidates (squared L2
    between the query and each candidate's PQ reconstruction — computed
    as a column expression against the codebook literals, so any number
    of queries scores in one distributed pass), and return the per-query
    top-k as (query_id, neighbor_id, adc_dist2, rank).

    Residual-encoded indexes (see :func:`build_ivfpq_index`) are
    detected from ``{index_dir}/meta`` and scored as
    ``‖(q − coarse_centroid) − decode(codes)‖²`` — algebraically the
    distance to the reconstruction ``centroid + decode(codes)`` the
    codes actually represent."""
    scored, probe_ids = _ivfpq_scored_candidates(
        spark, index_dir, queries, nprobe, id_col, vec_col
    )
    if not probe_ids:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, adc_dist2 double, rank int"
        )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round("adc_dist2", 6).alias("adc_dist2"), "rank")
    )


def _ivfpq_scored_candidates(spark, index_dir: str, queries: DataFrame,
                             nprobe: int, id_col: str, vec_col: str):
    """Shared front half of IVF-PQ search: probe selection, partition-
    pruned code-list read, ADC scoring. Returns ``(scored, probe_ids)``
    where ``scored`` has (query_id, qv, neighbor_id, adc_dist2) — one
    row per candidate — and ``probe_ids`` is the sorted list of probed
    clusters (empty ⇒ no queries)."""
    from bloomy_etl_spark.functions.vectors import dot as _vdot
    from bloomy_etl_spark.functions.vectors import norm as _vnorm

    cents = spark.read.parquet(f"{index_dir}/centroids")
    codebooks = _load_codebooks(spark, index_dir)
    residual = _load_residual_flag(spark, index_dir)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    # zip_with over mismatched lengths null-pads → NULL adc_dist2, and
    # ascending sort is NULLS FIRST — the lazy guard raises at execution
    # instead of silently returning garbage at rank 1, and costs no
    # extra plan-build job (the old first() probe scanned per call)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        _vnorm(F.col(vec_col)).alias("_nq"),
    ).filter(_dim_guard("qv", m * dsub))
    scored_c = q.join(F.broadcast(cents), F.lit(True)).withColumn(
        "cos_c",
        _vdot(F.col("qv"), F.col("cvec")) / (F.col("_nq") * F.col("_ncent")),
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("cos_c").desc(), F.col("cid")
    )
    probes = (
        scored_c.withColumn("pr", F.row_number().over(wprobe))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", F.col("cid").alias("cluster_id"), "cvec")
    )
    probe_ids = sorted(
        {r["cluster_id"]
         for r in probes.select("cluster_id").distinct().collect()}
    )
    if not probe_ids:
        return None, []
    corpus = spark.read.parquet(f"{index_dir}/corpus").filter(
        F.col("cluster_id").isin(probe_ids)
    )
    cand = probes.join(corpus, "cluster_id")
    # residual index: codes quantize v − centroid, so compare against
    # q − centroid of the PROBED cluster (same cluster the codes used)
    qeff = (
        F.zip_with(F.col("qv"), F.col("cvec"),
                   lambda a, b: a.cast("double") - b.cast("double"))
        if residual else F.col("qv")
    )
    adc = F.aggregate(
        F.zip_with(qeff, _decoded_expr(codebooks),
                   lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    scored = cand.withColumn("adc_dist2", adc).select(
        "query_id", "qv", "neighbor_id", "adc_dist2"
    )
    return scored, probe_ids


def search_ivfpq_refined(spark, index_dir: str, queries: DataFrame,
                         k: int = 5, nprobe: int = 8,
                         shortlist: int | None = None,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Two-stage IVF-PQ search with EXACT re-rank — the standard second
    stage of Jégou et al. (§V, "re-ranking with source coding"): the ADC
    pass over the compressed code lists produces a per-query SHORTLIST
    of ``shortlist`` candidates (default 4·k); only those rows are then
    fetched from the raw-vector inverted lists (``{index_dir}/raw``,
    written by ``build_ivfpq_index(keep_raw=True)``) and re-ranked by
    exact squared L2. Recall can only improve over plain ADC at equal
    nprobe: the true top-k that survive the shortlist are re-ordered
    correctly instead of by quantized distance.

    Scale shape: the raw read is partition-pruned to the probed clusters
    AND filtered to the shortlist's neighbor ids (a pushed-down IN list
    of ≤ |queries|·shortlist ids — driver-bounded, like the probe list),
    so the expensive raw tier serves point-lookups, never scans. Returns
    (query_id, neighbor_id, exact_dist2, rank), ties to the lower id.
    """
    import os

    from bloomy_etl_spark.session import pin

    if shortlist is None:
        shortlist = 4 * k
    if shortlist < k:
        raise ValueError(f"shortlist {shortlist} < k {k}")
    if not os.path.isdir(f"{index_dir}/raw"):
        raise ValueError(
            f"no raw tier at {index_dir}/raw — refined search needs an "
            "index built with build_ivfpq_index(..., keep_raw=True) "
            "(the default keep_raw=False stores only the m-byte codes)"
        )
    scored, probe_ids = _ivfpq_scored_candidates(
        spark, index_dir, queries, nprobe, id_col, vec_col
    )
    if not probe_ids:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, exact_dist2 double, rank int"
        )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist2").asc(), F.col("neighbor_id").asc()
    )
    # pinned: referenced by the id-collect below and the re-rank join
    short = pin(
        scored.withColumn("sr", F.row_number().over(ws))
        .filter(F.col("sr") <= shortlist)
        .select("query_id", "qv", "neighbor_id"),
        eager=False,
    )
    short_ids = sorted(
        {r["neighbor_id"]
         for r in short.select("neighbor_id").distinct().collect()}
    )
    raw = spark.read.parquet(f"{index_dir}/raw").filter(
        F.col("cluster_id").isin(probe_ids)
        & F.col("neighbor_id").isin(short_ids)
    )
    exact = F.aggregate(
        F.zip_with(F.col("qv"), F.col("vec"),
                   lambda a, b: (a.cast("double") - b.cast("double"))
                   * (a.cast("double") - b.cast("double"))),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("exact_dist2").asc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(raw.select("neighbor_id", "vec"), "neighbor_id")
        .withColumn("exact_dist2", exact)
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round("exact_dist2", 6).alias("exact_dist2"), "rank")
    )
