"""Distributed dense linear algebra for embedding columns: mean,
covariance, PCA projection, whitening.

The training-data uses: PCA-reduce embeddings before ANN indexing
(cheaper probes at equal recall), whiten features before clustering
(k-means assumes isotropy), and audit representation collapse
(top-eigenvalue share ≈ anisotropy).

Shape: the only corpus-scale pass computes PARTIAL moments per Arrow
batch with NumPy (`mapInPandas`: count, sum vector, X^T X as a flat
d*(d+1)/2 upper triangle) — a few thousand doubles per partition
regardless of row count — then one tiny aggregation sums the partials
element-wise. The d×d eigen-decomposition runs on the DRIVER (d is the
embedding dim, 64–4096; the corpus length never appears in that cost),
exactly like k-means centroids (`operators/clustering.py`): small
model state driver-side, bulk data distributed. Projection is a
map-side Arrow batch matmul with the component matrix shipped as a
broadcast literal — the corpus never shuffles at any step.

Verified against NumPy (`np.cov` / `eigh`) on the collected fixture to
float tolerance; sign-ambiguity of eigenvectors is resolved by fixing
each component's largest-|weight| coordinate positive (deterministic
across runs and BLAS builds).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.sqltext import lit_double_array


def _moment_partials(dim: int, vec_col: str):
    tri = dim * (dim + 1) // 2

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(dim)
        xtx = np.zeros((dim, dim))
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            n += x.shape[0]
            s += x.sum(axis=0)
            xtx += x.T @ x
        iu = np.triu_indices(dim)
        yield pd.DataFrame(
            {
                "n": [n],
                "s": [s.tolist()],
                "xtx_tri": [xtx[iu].tolist()],
                "_tri": [tri],
            }
        )

    return run


def _reduced_frame(embs: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """The per-partition moment partials reduced DISTRIBUTEDLY to exactly
    ``1 + d + d(d+1)/2`` scalar ``(pos, v)`` rows: position 0 is the row
    count, 1..d the coordinate sums, the rest the X^T X upper triangle in
    ``np.triu_indices`` order. One position-explode + hash aggregation —
    the same reduce :func:`covariance_long` gates under q105 — so the
    driver-visible row count is a function of the embedding dim ONLY,
    never of the partition count (the r7 `moments` collected one O(d²)
    row per partition: O(partitions·d²) driver memory at cluster scale)."""
    partials = embs.select(vec_col).mapInPandas(
        _moment_partials(dim, vec_col),
        schema="n long, s array<double>, xtx_tri array<double>, _tri int",
    )
    return (
        partials.select(
            F.posexplode(
                F.concat(
                    F.array(F.col("n").cast("double")), "s", "xtx_tri"
                )
            )
        )
        .groupBy("pos")
        .agg(F.sum("col").alias("v"))
    )


def moments(embs: DataFrame, vec_col: str = "embedding", dim: int | None = None):
    """Corpus moments (n, mean, covariance) in ONE distributed pass.

    Returns ``(n, mean ndarray [d], cov ndarray [d,d])`` — population
    covariance (divide by n, matching ``stddev_pop`` conventions
    elsewhere). Driver memory: exactly ``1 + d + d(d+1)/2`` scalar rows
    (the distributed reduce in :func:`_reduced_frame`) — independent of
    the partition count, so a 10⁵-partition corpus costs the driver the
    same d² floats the eigen-decomposition needs anyway.
    """
    if dim is None:
        dim = len(embs.select(vec_col).first()[0])
    rows = _reduced_frame(embs, vec_col, dim).collect()
    flat = np.zeros(1 + dim + dim * (dim + 1) // 2)
    for r in rows:
        flat[r["pos"]] = r["v"]
    n = int(flat[0])
    if n == 0:
        raise ValueError("moments: empty input")
    s = flat[1 : 1 + dim]
    tri = flat[1 + dim :]
    xtx = np.zeros((dim, dim))
    iu = np.triu_indices(dim)
    xtx[iu] = tri
    xtx = xtx + xtx.T - np.diag(np.diag(xtx))
    mean = s / n
    cov = xtx / n - np.outer(mean, mean)
    return n, mean, cov


def covariance_long(embs: DataFrame, vec_col: str = "embedding",
                    dim: int | None = None) -> DataFrame:
    """Population covariance as a LONG-format DataFrame ``(i, j, cov)``
    over the upper triangle (i ≤ j, 0-based) — the fully DISTRIBUTED
    counterpart of :func:`moments`: the same one-pass Arrow partials,
    reduced by position-explode + hash aggregation instead of a driver
    collect, so nothing driver-side ever scales with the corpus (the
    driver builds only the O(d²/2) triangle-position index — the same
    d² budget :func:`pca_fit`'s eigh already assumes).

    The final arithmetic is pure column expressions
    (``sxx/n − (si/n)·(sj/n)``), so on integer-valued inputs (e.g. a
    quantized view — exact under IEEE summation in any order) the
    result replays bit-identically on any engine."""
    if dim is None:
        dim = len(embs.select(vec_col).first()[0])
    # ONE corpus pass + ONE explode/hash-agg reduce for n, the s-vector
    # AND the triangle together (:func:`_reduced_frame`: position 0 is
    # n, 1..d the sums, d+1.. the products), folded into a single
    # pos-ordered array row and expanded back to the (i, j) triangle
    # IN-ROW. The previous shape joined three broadcast subtrees (mi,
    # mj, n) against a pinned reduce — three broadcast-build jobs plus a
    # checkpoint per materialization, i.e. four extra driver syncs for
    # d² floats of model state. This is one linear chain: no pin, no
    # join, one job. Row sizes stay O(d): the i-explode carries only
    # row i's triangle slice (d−i values) and the d-vector of sums —
    # never the full d²/2 array per exploded row. n is exact as a
    # double for any count < 2^53 (sums of exact integer partials).
    fa = (
        _reduced_frame(embs, vec_col, dim)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("fa")
        )
    )
    # 1-based layout of fa: [1] = n, [2..d+1] = s, [d+2..] = triangle in
    # np.triu_indices row-major order; row i's (i,i) sits at
    # d + 2 + i·d − i(i−1)/2 and runs for d − i values
    i = F.col("i")
    tri_start = F.lit(dim + 2) + i * dim - (i * (i - 1)) / 2
    per_row = fa.select(
        F.element_at("fa", 1).alias("n"),
        F.slice("fa", 2, dim).alias("s_all"),
        F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("i"),
        "fa",
    ).select(
        "n", "s_all", "i",
        F.element_at("s_all", i + 1).alias("si"),
        F.slice("fa", tri_start.cast("int"), F.lit(dim) - i).alias("tri_i"),
    )
    n = F.col("n")
    j = F.col("i") + F.col("dj")
    return (
        per_row.select(
            "n", "i", "si", "s_all",
            F.posexplode("tri_i").alias("dj", "sxx"),
        )
        .select(
            "i",
            j.alias("j"),
            (F.col("sxx") / n
             - (F.col("si") / n) * (F.element_at("s_all", j + 1) / n))
            .alias("cov"),
        )
    )


def power_iteration_long(cov_long: DataFrame, dim: int, iters: int = 3,
                         scale: int = 1000) -> DataFrame:
    """Top eigenvector of a covariance given in LONG upper-triangle form
    (``(i, j, cov)``, the :func:`covariance_long` output) by ``iters``
    power-iteration steps — the distributed, ORACLE-REPLAYABLE
    counterpart of ``pca_fit``'s driver ``eigh`` for the k=1 case (the
    anisotropy / representation-collapse audit: top-eigenvalue share).

    Bit-stable across engines by construction:

    * the matrix is FLOOR-quantized once (integer-valued doubles), and
      the iterate ``v`` is kept integer-scaled (``·scale``), so every
      mat-vec product and sum is EXACT under IEEE in any order —
      group-by reduction order cannot matter;
    * the only inexact steps (norm fold, the ``w/‖w‖·scale``
      re-quantization, the final Rayleigh quotient) run as INDEX-ORDER
      sequential folds over ≤``dim`` values — the identical IEEE op
      sequence in the driver loop, the in-plan final step, and the
      DuckDB ``list_sum(list_transform(...))`` replay.

    Shape: iterations 1..iters−1 are driver-synchronized mat-vec jobs
    (the k-means pattern — driver state is the 64-int iterate, the
    matrix stays distributed and pinned); the FINAL step runs inside the
    returned plan (mat-vec, in-plan norm fold, re-quantize, Rayleigh
    quotient), so the timed query executes real distributed work.
    Returns ``(pos, v, lam)``: the scaled-integer eigenvector estimate
    and the (constant) 6-dp Rayleigh eigenvalue estimate.
    """
    from bloomy_etl_spark.session import pin

    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # full matrix from the upper triangle, floor-quantized to integers
    tri = cov_long.select("i", "j", F.floor("cov").alias("c"))
    full = pin(
        tri.unionByName(
            tri.filter(F.col("i") != F.col("j")).select(
                F.col("j").alias("i"), F.col("i").alias("j"), "c"
            )
        ),
        eager=False,
    )

    def matvec_df(v_int: list[int]) -> DataFrame:
        vlit = lit_double_array(v_int)
        return (
            full.withColumn(
                "t", F.col("c") * F.element_at(vlit, F.col("j") + 1)
            )
            .groupBy("i")
            .agg(F.sum("t").alias("w"))
        )

    v = [float(scale)] * dim  # deterministic all-equal start
    for _ in range(iters - 1):
        rows = matvec_df([int(x) for x in v]).collect()
        w = [0.0] * dim
        for r in rows:
            w[r["i"]] = r["w"]
        acc = 0.0
        for x in w:  # index-order fold, the exact op sequence SQL replays
            acc += x * x
        if acc == 0.0:
            raise ValueError("power iteration collapsed to the zero vector")
        nrm = acc ** 0.5
        v = [float(int(np.floor(x / nrm * scale))) for x in w]
    # final step in-plan: mat-vec -> one-row w array (pos-sorted) ->
    # index-order norm fold -> re-quantize -> Rayleigh quotient
    vlit = lit_double_array(v)
    warr = matvec_df([int(x) for x in v]).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "w"))),
            lambda s: s["w"],
        ).alias("ws")
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("ws", lambda x: x * x),
            F.lit(0.0), lambda a, b: a + b,
        )
    )
    num = F.aggregate(
        F.zip_with("ws", vlit, lambda w, vv: w * vv),
        F.lit(0.0), lambda a, b: a + b,
    )
    den = F.aggregate(
        F.transform(vlit, lambda x: x * x),
        F.lit(0.0), lambda a, b: a + b,
    )
    return (
        warr.select(
            F.posexplode("ws").alias("pos", "w"),
            nrm.alias("_n"),
            # Rayleigh quotient vᵀ(Cv)/(vᵀv), rescaled by 1/scale² ...
            # the C quantization already scaled variances by 1000², so
            # report in the quantized view's units like q105's cov
            F.round(num / den, 6).alias("lam"),
        )
        .select(
            "pos",
            # same collapse contract as the driver loop above: a zero
            # final iterate raises at execution instead of silently
            # emitting NULL rows (F.raise_error evaluates lazily, only
            # on the collapsed branch)
            F.when(
                F.col("_n") > 0,
                F.floor(F.col("w") / F.col("_n") * scale).cast("long"),
            ).otherwise(
                F.raise_error(
                    "power iteration collapsed to the zero vector"
                ).cast("long")
            ).alias("v"),
            "lam",
        )
    )


def pca_fit(embs: DataFrame, k: int, vec_col: str = "embedding"):
    """Top-k principal components of the embedding corpus.

    Returns ``(mean [d], components [k,d], explained_var [k])``, eigen-
    pairs of the population covariance sorted by descending eigenvalue.
    Deterministic: each component's largest-|weight| coordinate is made
    positive (eigh's sign choice varies by BLAS build).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _, mean, cov = moments(embs, vec_col)
    if k > cov.shape[0]:
        raise ValueError(f"k={k} exceeds embedding dim {cov.shape[0]}")
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # [k, d]
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, vals[order]


def pca_project(embs: DataFrame, mean, components,
                vec_col: str = "embedding",
                out_col: str = "pca") -> DataFrame:
    """Map-side projection ``(x - mean) @ components.T`` → adds
    ``out_col`` (array<double>, length k). The model (mean + k×d
    components) ships inside the Arrow-batch closure like a broadcast
    literal; no shuffle, no driver round-trips, whole rows stream
    through untouched."""
    mean = np.asarray(mean, dtype=np.float64)
    comps = np.asarray(components, dtype=np.float64)
    cols = embs.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                x = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
                )
                proj = (x - mean) @ comps.T
                pdf = pdf.assign(**{out_col: [row.tolist() for row in proj]})
            else:
                pdf = pdf.assign(**{out_col: []})
            yield pdf

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    schema = StructType(
        list(embs.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()))]
    )
    return embs.mapInPandas(run, schema=schema)


def whiten(embs: DataFrame, k: int, vec_col: str = "embedding",
           out_col: str = "white", eps: float = 1e-9) -> DataFrame:
    """PCA-whitening: project onto the top-k components and scale each
    coordinate to unit variance (``/ sqrt(eigenvalue)``). The isotropic
    input k-means and cosine-ANN implicitly assume."""
    mean, comps, vals = pca_fit(embs, k, vec_col)
    scaled = comps / np.sqrt(vals + eps)[:, None]
    return pca_project(embs, mean, scaled, vec_col, out_col)
