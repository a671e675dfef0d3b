"""Distributed k-means (Lloyd) over embedding columns.

The iterative-algorithm pattern on Spark: per round, (1) ASSIGN — each
vector scores against the k centroids and takes the argmin — is a pure
map over the corpus with the centroids shipped as expression literals
(they are k·d doubles, driver-resident between rounds exactly like a
real k-means driver loop); (2) UPDATE — element-wise means per cluster —
is one position-explode + hash aggregate. Cost per round: one corpus
scan + one shuffle of (cluster, pos) partial sums; nothing driver-side
ever touches corpus rows.

Engine-stable determinism (the property that lets a DuckDB oracle replay
the algorithm exactly):

* init = the vectors of the ``k`` smallest ids (no RNG);
* argmin ties break on the lower cluster index (lexicographic struct
  min);
* centroid means are ROUNDED (6 dp) after every update, so the
  accumulated float differences between engines' summation orders
  (IEEE addition is not associative) are quantized away before they can
  flip an assignment;
* distance sums run in index order in both engines (``aggregate`` over
  ``zip_with`` here, ``list_sum`` over ``list_zip`` there).

Scale: assignment is embarrassingly parallel; the update shuffle carries
k·d partial means per task after map-side combine — independent of
corpus size. Empty clusters keep their previous centroid (standard
Lloyd fallback), so k is stable across rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.sqltext import double_array, ident


def _dist2_sql(vec_sql: str, centroid: list[float]) -> str:
    """SQL text of the squared L2 distance to a literal centroid, summed
    in index order, so an argmin over k centroids costs ONE driver→JVM
    call instead of ~k·(dim+10) (see ``functions.sqltext``)."""
    return (
        f"aggregate(zip_with({vec_sql}, {double_array(centroid)}, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, v) -> acc + v)"
    )


def _dist2_e6(vec_col: str, centroid: list[float], scale: int):
    """``floor(scale · d²)`` as int64 — the quantized squared distance
    every k-center decision compares (exact integer ties, oracle-
    replayable)."""
    return F.floor(
        F.expr(_dist2_sql(ident(vec_col), centroid)) * F.lit(float(scale))
    ).cast("long")


def assign_clusters(embs: DataFrame, centroids: list[list[float]],
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Label every vector with its nearest centroid (squared L2, ties to
    the lower cluster index) and the distance: columns ``cluster``,
    ``dist2`` appended. The scored array is rendered as one SQL string —
    k-means rebuilds this expression EVERY Lloyd round, so construction
    cost is per-round driver overhead."""
    scored = ",".join(
        f"named_struct('d', {_dist2_sql(ident(vec_col), c)}, 'c', {i})"
        for i, c in enumerate(centroids)
    )
    best = F.expr(f"array_min(array({scored}))")
    return embs.select(
        id_col, vec_col,
        best["c"].alias("cluster"), best["d"].alias("dist2"),
    )


def kmeans_lloyd(embs: DataFrame, k: int = 8, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 round_dp: int = 6) -> tuple[list[list[float]], DataFrame]:
    """Run ``iters`` Lloyd rounds; return ``(centroids, assignments)``
    where assignments carry each vector's FINAL cluster and squared
    distance (one extra assign pass against the final centroids)."""
    init = (
        embs.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    if len(init) < k:
        raise ValueError(
            f"k={k} exceeds the corpus size ({len(init)} vectors); "
            "every centroid needs a distinct seed vector"
        )
    centroids = [[float(x) for x in r[vec_col]] for r in init]
    dim = len(centroids[0])
    for _ in range(iters):
        assigned = assign_clusters(embs, centroids, id_col, vec_col)
        pe = assigned.select("cluster", F.posexplode(F.col(vec_col)))
        means = (
            pe.groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("col").cast("double")), round_dp).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cent")
            )
            .collect()
        )
        new = {r["cluster"]: [float(x) for x in r["cent"]] for r in means}
        # empty clusters keep their previous centroid
        centroids = [new.get(i, centroids[i]) for i in range(k)]
        assert all(len(c) == dim for c in centroids)
    return centroids, assign_clusters(embs, centroids, id_col, vec_col)


def kmeans_summary(embs: DataFrame, k: int = 8, iters: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Per-cluster rollup of the converged assignment: member count,
    inertia (sum of squared distances), and the centroid's L2 norm."""
    centroids, assigned = kmeans_lloyd(embs, k, iters, id_col, vec_col)
    norms = {
        i: sum(x * x for x in c) ** 0.5 for i, c in enumerate(centroids)
    }
    spark = embs.sparkSession
    norm_df = spark.createDataFrame(
        [(i, norms[i]) for i in range(k)], "cluster int, centroid_norm double"
    )
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("dist2"), 2).alias("inertia"),
        )
        .join(F.broadcast(norm_df), "cluster")
        .select(
            "cluster", "n_vecs", "inertia", F.round("centroid_norm", 4).alias("centroid_norm")
        )
    )


def kcenter_greedy(embs: DataFrame, k: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   scale: int = 1_000_000) -> DataFrame:
    """Greedy k-center / farthest-point-traversal coreset selection —
    the diversity-sampling primitive behind coreset curation (pick the
    k vectors that COVER embedding space, not the k densest): seed at
    the smallest id, then k−1 rounds of "take the point farthest from
    everything selected so far" (2-approximation to the optimal
    k-center cover, Gonzalez 1985).

    Determinism / oracle-replayability: every pairwise squared-L2
    distance is quantized to ``floor(scale·d²)`` int64 the moment it is
    computed (the fold runs in index order in both engines, the q54
    convention), so the per-point min over selected centers, the
    argmax-with-min-id tie-break, and the final nearest-center
    assignment (ties to the earlier round) are all exact integer
    decisions.

    Scale shape: each round is ONE corpus map (distances to ≤ k literal
    centers, no join, no shuffle) plus a TakeOrdered(1) — the classic
    k-pass pattern with O(k·d) driver state; the only shuffle in the
    whole operator is the final k-key coverage count. At a 100 TB
    corpus you run the identical plan; rounds cost k scans, which is
    why production k stays small (coresets, seed pools) — for large k
    you switch to k-means++ oversampling (q54's family).

    Returns one row per selected center: ``(round, vec_id, radius_e6,
    n_assigned)`` where ``radius_e6`` is the point's min squared
    distance to the previously selected set at selection time (the
    non-increasing coverage-radius curve; 0 for the seed) and
    ``n_assigned`` the corpus points nearest to this center.
    """
    first = embs.select(id_col, vec_col).orderBy(id_col).limit(1).collect()
    if not first:
        raise ValueError("kcenter_greedy: empty corpus")
    centers = [(0, first[0][id_col],
                [float(x) for x in first[0][vec_col]], 0)]

    for r in range(1, k):
        mind = F.array_min(F.array(*[
            _dist2_e6(vec_col, c, scale) for _, _, c, _ in centers
        ]))
        pick = (
            embs.filter(
                ~F.col(id_col).isin([i for _, i, _, _ in centers])
            )
            .select(id_col, vec_col, mind.alias("__mind"))
            .orderBy(F.col("__mind").desc(), F.col(id_col).asc())
            .limit(1)
            .collect()
        )
        if not pick:
            break
        row = pick[0]
        centers.append(
            (r, row[id_col], [float(x) for x in row[vec_col]],
             int(row["__mind"]))
        )

    nearest = F.array_min(
        F.array(*[
            F.struct(_dist2_e6(vec_col, c, scale).alias("d"),
                     F.lit(r).alias("r"))
            for r, _, c, _ in centers
        ])
    )
    cover = (
        embs.select(nearest["r"].alias("round"))
        .groupBy("round")
        .agg(F.count(F.lit(1)).alias("n_assigned"))
    )
    spark = embs.sparkSession
    cdf = spark.createDataFrame(
        [(r, i, rad) for r, i, _, rad in centers],
        "round int, vec_id long, radius_e6 long",
    )
    return (
        F.broadcast(cdf)
        .join(cover, "round", "left")
        .na.fill({"n_assigned": 0})
        .select("round", "vec_id", "radius_e6",
                F.col("n_assigned").cast("long").alias("n_assigned"))
    )
