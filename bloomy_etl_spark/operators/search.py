"""Hybrid-retrieval fusion: combine a lexical and a semantic ranking
(q122)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame,
             id_col: str = "doc_id", score_a: str = "score_a",
             score_b: str = "score_b", topn: int = 50, k: int = 10,
             c: int = 60) -> DataFrame:
    """Hybrid-retrieval fusion by Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09): combine a lexical ranking (BM25/TF-IDF) and a semantic
    ranking (embedding cosine) without score calibration —
    ``rrf = Σ_lists 1/(c + rank)``, the standard first stage of a
    RAG / hybrid-search pipeline.

    Inputs are ``(id, score)`` frames with HIGHER-better, exactly
    orderable scores (integer-scaled or floor-quantized, per the repo
    gate discipline); ties break on id, so ranks — and therefore the
    fused scores — are engine-exact. ``rrf`` itself is the sum of two
    IEEE divisions of exact integers in a fixed order: bit-identical on
    any engine.

    Scale: each side reduces to its top-``topn`` via a distributed
    TakeOrdered (no global sort, no full-corpus window); ranking windows
    and the full-outer fusion join then touch only ≤ topn rows per side.
    Documents present in one list contribute a single reciprocal term
    (the standard RRF convention), surfaced with a NULL rank on the
    missing side.
    """
    outs = []
    for df, score, rname in (
        (ranked_a, score_a, "rank_a"), (ranked_b, score_b, "rank_b"),
    ):
        top = df.orderBy(F.col(score).desc(), F.col(id_col)).limit(topn)
        w = Window.orderBy(F.col(score).desc(), F.col(id_col))
        outs.append(
            top.withColumn(rname, F.row_number().over(w))
            .select(id_col, rname)
        )
    ra, rb = outs
    cc = F.lit(float(c))
    fused = ra.join(rb, id_col, "full_outer").select(
        F.col(id_col),
        "rank_a",
        "rank_b",
        (
            F.coalesce(F.lit(1.0) / (cc + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (cc + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col(id_col)).limit(k)
