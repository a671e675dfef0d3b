"""ANALYZE-style table statistics in one distributed pass.

The numbers a query planner (or a human sizing a pipeline) needs before
touching a new table: row count, per-column null fraction, approximate
distinct count, min/max for orderable types, average length for
strings. Feeds decisions this engine makes explicitly elsewhere —
broadcast-side choice, file layout (`sinks/layout.py`), LSH banding
parameters (dedup docstrings) — and is
the same shape `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` stores
into a real catalog.

Scale: ONE aggregation job regardless of column count — every statistic
is an expression in a single ``agg`` (HLL sketches for ndv, so memory is
per-column-constant), with map-side partial aggregation doing the heavy
lifting. Nothing is collected but the one stats row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ORDERABLE = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType, T.TimestampNTZType, T.StringType,
)


def collect_table_stats(df: DataFrame, rsd: float = 0.05) -> dict:
    """Profile ``df`` in one pass; returns
    ``{"n_rows": N, "columns": {name: {...per-column stats...}}}``.

    Per column: ``nulls``, ``null_frac``, ``approx_ndv`` (HLL++, relative
    error ``rsd``), plus ``min``/``max`` for orderable types and
    ``avg_len`` for strings. Complex types (arrays, structs, maps) get
    counts only — min/max over them is not meaningful for planning.
    """
    exprs = [F.count(F.lit(1)).alias("__n")]
    for f in df.schema.fields:
        c, q = f.name, F.col(f.name)
        exprs.append(F.sum(q.isNull().cast("long")).alias(f"__nulls__{c}"))
        exprs.append(F.approx_count_distinct(q, rsd).alias(f"__ndv__{c}"))
        if isinstance(f.dataType, _ORDERABLE):
            exprs.append(F.min(q).alias(f"__min__{c}"))
            exprs.append(F.max(q).alias(f"__max__{c}"))
        if isinstance(f.dataType, T.StringType):
            exprs.append(F.avg(F.length(q)).alias(f"__len__{c}"))
    row = df.agg(*exprs).first().asDict()
    n = row["__n"]
    cols: dict[str, dict] = {}
    for f in df.schema.fields:
        c = f.name
        stats = {
            "type": f.dataType.simpleString(),
            "nulls": row[f"__nulls__{c}"],
            "null_frac": round(row[f"__nulls__{c}"] / n, 6) if n else None,
            "approx_ndv": row[f"__ndv__{c}"],
        }
        if f"__min__{c}" in row:
            stats["min"] = row[f"__min__{c}"]
            stats["max"] = row[f"__max__{c}"]
        if f"__len__{c}" in row and row[f"__len__{c}"] is not None:
            stats["avg_len"] = round(row[f"__len__{c}"], 2)
        cols[c] = stats
    return {"n_rows": n, "columns": cols}


def estimate_join_cardinality(a: DataFrame, b: DataFrame,
                              a_key: str, b_key: str,
                              k: int = 4096) -> dict:
    """Pre-join size estimate from KMV sketches — answer "how big is
    this join going to be" WITHOUT running it, the number that decides
    broadcast vs shuffle vs salt before a 100 TB join is launched.

    Model: per side, one aggregation yields row count, distinct key
    count (KMV), and the global KMV sketch of the key; the two sketches
    intersect (Beyer et al., same machinery as
    ``operators/sketches.py::kmv_overlap_cols``) to estimate how many
    key VALUES match; assuming per-key multiplicities independent of
    membership (the textbook System-R uniformity assumption — exact
    for keys with uniform fan-out, an estimate otherwise), expected
    output rows ≈ matching_keys · (rows_a/ndv_a) · (rows_b/ndv_b).

    Cost: two aggregation jobs (one per side) with bounded shuffle
    (≤ 64·k hashes each), two driver-side ≤k arrays. Every estimate is
    EXACT when both key sets stay below k (the same exact-below-k
    regime q79 pins against its oracle).

    Returns ``{rows_a, rows_b, ndv_a, ndv_b, matching_keys, est_rows}``
    (counts as floats — they are estimates outside the exact regime).
    """
    from bloomy_etl_spark.operators.sketches import (
        kmv_build,
        kmv_estimate_col,
        kmv_overlap_cols,
    )

    def side(df: DataFrame, key: str) -> tuple[int, DataFrame]:
        n = df.count()
        return n, kmv_build(df, [], key, k=k)

    n_a, sk_a = side(a, a_key)
    n_b, sk_b = side(b, b_key)
    pair = sk_a.select(F.col("kmv").alias("ka")).crossJoin(
        sk_b.select(F.col("kmv").alias("kb"))
    )
    est = kmv_overlap_cols(F.col("ka"), F.col("kb"), k)
    row = pair.select(
        kmv_estimate_col(F.col("ka"), k).alias("ndv_a"),
        kmv_estimate_col(F.col("kb"), k).alias("ndv_b"),
        est["est_inter"].alias("matching"),
    ).first()
    ndv_a, ndv_b, matching = row["ndv_a"], row["ndv_b"], row["matching"]
    est_rows = (
        matching * (n_a / ndv_a) * (n_b / ndv_b) if ndv_a and ndv_b else 0.0
    )
    return {
        "rows_a": n_a,
        "rows_b": n_b,
        "ndv_a": ndv_a,
        "ndv_b": ndv_b,
        "matching_keys": matching,
        "est_rows": est_rows,
    }
