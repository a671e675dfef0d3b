"""Granule statistics, granule gates, and the timestamp quality filter.

Reference parity:
  * per-granule pixel aggregates + contamination formula —
    ``/root/reference/core/processor.py:270-292`` (SURVEY A1, F12, F13);
  * timestamp quality filter — ``/root/reference/core/quality.py:17-96``
    (SURVEY F14, F15, W4, J3).

Scale notes: ``granule_stats`` is one hash-aggregate over the pixel table
(map-side partial agg; the groupBy key (tile_id, time) is the natural
partitioning of raster data, so at 100 TB with date-partitioned storage
this aggregates mostly within partitions). The quality filter operates on
the *stats* table — one row per granule — which is tiny at any raster
scale (100 TB of pixels ≈ millions of granules, still a trivially
windowable table). The window is ordered by time globally to replicate
the reference's global sorted list; ``partition_cols`` lets callers scope
it per tile/AOI for the scalable variant.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.indices import DEFAULT_QUALITY, QualityThresholds


def _as_int(col):
    return col.cast("int")


def granule_stats(masked_pixels: DataFrame) -> DataFrame:
    """Per-(tile_id, time) stats from a ``with_masks``+``with_indices`` frame.

    Contamination replicates the reference formula *literally*
    (core/processor.py:272): haze and invalid-NDVI counts are added
    separately from the OR'd radiometric anomalies, so a pixel matching
    two components counts twice (SURVEY §4.3.8 — do not "fix" this).

    ndvi_mean/ndvi_std are the null-skipping population stats of the
    masked NDVI (np.nanmean / np.nanstd ddof=0 → avg / stddev_pop,
    SURVEY §4.3.1-2).
    """
    total = F.count(F.lit(1))
    n_masked = F.sum(_as_int(F.col("mask")))
    contaminated = (
        F.sum(_as_int(F.col("haze")))
        + F.sum(_as_int(F.col("anomaly_low") | F.col("anomaly_high")))
        + F.sum(_as_int(F.col("invalid_ndvi")))
    )
    return masked_pixels.groupBy("tile_id", "time").agg(
        total.alias("total_px"),
        (total - n_masked).alias("valid_px"),
        ((total - n_masked) / total * 100.0).alias("valid_pixels_pct"),
        (contaminated / total * 100.0).alias("contamination_pct"),
        F.avg("ndvi").alias("ndvi_mean"),
        F.stddev_pop("ndvi").alias("ndvi_std"),
    )


def apply_granule_gates(
    stats: DataFrame, q: QualityThresholds = DEFAULT_QUALITY
) -> DataFrame:
    """Granule-level accept gates (core/processor.py:280-292): reject when
    contamination_pct > reject threshold OR valid pixels < min% of total.
    HAVING-shaped — a filter on the aggregate table."""
    return stats.filter(
        (F.col("contamination_pct") <= q.contamination_reject)
        & (F.col("valid_px") >= F.col("total_px") * (q.valid_pixels_min / 100.0))
    )


def filter_timestamps(
    stats: DataFrame,
    q: QualityThresholds = DEFAULT_QUALITY,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Timestamp quality filter (core/quality.py:17-96) → adds ``rejected``.

    Decision tree per granule, over the time-ordered *pre-filter* series
    (neighbors come from the unfiltered list — SURVEY §4.3.6):

      1. valid_pixels_pct < valid_pct_min            → reject (absolute)
      2. contamination_pct > contamination_high      → reject (absolute)
      3. suspicious (contamination > moderate OR
         (ndvi_mean < ndvi_low AND ndvi_std > ndvi_std_high)):
           drop = mean(neighbor ndvi_means) - ndvi_mean
           a. drop > ndvi_drop_threshold AND next exists AND
              (next_mean - ndvi_mean) > recovery_threshold → reject
           b. drop <= threshold AND contamination > 25     → reject
           c. otherwise                                    → keep
      4. fewer than 3 granules in the series → keep everything
         (core/quality.py:19-21).

    NULL fidelity: a granule whose NDVI is entirely masked has NULL
    ndvi_mean (reference: NaN). ``np.mean([nan, x])`` is NaN, so the
    neighbor average must *propagate* NULL when a neighbor row exists but
    its mean is NULL — hence the has_prev/has_next arithmetic below
    rather than a null-skipping avg over a window frame.
    """
    # Single-series window when no partition_cols (see
    # events.single_series_key); input is the per-granule stats table —
    # #granules rows, bounded at any pixel scale.
    from bloomy_etl_spark.operators.events import single_series_key

    key = list(partition_cols) if partition_cols else [single_series_key("time")]
    w = Window.partitionBy(*key).orderBy("time", "tile_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    rn = F.row_number().over(w)
    # Same (partition, order) spec as the lag/lead frames → Catalyst fuses
    # all of these into ONE WindowExec pass (no second all-rows window).
    n = F.count(F.lit(1)).over(wfull)
    prev_mean = F.lag("ndvi_mean", 1).over(w)
    next_mean = F.lead("ndvi_mean", 1).over(w)
    has_prev = rn > 1
    has_next = F.lead("time", 1).over(w).isNotNull()

    annotated = stats.select(
        "*",
        n.alias("_n"),
        has_prev.alias("_has_prev"),
        has_next.alias("_has_next"),
        prev_mean.alias("_prev_mean"),
        next_mean.alias("_next_mean"),
    )

    # NaN-propagating neighbor average: present-but-NULL neighbor → NULL.
    avg_neighbor = (
        F.when(
            F.col("_has_prev") & F.col("_has_next"),
            (F.col("_prev_mean") + F.col("_next_mean")) / 2.0,
        )
        .when(F.col("_has_prev"), F.col("_prev_mean"))
        .when(F.col("_has_next"), F.col("_next_mean"))
    )
    drop = avg_neighbor - F.col("ndvi_mean")
    recovery = F.col("_next_mean") - F.col("ndvi_mean")
    suspicious = (F.col("contamination_pct") > q.contamination_moderate) | (
        (F.col("ndvi_mean") < q.ndvi_low) & (F.col("ndvi_std") > q.ndvi_std_high)
    )

    rejected = (
        F.when(F.col("_n") < 3, F.lit(False))  # series too short: keep all
        .when(F.col("valid_pixels_pct") < q.valid_pct_min, F.lit(True))
        .when(F.col("contamination_pct") > q.contamination_high, F.lit(True))
        .when(
            suspicious,
            F.when(
                drop > q.ndvi_drop_threshold,
                F.when(
                    F.col("_has_next") & (recovery > q.recovery_threshold),
                    F.lit(True),
                ).otherwise(F.lit(False)),
            ).otherwise(
                # drop <= threshold, NULL drop (NaN in reference), or no
                # neighbors: the reference falls into the moderate-
                # contamination recheck only when neighbors exist and the
                # drop test was a plain False — replicate exactly.
                F.when(
                    (F.col("_has_prev") | F.col("_has_next"))
                    & ~F.coalesce(drop > q.ndvi_drop_threshold, F.lit(False))
                    & (
                        F.col("contamination_pct")
                        > q.contamination_moderate_reject
                    ),
                    F.lit(True),
                ).otherwise(F.lit(False))
            ),
        )
        .otherwise(F.lit(False))
    )

    return annotated.withColumn("rejected", rejected).drop(
        "_n", "_has_prev", "_has_next", "_prev_mean", "_next_mean"
    )
