"""Vegetation-index + mask-stack column expressions (reference parity).

Re-expresses the reference's fused per-granule NumPy sweep
(``/root/reference/core/processor.py:258-301``) as Catalyst column
expressions over a long-format pixel table
``(tile_id, time, y, x, red, nir, blue, fmask)``.

Semantic fidelity rules (SURVEY.md §4.3):
  * missing data is NULL, never NaN — Spark's null-skipping aggregates
    then behave exactly like ``np.nanmean``/``np.nanstd``;
  * masked pixels get NULL ndvi/evi (reference assigns NaN,
    processor.py:297-298);
  * the NDVI denominator keeps the ``+1e-6`` epsilon (processor.py:265);
  * clip bounds: ndvi [-1, 1], evi [-3, 3] (processor.py:300-301).

Everything here is whole-stage-codegen'd JVM expressions — no UDFs —
so the mask stack costs one scan at any scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class QualityThresholds:
    """Mirror of the reference's frozen threshold dataclass
    (``/root/reference/config/settings.py:4-26``)."""

    contamination_reject: float = 30.0
    valid_pixels_min: float = 10.0
    red_nir_low: float = 100.0
    red_nir_high: float = 10000.0
    blue_haze: float = 1500.0
    ndvi_max: float = 0.95
    ndvi_min: float = -0.5
    valid_pct_min: float = 20.0
    contamination_high: float = 30.0
    contamination_moderate: float = 20.0
    # hardcoded literal in the reference (core/quality.py:82), not a field
    contamination_moderate_reject: float = 25.0
    ndvi_low: float = 0.15
    ndvi_std_high: float = 0.3
    ndvi_drop_threshold: float = 0.3
    recovery_threshold: float = 0.2
    abrupt_drop: float = -0.3
    sustained_low: float = 0.3
    sustained_high_before: float = 0.5


DEFAULT_QUALITY = QualityThresholds()

EPSILON = 1e-6  # NDVI denominator epsilon, core/processor.py:265


def ndvi_expr(nir: Column, red: Column) -> Column:
    return (nir - red) / (nir + red + F.lit(EPSILON))


def _f32(v: float) -> Column:
    return F.lit(v).cast("float")


def evi_expr(nir: Column, red: Column, blue: Column) -> Column:
    """EVI in the bands' own precision. The constants are typed FLOAT
    (all four are exact in float32): FLOAT bands then stay float32
    end to end, like the reference's NumPy float32 arithmetic, and DOUBLE
    bands widen them losslessly. Python-float constants would promote only
    part of a float32 expression to double, which near a zero denominator
    can clip to the opposite bound from the reference."""
    return (
        _f32(2.5) * (nir - red)
        / (nir + _f32(6.0) * red - _f32(7.5) * blue + _f32(1.0))
    )


def clip(col: Column, lo: float, hi: float) -> Column:
    """``np.clip`` (core/processor.py:300-301) = greatest/least sandwich."""
    return F.greatest(F.lit(float(lo)), F.least(F.lit(float(hi)), col))


def with_masks(df: DataFrame, q: QualityThresholds = DEFAULT_QUALITY) -> DataFrame:
    """Add the six boolean mask components + combined ``mask``.

    Mirrors core/processor.py:258-268. NULL bands mark outside-AOI
    (reproject dst_nodata, F6); the ``& ~outside`` guards make every
    component two-valued, so no NULL leaks into ``mask``.
    """
    red, nir, blue = F.col("red"), F.col("nir"), F.col("blue")
    fmask = F.coalesce(F.col("fmask"), F.lit(255))
    outside = red.isNull() | nir.isNull() | blue.isNull()
    not_out = ~outside
    cloud_shadow = fmask.isin(2, 4) & not_out
    anomaly_low = ((red < q.red_nir_low) | (nir < q.red_nir_low)) & not_out
    anomaly_high = ((red > q.red_nir_high) | (nir > q.red_nir_high)) & not_out
    haze = (blue > q.blue_haze) & not_out
    prelim = ndvi_expr(nir, red)
    invalid_ndvi = ((prelim > q.ndvi_max) | (prelim < q.ndvi_min)) & not_out
    return (
        df.withColumn("outside", outside)
        .withColumn("cloud_shadow", cloud_shadow)
        .withColumn("anomaly_low", anomaly_low)
        .withColumn("anomaly_high", anomaly_high)
        .withColumn("haze", haze)
        .withColumn("invalid_ndvi", invalid_ndvi)
        .withColumn(
            "mask",
            outside | cloud_shadow | anomaly_low | anomaly_high | haze | invalid_ndvi,
        )
    )


def with_indices(df: DataFrame, q: QualityThresholds = DEFAULT_QUALITY) -> DataFrame:
    """Add masked + clipped ``ndvi``/``evi`` (core/processor.py:294-301).

    Requires ``with_masks`` first. Masked assignment (P4) is
    ``when(~mask, expr)`` → NULL otherwise; clip (P5) applies after, and —
    exactly like ``np.clip`` on NaN — leaves NULL untouched.
    """
    red, nir, blue = F.col("red"), F.col("nir"), F.col("blue")
    keep = ~F.col("mask")
    # clip must sit INSIDE the mask-when: Spark's least/greatest skip NULL
    # (so clip(NULL) would resurrect a bound), whereas np.clip(NaN) is NaN.
    return df.withColumn(
        "ndvi", F.when(keep, clip(ndvi_expr(nir, red), -1.0, 1.0))
    ).withColumn("evi", F.when(keep, clip(evi_expr(nir, red, blue), -3.0, 3.0)))
