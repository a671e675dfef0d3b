"""GeoTIFF export sink (S9): one 2-band raster file per timestamp.

Reference: ``ArcGISExporter.export_geotiff``
(``/root/reference/core/arcgis.py:30-101``) loops timestamps in one
process — LZW float32 GeoTIFF, nodata −9999, optional stride downsample.
Here the loop is a ``applyInPandas`` over date groups: the cube is
shuffled once by date, each task densifies its date's long-format rows
into (H, W) arrays and writes exactly one file — a thousand dates means a
thousand parallel writers, no driver involvement.

The actual GeoTIFF encoding needs rasterio, which is not in this
container. The writer resolves at runtime: rasterio if importable, else a
clearly-marked deterministic fallback (.npy + JSON sidecar) so the
Spark-side plumbing — date partitioning, densification, downsample,
nodata fill, float32 cast, manifest — is real and tested either way.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_valid", T.LongType()),
        T.StructField("writer", T.StringType()),
    ]
)

NODATA = -9999.0  # export fill, core/arcgis.py:77-80 (P6)


def _densify(pdf: pd.DataFrame, width: int, height: int, var: str) -> np.ndarray:
    """Long-format (y, x, var) rows → dense (H, W) float32 with NaN gaps —
    the inverse of the decode step's long-format emission."""
    arr = np.full((height, width), np.nan, dtype=np.float32)
    arr[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = pdf[var].to_numpy(dtype=np.float32)
    return arr


def _export_grid(px: DataFrame,
                 grid: tuple[int, int] | None) -> tuple[int, int]:
    """The full-resolution export grid ``(width, height)`` shared by the
    per-date export sinks: ``grid`` when given, else computed ONCE
    globally with one max-aggregate over the cube, never per date."""
    if grid is not None:
        return grid
    extent = px.agg(F.max("x").alias("mx"), F.max("y").alias("my")).first()
    if extent["mx"] is None:
        raise ValueError(
            "cannot infer the export grid from an empty cube; pass "
            "grid=(width, height) explicitly or skip the export"
        )
    return int(extent["mx"]) + 1, int(extent["my"]) + 1


def _write_one(date: str, ndvi: np.ndarray, evi: np.ndarray, out_dir: str,
               transform6: tuple | None) -> tuple[str, str]:
    """Write one timestamp's 2-band raster; returns (path, writer-kind)."""
    stacked = np.stack([ndvi, evi])
    filled = np.where(np.isnan(stacked), NODATA, stacked).astype(np.float32)
    try:  # pragma: no cover - rasterio absent in this container
        import rasterio
        from rasterio.transform import Affine

        path = os.path.join(out_dir, f"hls_{date}.tif")
        transform = (
            Affine(*transform6) if transform6 else Affine.identity()
        )
        with rasterio.open(
            path,
            "w",
            driver="GTiff",
            height=filled.shape[1],
            width=filled.shape[2],
            count=2,
            dtype="float32",
            crs="EPSG:4326",
            transform=transform,
            nodata=NODATA,
            compress="lzw",
        ) as dst:
            dst.write(filled[0], 1)
            dst.write(filled[1], 2)
            dst.set_band_description(1, "NDVI")
            dst.set_band_description(2, "EVI")
        return path, "rasterio"
    except ImportError:
        # Pure-Python writer (sinks/tiff.py): a REAL uncompressed float32
        # GeoTIFF — valid TIFF 6.0 container, GeoTIFF pixel-scale/
        # tiepoint/geo-key tags, GDAL nodata — readable by rasterio/GDAL/
        # QGIS elsewhere. Only LZW compression is rasterio-exclusive.
        from bloomy_etl_spark.sinks.tiff import encode_geotiff_float32

        path = os.path.join(out_dir, f"hls_{date}.tif")
        with open(path, "wb") as f:
            f.write(
                encode_geotiff_float32(filled, transform6, nodata=NODATA)
            )
        return path, "pytiff"


def export_geotiff(
    cube: DataFrame,
    out_dir: str,
    downsample: int = 1,
    transform6: tuple | None = None,
    grid: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-date raster export; returns the manifest DataFrame
    (date, path, width, height, n_valid, writer).

    ``grid=(width, height)`` is the FULL-resolution AOI grid; every date's
    raster is emitted on it (the reference writes every timestamp on the
    fixed ``dst_transform`` grid, ``core/arcgis.py:40-45`` — per-date
    max-derived shapes would silently crop trailing all-masked rows/cols
    and desync the transform from pixel indexing). When ``grid`` is None
    it is computed ONCE globally (one cheap max-aggregate over the cube),
    never per date; an empty cube then raises ``ValueError``.

    Downsample is the reference's stride trick (``core/arcgis.py:47-61``,
    P7/F16): a modulo predicate BEFORE the shuffle, so the network moves
    1/k² of the pixels and the grid re-indexes to (y/k, x/k). The grid
    shrinks by ceil-division and the transform is rescaled by k as the
    reference does with ``Affine.scale``.
    """
    os.makedirs(out_dir, exist_ok=True)
    px = cube.withColumn("date", F.date_format("time", "yyyy-MM-dd"))
    width, height = _export_grid(px, grid)
    if downsample > 1:
        px = (
            px.filter((F.col("y") % downsample == 0) & (F.col("x") % downsample == 0))
            .withColumn("y", (F.col("y") / downsample).cast("int"))
            .withColumn("x", (F.col("x") / downsample).cast("int"))
        )
        width = -(-width // downsample)
        height = -(-height // downsample)
        if transform6:
            a, b, c, d, e, f0 = transform6
            transform6 = (a * downsample, b, c, d, e * downsample, f0)

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=[f.name for f in MANIFEST_SCHEMA.fields])
        date = pdf["date"].iloc[0]
        ndvi = _densify(pdf, width, height, "ndvi")
        evi = _densify(pdf, width, height, "evi")
        path, writer = _write_one(date, ndvi, evi, out_dir, transform6)
        return pd.DataFrame(
            [
                {
                    "date": date,
                    "path": path,
                    "width": width,
                    "height": height,
                    "n_valid": int(np.isfinite(ndvi).sum()),
                    "writer": writer,
                }
            ]
        )

    # one shuffle keyed by date; every date group becomes one file-writing
    # task (applyInPandas guarantees whole-group delivery, unlike
    # mapInPandas whose batches could split a date)
    return (
        px.select("date", "y", "x", "ndvi", "evi")
        .groupBy("date")
        .applyInPandas(write_group, schema=MANIFEST_SCHEMA)
    )
