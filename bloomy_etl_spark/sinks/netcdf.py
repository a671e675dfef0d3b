"""NetCDF interop sink + scan (reference ``core/pipeline.py:174-177``,
``core/arcgis.py:20``).

The engine's internal cube model is date-partitioned parquet (S7) — the
right model for Spark — but the reference's downstream consumers speak
NetCDF (its pipeline ends in ``ds_combined.to_netcdf`` with zlib
complevel-5 encoding per variable). This module closes that interop loop
both ways:

  * :func:`export_netcdf` — one ``.nc`` file per date, written by the
    executors via ``applyInPandas`` over date groups: the multi-file
    "dataset directory" layout that ``xarray.open_mfdataset`` consumes
    directly. A single monolithic ``.nc`` would funnel the whole cube
    through one writer task — exactly what a 100 TB export cannot do; the
    per-date layout gives one parallel writer per timestamp with no
    driver involvement (same sink topology as ``sinks/geotiff.py``).
  * :func:`read_netcdf_cube` — the inverse scan: a file-list DataFrame
    fanned out with ``mapInPandas``, each task decoding its files back to
    long-format cube rows. Bytes never touch the driver.

xarray/netCDF4 are not installed in this container, so the codec
resolves at runtime: xarray (with the reference's zlib-5 encoding) if
importable, else a clearly-marked deterministic fallback — compressed
``.npz`` (zlib deflate, mirroring the reference's compression choice) +
JSON sidecar with identical metadata — so the Spark-side plumbing (date
shuffle, densify, manifest, round-trip scan) is real and tested either
way. Swapping in the real codec changes no plan shape.

Input contract: a *merged* cube (one timestamp per calendar date — the
shape ``operators/merge.py`` produces, matching the reference's combined
dataset where ``time`` is the per-day epoch-mean merged timestamp).
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bloomy_etl_spark.sinks.geotiff import (
    MANIFEST_SCHEMA,
    _densify,
    _export_grid,
)

CUBE_SCHEMA = "time timestamp, y int, x int, ndvi double, evi double"


def _write_one(date: str, time_iso: str, ndvi: np.ndarray, evi: np.ndarray,
               out_dir: str) -> tuple[str, str]:
    """Write one date's 2-variable dataset; returns (path, writer-kind)."""
    try:  # pragma: no cover - xarray absent in this container
        import xarray as xr

        path = os.path.join(out_dir, f"cube_{date}.nc")
        ds = xr.Dataset(
            {"ndvi": (("y", "x"), ndvi), "evi": (("y", "x"), evi)},
            coords={
                "y": np.arange(ndvi.shape[0]),
                "x": np.arange(ndvi.shape[1]),
            },
            attrs={"date": date, "time": time_iso, "crs": "EPSG:4326"},
        )
        # the reference's exact encoding: zlib complevel 5 per data var
        # (core/pipeline.py:176)
        encoding = {var: {"zlib": True, "complevel": 5} for var in ds.data_vars}
        ds.to_netcdf(path, encoding=encoding)
        return path, "xarray"
    except (ImportError, ValueError):
        # ImportError: xarray absent. ValueError: xarray present but no
        # netCDF engine installed (scipy/netCDF4/h5netcdf) — to_netcdf
        # raises it at write time; both degrade to the same fallback.
        # Pure-Python writer (sinks/cdf.py): a REAL NetCDF3 classic file —
        # same variables/dims/attrs, valid .nc that xarray/ncdump open
        # anywhere. Classic format cannot carry zlib compression (an
        # HDF5/netCDF4 feature); that stays on the xarray branch.
        from bloomy_etl_spark.sinks.cdf import encode_netcdf3

        path = os.path.join(out_dir, f"cube_{date}.nc")
        with open(path, "wb") as f:
            f.write(
                encode_netcdf3(
                    {"ndvi": (("y", "x"), ndvi), "evi": (("y", "x"), evi)},
                    global_attrs={
                        "date": date, "time": time_iso, "crs": "EPSG:4326",
                    },
                )
            )
        return path, "cdf1"


def export_netcdf(cube: DataFrame, out_dir: str,
                  grid: tuple[int, int] | None = None) -> DataFrame:
    """Per-date NetCDF export; returns the manifest DataFrame
    (date, path, width, height, n_valid, writer).

    ``grid=(width, height)`` fixes the full-resolution AOI grid for every
    date (computed once globally when None — per-date shapes would desync
    pixel indexing across files, the same pitfall ``sinks/geotiff.py``
    documents). One shuffle keyed by date; each date group becomes one
    file-writing task.
    """
    os.makedirs(out_dir, exist_ok=True)
    px = cube.withColumn("date", F.date_format("time", "yyyy-MM-dd"))
    width, height = _export_grid(px, grid)

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame(columns=[f.name for f in MANIFEST_SCHEMA.fields])
        date = pdf["date"].iloc[0]
        # merged-cube contract: one timestamp per date; min() is the
        # deterministic pick if an unmerged cube slips through
        time_iso = pd.Timestamp(pdf["time"].min()).isoformat()
        ndvi = _densify(pdf, width, height, "ndvi")
        evi = _densify(pdf, width, height, "evi")
        path, writer = _write_one(date, time_iso, ndvi, evi, out_dir)
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

    return (
        px.select("date", "time", "y", "x", "ndvi", "evi")
        .groupBy("date")
        .applyInPandas(write_group, schema=MANIFEST_SCHEMA)
    )


def _load_one(path: str) -> pd.DataFrame:
    """Decode one exported file back to long-format cube rows: xarray if
    importable (handles netCDF4/HDF5 files), else the pure-Python
    classic reader (handles cdf1-written files); legacy .npz stubs from
    older exports still load."""
    if path.endswith(".nc"):
        try:  # pragma: no cover - xarray absent here
            import xarray as xr

            ds = xr.open_dataset(path)
            ndvi = ds["ndvi"].to_numpy()
            evi = ds["evi"].to_numpy()
            time_iso = ds.attrs["time"]
            ds.close()
        except ImportError:
            from bloomy_etl_spark.sinks.cdf import read_netcdf3

            with open(path, "rb") as fh:
                nc = read_netcdf3(fh.read())
            ndvi, evi = nc["vars"]["ndvi"], nc["vars"]["evi"]
            time_iso = nc["attrs"]["time"]
    else:
        with np.load(path) as z:
            ndvi, evi = z["ndvi"], z["evi"]
        with open(path + ".json") as f:
            time_iso = json.load(f)["time"]
    keep = np.isfinite(ndvi) | np.isfinite(evi)
    ys, xs = np.nonzero(keep)
    ts = datetime.datetime.fromisoformat(time_iso)
    return pd.DataFrame(
        {
            "time": [ts] * len(ys),
            "y": ys.astype(np.int32),
            "x": xs.astype(np.int32),
            "ndvi": [None if not np.isfinite(v) else float(v) for v in ndvi[ys, xs]],
            "evi": [None if not np.isfinite(v) else float(v) for v in evi[ys, xs]],
        }
    )


def read_netcdf_cube(spark: SparkSession, src_dir: str) -> DataFrame:
    """Distributed inverse scan: NetCDF (or stub) directory → long cube.

    The driver lists file paths only (O(dates), same cost class as any
    file-source listing); decoding fans out with ``mapInPandas``, one or
    more files per task. Pixels that are NaN in BOTH variables were grid
    gaps, not observations, and are dropped; a single-variable NaN
    round-trips as NULL (the masked→NULL P4 convention).
    """
    paths = sorted(
        os.path.join(src_dir, f)
        for f in os.listdir(src_dir)
        if f.endswith((".nc", ".npz"))
    )
    files_df = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(max(len(paths), 1))

    def scan(batches):
        for pdf in batches:
            for p in pdf["path"]:
                yield _load_one(p)

    return files_df.mapInPandas(scan, schema=CUBE_SCHEMA)
