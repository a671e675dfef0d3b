"""Columnar and JSON sinks.

Scale posture: the cube and cache sinks are partitioned parquet writes —
every executor writes its own partition files, the driver never sees row
data. Only the index/style JSON sinks collect, and those collect a
deterministic O(T + files) summary, never pixels.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_cube(cube: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Main cube sink (S7): the reference's zlib-5 NetCDF
    (``core/pipeline.py:174-177``) becomes date-partitioned ZSTD parquet.
    Values stored float32 (P8 cast, ``core/processor.py:361-363``);
    partitioning by date gives partition pruning to every time-sliced
    reader (the viewer's point/slice queries, the exporter's per-date
    loop)."""
    (
        cube.withColumn("date", F.to_date("time"))
        .withColumn("ndvi", F.col("ndvi").cast("float"))
        .withColumn("evi", F.col("evi").cast("float"))
        .write.mode(mode)
        .partitionBy("date")
        .parquet(path, compression="zstd")
    )


def write_cache_partition(granule_df: DataFrame, path: str) -> None:
    """Per-granule cache (S6): the reference's ``{tile_id}_{YYYYDDD}.nc``
    files (``core/processor.py:342-367``) become a (tile_id, date)
    partitioned parquet table; a cache hit is a partition-pruned read and
    the skip-if-cached probe is a left-anti join on the partition keys
    (J5)."""
    (
        granule_df.withColumn("date", F.to_date("time"))
        .write.mode("append")
        .partitionBy("tile_id", "date")
        .parquet(path, compression="zstd")
    )


def write_events_json(events: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Events sink (S8): ``json.dump(events)`` (``core/pipeline.py:167-171``)
    → line-delimited JSON written by executors."""
    events.write.mode(mode).json(path)


def write_index_json(cube: DataFrame, out_path: str, grid: dict | None = None) -> str:
    """Index JSON sink (S10): the exporter's ``_create_index``
    (``core/arcgis.py:103-153``) — crs, dims, bounds, per-date entries.
    Built from ONE collected O(T) aggregate (per-date stats plus per-date
    grid extents, reduced to width/height and sorted on the driver), never
    from pixels."""
    per_date = sorted(
        cube.groupBy(F.to_date("time").alias("date"))
        .agg(
            F.count(F.lit(1)).alias("n_pixels"),
            F.round(F.avg("ndvi"), 6).alias("ndvi_mean"),
            F.max("x").alias("max_x"),
            F.max("y").alias("max_y"),
        )
        .collect(),
        # NULLS FIRST, like orderBy("date")
        key=lambda r: (r["date"] is not None, r["date"]),
    )

    def extent(col: str):
        vals = [r[col] for r in per_date if r[col] is not None]
        return max(vals) + 1 if vals else None

    index = {
        "crs": (grid or {}).get("crs", "EPSG:4326"),
        "width": extent("max_x"),
        "height": extent("max_y"),
        "nodata": -9999.0,
        "bands": ["ndvi", "evi"],
        "dates": [
            {
                "date": str(r["date"]),
                "n_pixels": r["n_pixels"],
                "ndvi_mean": float(r["ndvi_mean"]) if r["ndvi_mean"] is not None else None,
            }
            for r in per_date
        ],
    }
    if grid:
        index.update({k: grid[k] for k in ("transform", "bounds") if k in grid})
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(index, f, indent=2, default=str)
    return out_path


# Static NDVI class-break ramp, mirroring the reference's hard-coded style
# (``core/arcgis.py:155-175``): no compute, just a file.
NDVI_STYLE = {
    "type": "classBreaks",
    "field": "ndvi",
    "classBreakInfos": [
        {"classMaxValue": 0.0, "label": "bare/water", "color": [165, 42, 42, 255]},
        {"classMaxValue": 0.2, "label": "sparse", "color": [255, 255, 0, 255]},
        {"classMaxValue": 0.4, "label": "moderate", "color": [173, 255, 47, 255]},
        {"classMaxValue": 0.6, "label": "dense", "color": [34, 139, 34, 255]},
        {"classMaxValue": 1.0, "label": "very dense", "color": [0, 100, 0, 255]},
    ],
}


def write_style_json(out_path: str) -> str:
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(NDVI_STYLE, f, indent=2)
    return out_path
