"""M4 sink tests: partitioned cube write, events JSON, GeoTIFF-shaped
per-date export (stub writer), index/style JSON."""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.sinks import (
    export_geotiff,
    write_cube,
    write_events_json,
    write_index_json,
    write_style_json,
)

T0 = datetime.datetime(2024, 6, 1, 10, 0, 0)
T1 = datetime.datetime(2024, 6, 2, 10, 0, 0)

CUBE_SCHEMA = "time timestamp, y int, x int, ndvi double, evi double"


def make_cube(spark):
    rows = [
        (T0, 0, 0, 0.5, 0.4),
        (T0, 0, 1, 0.6, 0.5),
        (T0, 1, 0, None, None),   # masked pixel -> NaN in raster
        (T0, 1, 1, 0.2, 0.1),
        (T1, 0, 0, 0.7, 0.6),
        (T1, 1, 1, 0.3, 0.2),
    ]
    return spark.createDataFrame(rows, CUBE_SCHEMA)


def test_write_cube_partitions_and_float32(spark, tmp_path):
    out = str(tmp_path / "cube")
    write_cube(make_cube(spark), out)
    # hive-style date partitions exist
    parts = sorted(d for d in os.listdir(out) if d.startswith("date="))
    assert parts == ["date=2024-06-01", "date=2024-06-02"]
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["ndvi"] == "float"
    assert back.count() == 6
    # partition pruning survives the round trip
    assert back.filter(F.col("date") == "2024-06-02").count() == 2


def test_events_json_roundtrip(spark, tmp_path):
    out = str(tmp_path / "events_json")
    events = spark.createDataFrame(
        [("abrupt_drop", "2024-06-03", 0.41)],
        "event_kind string, date string, drop_mag double",
    )
    write_events_json(events, out)
    back = spark.read.json(out)
    row = back.first()
    assert row["event_kind"] == "abrupt_drop" and row["drop_mag"] == 0.41


def test_export_geotiff_real_tiff_output(spark, tmp_path):
    from bloomy_etl_spark.sinks.tiff import read_geotiff

    out = str(tmp_path / "tiff")
    manifest = export_geotiff(make_cube(spark), out).orderBy("date").collect()
    assert [m["date"] for m in manifest] == ["2024-06-01", "2024-06-02"]
    m0 = manifest[0]
    assert m0["width"] == 2 and m0["height"] == 2
    # rasterio absent here -> the pure-Python GeoTIFF writer ran and the
    # output is a real .tif (valid TIFF magic + parseable tags)
    assert m0["writer"] == "pytiff" and m0["path"].endswith(".tif")
    tif = read_geotiff(open(m0["path"], "rb").read())
    arr = tif["bands"]
    assert arr.shape == (2, 2, 2) and arr.dtype == np.float32
    # nodata fill at the masked pixel (P6), value fidelity elsewhere
    assert arr[0, 1, 0] == -9999.0
    assert np.isclose(arr[0, 0, 0], 0.5) and np.isclose(arr[1, 0, 1], 0.5)
    assert tif["nodata"] == -9999.0
    assert tif["geo_keys"][4:8] == [1024, 0, 1, 2]  # geographic model
    # day 2 wrote only observed pixels' bounding grid
    m1 = manifest[1]
    assert m1["n_valid"] == 2


def test_export_geotiff_downsample(spark, tmp_path):
    from bloomy_etl_spark.sinks.tiff import read_geotiff

    out = str(tmp_path / "tiff_ds")
    manifest = (
        export_geotiff(make_cube(spark), out, downsample=2, transform6=(0.1, 0, 30.0, 0, -0.1, 50.0))
        .orderBy("date")
        .collect()
    )
    # stride 2 keeps only (0,0) per frame -> 1x1 grids
    assert all(m["width"] == 1 and m["height"] == 1 for m in manifest)
    tif = read_geotiff(open(manifest[0]["path"], "rb").read())
    # rescaled stride transform landed in the GeoTIFF tags
    assert tif["pixel_scale"][0] == pytest.approx(0.2)
    assert tif["pixel_scale"][1] == pytest.approx(0.2)
    assert tif["tiepoint"][3:5] == [30.0, 50.0]


def test_cache_partition_and_anti_join_probe(spark, tmp_path):
    """S5/S6 + J5: the reference's per-(tile, day) NetCDF cache
    (core/processor.py:342-367) as a partitioned parquet table; the
    skip-if-cached probe (core/processor.py:49-53) as a left-anti join
    on the partition keys — a cache hit is a partition-pruned read."""
    from bloomy_etl_spark.sinks import write_cache_partition

    cache = str(tmp_path / "cache")
    cached = make_cube(spark).withColumn("tile_id", F.lit("T01"))
    write_cache_partition(cached, cache)

    # cache index = partition keys only (pruned scan, no pixel columns)
    idx = (
        spark.read.parquet(cache)
        .select("tile_id", "date")
        .distinct()
    )
    assert sorted(str(r["date"]) for r in idx.collect()) == [
        "2024-06-01",
        "2024-06-02",
    ]

    incoming = spark.createDataFrame(
        [("T01", "2024-06-01"), ("T01", "2024-06-03"), ("T02", "2024-06-01")],
        "tile_id string, date string",
    ).withColumn("date", F.col("date").cast("date"))
    todo = incoming.join(idx, ["tile_id", "date"], "left_anti").collect()
    assert sorted((r["tile_id"], str(r["date"])) for r in todo) == [
        ("T01", "2024-06-03"),
        ("T02", "2024-06-01"),
    ]


def test_netcdf_export_roundtrip(spark, tmp_path):
    """NetCDF interop (reference core/pipeline.py:174-177): cube →
    per-date files → distributed scan back — value-exact round trip for
    every observed pixel, including the single-variable-NULL convention.
    (xarray absent in this container → the pure-Python CDF-1 writer runs
    and emits REAL .nc files; the Spark-side plumbing is identical
    either way.)"""
    from bloomy_etl_spark.sinks import export_netcdf, read_netcdf_cube
    from bloomy_etl_spark.sinks.cdf import read_netcdf3

    out = str(tmp_path / "nc")
    manifest = export_netcdf(make_cube(spark), out).orderBy("date").collect()
    assert [m["date"] for m in manifest] == ["2024-06-01", "2024-06-02"]
    assert all(m["writer"] == "cdf1" for m in manifest)
    assert all(m["path"].endswith(".nc") for m in manifest)
    assert manifest[0]["n_valid"] == 3  # masked pixel excluded
    # the file is a genuine NetCDF classic container with the cube attrs
    nc = read_netcdf3(open(manifest[0]["path"], "rb").read())
    assert nc["dims"] == {"y": 2, "x": 2} and nc["attrs"]["crs"] == "EPSG:4326"

    back = read_netcdf_cube(spark, out)
    got = sorted(
        (str(r["time"]), r["y"], r["x"], r["ndvi"], r["evi"])
        for r in back.collect()
    )
    # both-NULL pixel (a grid gap after densify) does not round-trip;
    # everything else must, with exact float32 values and timestamps
    want = sorted(
        (str(r["time"]), r["y"], r["x"],
         None if r["ndvi"] is None else float(np.float32(r["ndvi"])),
         None if r["evi"] is None else float(np.float32(r["evi"])))
        for r in make_cube(spark).collect()
        if not (r["ndvi"] is None and r["evi"] is None)
    )
    assert got == want


def test_index_and_style_json(spark, tmp_path):
    idx_path = write_index_json(make_cube(spark), str(tmp_path / "index.json"))
    idx = json.load(open(idx_path))
    assert idx["width"] == 2 and idx["height"] == 2
    assert [d["date"] for d in idx["dates"]] == ["2024-06-01", "2024-06-02"]
    assert idx["dates"][0]["n_pixels"] == 4
    style = json.load(open(write_style_json(str(tmp_path / "style.json"))))
    assert style["field"] == "ndvi" and len(style["classBreakInfos"]) == 5


def _index_bytes(width, height, dates) -> str:
    return json.dumps({
        "crs": "EPSG:4326", "width": width, "height": height,
        "nodata": -9999.0, "bands": ["ndvi", "evi"], "dates": dates,
    }, indent=2)


def test_index_json_exact_bytes(spark, tmp_path):
    """The index is one per-date aggregate (grid extents reduced on the
    driver); the file is byte-for-byte what the two-pass build wrote,
    including the NULL width/height of an empty cube."""
    cube = make_cube(spark)
    full = open(write_index_json(cube, str(tmp_path / "full.json"))).read()
    assert full == _index_bytes(2, 2, [
        {"date": "2024-06-01", "n_pixels": 4, "ndvi_mean": 0.433333},
        {"date": "2024-06-02", "n_pixels": 2, "ndvi_mean": 0.5},
    ])
    empty = open(write_index_json(cube.limit(0), str(tmp_path / "empty.json"))).read()
    assert empty == _index_bytes(None, None, [])
