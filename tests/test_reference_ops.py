"""Golden tests for the reference-semantics operators (SURVEY §5.2.2).

Hand-computed expectations over tiny synthetic pixel/stats frames,
covering every §4.3 edge: contamination double-count, NULL propagation,
two-stage merge weighting, epoch-mean timestamps, series-edge events,
short-series quality-filter skip.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.indices import evi_expr, with_indices, with_masks
from bloomy_etl_spark.operators.events import detect_events
from bloomy_etl_spark.operators.merge import merge_all, merge_spatial_tiles
from bloomy_etl_spark.operators.quality import (
    apply_granule_gates,
    filter_timestamps,
    granule_stats,
)

T0 = datetime.datetime(2024, 6, 1, 10, 0, 0)

PIXEL_SCHEMA = "tile_id string, time timestamp, y int, x int, red double, nir double, blue double, fmask int"


def px(tile, t, y, x, red, nir, blue, fmask):
    return (tile, t, y, x, red, nir, blue, fmask)


@pytest.fixture(scope="module")
def masked(spark):
    rows = [
        px("T1", T0, 0, 0, 500.0, 3000.0, 400.0, 0),      # clean
        px("T1", T0, 0, 1, None, 3000.0, 400.0, 0),        # outside (NULL band)
        px("T1", T0, 0, 2, 500.0, 3000.0, 400.0, 2),       # cloud shadow
        px("T1", T0, 0, 3, 50.0, 3000.0, 400.0, 0),        # anomaly_low
        px("T1", T0, 0, 4, 20000.0, 3000.0, 400.0, 0),     # anomaly_high
        px("T1", T0, 0, 5, 500.0, 3000.0, 2000.0, 0),      # haze
        px("T1", T0, 0, 6, 200.0, 9000.0, 400.0, 0),       # invalid ndvi (0.9565)
        px("T1", T0, 0, 7, 200.0, 9000.0, 2000.0, 0),      # haze AND invalid (double count)
    ]
    df = spark.createDataFrame(rows, PIXEL_SCHEMA)
    return with_indices(with_masks(df))


def test_mask_stack_flags(masked):
    got = {r["x"]: r for r in masked.collect()}
    assert not got[0]["mask"]
    assert got[1]["outside"] and got[1]["mask"]
    assert got[2]["cloud_shadow"]
    assert got[3]["anomaly_low"]
    assert got[4]["anomaly_high"]
    assert got[5]["haze"]
    assert got[6]["invalid_ndvi"]
    assert got[7]["haze"] and got[7]["invalid_ndvi"]


def test_indices_values_and_nulls(masked):
    got = {r["x"]: r for r in masked.collect()}
    # clean pixel: ndvi=(3000-500)/(3500+1e-6), evi=2.5*2500/(3000+3000-3000+1)
    assert got[0]["ndvi"] == pytest.approx(2500.0 / 3500.000001)
    assert got[0]["evi"] == pytest.approx(6250.0 / 3001.0)
    for x in range(1, 8):
        assert got[x]["ndvi"] is None, f"masked pixel {x} must have NULL ndvi"
        assert got[x]["evi"] is None


def test_evi_clip(spark):
    # denominator 2000+3000-4800+1=201 → raw evi 18.657 → clipped to 3.0
    df = spark.createDataFrame(
        [px("T1", T0, 0, 0, 500.0, 2000.0, 640.0, 0)], PIXEL_SCHEMA
    )
    row = with_indices(with_masks(df)).collect()[0]
    assert not row["mask"]
    assert row["evi"] == 3.0


def test_evi_float32_bands_near_zero_denominator(spark):
    """FLOAT bands stay float32 end to end, like the reference's NumPy
    float32 arithmetic. At this pixel (from a seeded float32 raster) the
    float32 denominator rounds to exactly 0, so NumPy clips +inf to +3;
    promoting only ``7.5 * blue`` and ``+ 1`` to double gave -2.44e-4 and
    clipped to the OPPOSITE bound."""
    import numpy as np

    f32 = np.float32
    red, nir, blue = f32(848.6898), f32(2689.0447), f32(1037.6245)
    mixed = float(nir + f32(6) * red) - 7.5 * float(blue) + 1.0
    assert mixed == pytest.approx(-2.44e-4, rel=1e-2)
    with np.errstate(divide="ignore"):
        want = np.clip(
            f32(2.5) * (nir - red) / (nir + f32(6) * red - f32(7.5) * blue + f32(1)),
            -3, 3,
        )
    df = spark.createDataFrame(
        [px("T1", T0, 0, 0, float(red), float(nir), float(blue), 64)],
        PIXEL_SCHEMA.replace("double", "float"),
    )
    row = with_indices(with_masks(df)).collect()[0]
    assert not row["mask"]
    assert row["evi"] == want == 3.0


def test_evi_double_bands_unchanged(spark):
    """The FLOAT-typed constants are exact in float32, so DOUBLE bands give
    the all-double result bit for bit."""
    rows = [(500.0 + 37.3 * i, 3000.0 - 11.9 * i, 400.0 + 7.7 * i) for i in range(20)]
    df = spark.createDataFrame(rows, "red double, nir double, blue double")
    got = [r[0] for r in df.select(
        evi_expr(F.col("nir"), F.col("red"), F.col("blue"))).collect()]
    assert got == [2.5 * (n - r) / (n + 6 * r - 7.5 * b + 1.0) for r, n, b in rows]


def test_granule_stats_double_count(spark, masked):
    stats = granule_stats(masked).collect()[0]
    assert stats["total_px"] == 8
    assert stats["valid_px"] == 1
    assert stats["valid_pixels_pct"] == pytest.approx(12.5)
    # haze(2: x5,x7) + anomalies(2: x3,x4) + invalid(4: x3 prelim 0.967,
    # x4 prelim -0.739, x6, x7) = 8 counts over 8 pixels — the reference
    # computes invalid_ndvi independently of other masks and sums the
    # three components separately, double-counting multi-mask pixels
    # (core/processor.py:272, SURVEY §4.3.8)
    assert stats["contamination_pct"] == pytest.approx(100.0)
    assert stats["ndvi_mean"] == pytest.approx(2500.0 / 3500.000001)
    assert stats["ndvi_std"] == pytest.approx(0.0)  # population std of 1 value


def test_granule_gates(spark, masked):
    # contamination 75 > 30 → rejected
    assert apply_granule_gates(granule_stats(masked)).count() == 0


STATS_SCHEMA = (
    "tile_id string, time timestamp, total_px long, valid_px long, "
    "valid_pixels_pct double, contamination_pct double, ndvi_mean double, ndvi_std double"
)


def _stat(t_offset_h, valid_pct, cont, mean, std=0.1, tile="T1"):
    t = T0 + datetime.timedelta(hours=t_offset_h)
    return (tile, t, 100, int(valid_pct), float(valid_pct), float(cont), mean, std)


def test_quality_filter_decision_tree(spark):
    rows = [
        _stat(0, 80, 5.0, 0.60),    # keep
        _stat(1, 15, 5.0, 0.55),    # reject: valid_pct < 20
        _stat(2, 80, 35.0, 0.55),   # reject: contamination > 30
        # suspicious (cont 22 > 20); neighbors means 0.55 (prev) and 0.70
        # (next) → drop (0.625-0.2)=0.425 > 0.3; recovery 0.5 > 0.2 → reject
        _stat(3, 80, 22.0, 0.20),
        _stat(4, 80, 5.0, 0.70),    # keep
        # suspicious (cont 26) but no big drop → moderate-contamination
        # recheck: 26 > 25 → reject
        _stat(5, 80, 26.0, 0.68),
        _stat(6, 80, 5.0, 0.66),    # keep
    ]
    df = spark.createDataFrame(rows, STATS_SCHEMA)
    got = {r["time"].hour - 10: r["rejected"] for r in filter_timestamps(df).collect()}
    assert got == {0: False, 1: True, 2: True, 3: True, 4: False, 5: True, 6: False}


def test_quality_filter_short_series_skipped(spark):
    rows = [_stat(0, 5, 90.0, 0.1), _stat(1, 5, 90.0, 0.1)]
    df = spark.createDataFrame(rows, STATS_SCHEMA)
    assert [r["rejected"] for r in filter_timestamps(df).collect()] == [False, False]


def test_quality_filter_null_mean_propagates(spark):
    # t1 suspicious with NULL next-neighbor mean → drop NULL (NaN in the
    # reference) → falls to moderate recheck; cont 22 ≤ 25 → keep.
    rows = [
        _stat(0, 80, 5.0, 0.60),
        _stat(1, 80, 22.0, 0.50),
        (_stat(2, 80, 5.0, None)),  # all-masked granule: NULL ndvi_mean
        _stat(3, 80, 5.0, 0.55),
    ]
    df = spark.createDataFrame(rows, STATS_SCHEMA)
    got = [r["rejected"] for r in filter_timestamps(df).collect()]
    assert got == [False, False, False, False]


MERGED_SCHEMA = "tile_id string, time timestamp, y int, x int, ndvi double, evi double"


def test_spatial_merge_overlap_and_union(spark):
    t1 = T0
    rows = [
        ("T1", t1, 0, 0, 0.2, 1.0),
        ("T2", t1, 0, 0, 0.4, 2.0),   # overlap → mean
        ("T1", t1, 0, 1, 0.6, 1.5),   # only T1
        ("T1", t1, 0, 2, None, None), # masked in T1 ...
        ("T2", t1, 0, 2, 0.8, 2.5),   # ... value in T2 → 0.8
    ]
    df = spark.createDataFrame(rows, MERGED_SCHEMA)
    got = {(r["y"], r["x"]): r for r in merge_spatial_tiles(df).collect()}
    assert got[(0, 0)]["ndvi"] == pytest.approx(0.3)
    assert got[(0, 0)]["tile_id"] == "T1+T2"
    assert got[(0, 1)]["ndvi"] == pytest.approx(0.6)
    assert got[(0, 2)]["ndvi"] == pytest.approx(0.8)


def test_two_stage_merge_weighting_and_mean_timestamp(spark):
    t1 = datetime.datetime(2024, 6, 1, 10, 0, 0)
    t2 = datetime.datetime(2024, 6, 1, 14, 0, 0)
    rows = [
        # t1 has two tiles at (0,0): spatial mean (0.2+0.4)/2 = 0.3
        ("T1", t1, 0, 0, 0.2, 1.0),
        ("T2", t1, 0, 0, 0.4, 1.0),
        # t2 single tile: 0.5
        ("T1", t2, 0, 0, 0.5, 1.0),
    ]
    df = spark.createDataFrame(rows, MERGED_SCHEMA)
    out = merge_all(df).collect()
    assert len(out) == 1
    row = out[0]
    # two-stage: mean(0.3, 0.5) = 0.4 — NOT the flat mean 0.3667
    assert row["ndvi"] == pytest.approx(0.4)
    # merged timestamp = epoch mean of {10:00, 14:00} = 12:00
    assert row["time"] == datetime.datetime(2024, 6, 1, 12, 0, 0)
    assert row["num_granules_merged"] == 2


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_merge_all_keeps_null_time_row(spark, ansi):
    """A pixel with a NULL ``time`` has no date: it is not dropped by the
    join that attaches the date-level columns, it merges to a row with a
    NULL time and ``num_granules_merged`` 0, and nothing divides by the
    empty time set (so ANSI mode does not raise)."""
    rows = [
        ("T1", T0, 0, 0, 0.2, 1.0),
        ("T1", None, 0, 1, 0.4, 2.0),
    ]
    df = spark.createDataFrame(rows, MERGED_SCHEMA)
    saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        out = {(r["y"], r["x"]): r for r in merge_all(df).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)
    assert set(out) == {(0, 0), (0, 1)}
    assert out[(0, 0)]["time"] == T0 and out[(0, 0)]["num_granules_merged"] == 1
    assert out[(0, 1)]["time"] is None
    assert out[(0, 1)]["num_granules_merged"] == 0
    assert out[(0, 1)]["ndvi"] == pytest.approx(0.4)


SERIES_SCHEMA = "time timestamp, date string, v double"


def test_event_detection_reference_series(spark):
    values = [0.8, 0.4, 0.7, 0.2, 0.25, 0.28, 0.26, -0.1]
    rows = [
        (
            datetime.datetime(2024, 6, 1 + i, 12, 0, 0),
            f"2024-06-{1 + i:02d}",
            v,
        )
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, SERIES_SCHEMA)
    events = {
        (r["event_kind"], r["event_type"]): r for r in detect_events(df).collect()
    }
    assert len(events) == 4

    anomaly = events[("anomaly", "transient_anomaly")]
    assert anomaly["date"] == "2024-06-02"
    assert anomaly["ndvi_before"] == pytest.approx(0.8)
    assert anomaly["ndvi_during"] == pytest.approx(0.4)
    assert anomaly["ndvi_after"] == pytest.approx(0.7)

    fire = events[("abrupt_drop", "possible_fire_or_harvest")]
    assert fire["date"] == "2024-06-04"
    assert fire["drop_mag"] == pytest.approx(0.5)
    assert fire["ndvi_after"] == pytest.approx(0.2)

    recent = events[("abrupt_drop", "recent_event")]
    assert recent["date"] == "2024-06-08"
    assert recent["drop_mag"] == pytest.approx(0.36)

    sustained = events[("sustained_change", "sustained_change")]
    assert sustained["start_date"] == "2024-06-04"
    assert sustained["end_date"] == "2024-06-06"
    assert sustained["ndvi_before"] == pytest.approx(0.7)
    assert sustained["ndvi_sustained"] == pytest.approx((0.2 + 0.25 + 0.28) / 3)


def test_loader_normalizes_every_events_ts_generation(spark, tmp_path):
    """The driver has shipped events.ts in three physical types across
    fixture regenerations — TIMESTAMP(NANOS) (r1, scanned as int64 under
    nanosAsLong), timezone-less timestamp[us] (r2, scanned as
    TIMESTAMP_NTZ — the type that broke q18/bench in BENCH_r02), and
    tz-aware micros. The loader boundary must normalize ALL of them to
    the same plain-TIMESTAMP instant so no downstream operator ever sees
    the physical type again."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomy_etl_spark.sources.tables import normalize_events_ts

    t = dt.datetime(2024, 1, 5, 12, 34, 56, 789123)
    micros = int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    cases = {
        "nanos": pa.table({"ts": pa.array([micros * 1000], pa.timestamp("ns"))}),
        "ntz": pa.table({"ts": pa.array([micros], pa.timestamp("us"))}),
        "tz": pa.table({"ts": pa.array([micros], pa.timestamp("us", tz="UTC"))}),
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for name, table in cases.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path)
        df = normalize_events_ts(spark.read.parquet(path))
        assert dict(df.dtypes)["ts"] == "timestamp", name
        assert df.first()["ts"] == t, name
