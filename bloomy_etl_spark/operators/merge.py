"""Two-stage spatial + temporal merge (reference parity).

Reference: ``/root/reference/core/merger.py`` —
  * spatial tile merge (``merge_spatial_tiles``, :16-54): same-timestamp
    tiles combined per pixel with a null-skipping mean (SURVEY J2/A4);
  * temporal same-day merge (``merge_temporal``, :56-93): per-calendar-date
    per-pixel mean, merged timestamp = mean of member epoch timestamps
    (SURVEY A3/X12);
  * ``merge_all`` (:95-113) runs spatial *then* temporal — the order
    matters for weighting when tiles overlap (SURVEY §4.3.4), so both
    stages stay separate groupBys here.

Scale: each stage is one hash aggregate keyed by (time|date, y, x) — the
pixel identity. At 100 TB the pixel table is stored partitioned by date,
so the temporal merge shuffles only within date partitions and AQE
coalesces the output; no collect, no driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_spatial_tiles(pixels: DataFrame, track_tiles: bool = True,
                        carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-(time, y, x) null-skipping mean across tiles.

    Long format makes xr.combine_by_coords' coordinate union implicit:
    a pixel covered by one tile keeps its value (avg of 1); overlap
    averages; NULL (masked) members are skipped like skipna=True.
    Tile bookkeeping mirrors ``'+'.join(tiles)`` (merger.py:45), order-
    stabilized with array_sort (SURVEY X16); consumers that drop the tile
    column anyway (the cube summaries) pass ``track_tiles=False`` and skip
    the per-group string-set aggregation entirely.

    ``carry`` names annotation columns constant within a group (e.g. a
    per-day count attached upstream) passed through with ``max``.
    """
    aggs = [
        F.avg("ndvi").alias("ndvi"),
        F.avg("evi").alias("evi"),
        F.count(F.lit(1)).alias("num_tiles_merged"),
        *[F.max(c).alias(c) for c in carry],
    ]
    if track_tiles:
        aggs.insert(
            2,
            F.concat_ws("+", F.array_sort(F.collect_set("tile_id"))).alias("tile_id"),
        )
    return pixels.groupBy("time", "y", "x").agg(*aggs)


def merge_temporal(spatial: DataFrame, merge_same_day: bool = True,
                   carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-(date, y, x) mean over the date's timestamps, re-keyed to the
    epoch-mean of the date's distinct timestamps, equal weight per
    timestamp (merger.py:56-93). µs precision (Spark) vs the reference's
    ns is lossless here — the mean of µs-exact inputs (SURVEY §4.3.7).

    Single linear DAG: the per-pixel aggregate CARRIES the distinct time
    set (collect_set — bounded by timestamps-per-day, a handful), and the
    date-level union happens in a window over the per-date table. The
    naive formulation — a second ``spatial.select(date,time).distinct()``
    branch joined back — canonicalizes differently after column pruning,
    so Spark cannot reuse the exchange and the ENTIRE upstream pixel
    chain (scan → mask → indices → spatial merge) executes twice; this
    shape computes it once (measured 2 scans → 1 on the q23 plan)."""
    if not merge_same_day:
        return spatial
    per_date = spatial.groupBy(F.to_date("time").alias("date"), "y", "x").agg(
        F.avg("ndvi").alias("ndvi"),
        F.avg("evi").alias("evi"),
        F.collect_set("time").alias("_ts"),
        *[F.max(c).alias(c) for c in carry],
    )
    # Per-date distinct-time union: window over the per-date table (one
    # row per pixel per date — dimension-sized). array_sort makes the
    # double summation order deterministic across runs.
    all_ts = F.array_sort(
        F.array_distinct(F.flatten(F.collect_set("_ts").over(Window.partitionBy("date"))))
    )
    return (
        per_date.select(
            "date", "y", "x", "ndvi", "evi",
            all_ts.alias("_all_ts"),
            *carry,
        )
        .select(
            F.timestamp_micros(
                (
                    F.aggregate(
                        F.transform("_all_ts", lambda t: F.unix_micros(t).cast("double")),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                    / F.size("_all_ts")
                ).cast("long")
            ).alias("time"),
            "y",
            "x",
            "ndvi",
            "evi",
            F.size("_all_ts").alias("num_granules_merged"),
            *carry,
        )
    )


def merge_all(pixels: DataFrame, merge_same_day: bool = True,
              track_tiles: bool = True, carry: tuple[str, ...] = ()) -> DataFrame:
    """Spatial then temporal merge; ordering is a query-time concern
    (ORDER BY time at the consumer/sink), not a storage property.

    One explicit repartition by the pixel identity (y, x) feeds BOTH
    stages: hash-clustering on a subset of each groupBy's keys satisfies
    ClusteredDistribution for (time, y, x) and (date, y, x) alike, so
    neither aggregate adds its own exchange. At any scale this replaces
    {shuffle(pixels on time,y,x) + shuffle(spatial on date,y,x)} with
    {shuffle(pixels on y,x)} — same bytes moved in the big first hop, the
    second hop eliminated (verified 2 exchanges → 1 on the q23 plan)."""
    return merge_temporal(
        merge_spatial_tiles(
            pixels.repartition("y", "x"), track_tiles=track_tiles, carry=carry
        ),
        merge_same_day,
        carry=carry,
    )
