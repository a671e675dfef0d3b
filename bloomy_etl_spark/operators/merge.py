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
pixel identity. The same-day merge's timestamp and granule count are one
value per date, so they are computed on a table the size of the granule
list (``day_columns``) and carried to the pixel rows, never derived from
the merged pixels. At 100 TB the pixel table is stored partitioned by
date, so the temporal merge shuffles only within date partitions and AQE
coalesces the output; no collect, no driver state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
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


# Date-level columns carried on the pixel rows into merge_temporal: the
# date's merged timestamp and its granule count (one value per date).
DAY_COLS = ("_day_time", "_day_n")


def day_columns(times: Column) -> list[Column]:
    """``DAY_COLS`` from one date's set of distinct timestamps (a
    ``collect_set``): the epoch mean of the sorted set and its size.
    array_sort fixes the double summation order, so the mean is the same
    bit pattern on every run and at every call site. An empty set gives
    a NULL time (try_divide, so ANSI mode does not raise) and count 0."""
    ts = F.array_sort(times)
    mean_us = F.try_divide(
        F.aggregate(
            F.transform(ts, lambda t: F.unix_micros(t).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        F.size(ts),
    )
    return [
        F.timestamp_micros(mean_us.cast("long")).alias("_day_time"),
        F.size(ts).alias("_day_n"),
    ]


def with_day_columns(pixels: DataFrame) -> DataFrame:
    """Attach ``DAY_COLS`` to every pixel row with one broadcast join.

    The broadcast table is one row per date, built from the set of
    distinct timestamps of the input, so it is granule-list sized. It is
    a second branch over ``pixels``, so the chain under it runs once more
    for the times; ``run_pipeline`` avoids that by deriving the columns
    from its pinned kept-granule list instead. A row with a NULL ``time``
    has no date, keeps NULL day columns (left join) and merges to a NULL
    ``time`` with ``num_granules_merged`` 0."""
    days = (
        pixels.groupBy(F.to_date("time").alias("_date"))
        .agg(F.collect_set("time").alias("_ts"))
        .select("_date", *day_columns(F.col("_ts")))
    )
    return (
        pixels.withColumn("_date", F.to_date("time"))
        .join(F.broadcast(days), "_date", "left")
        .drop("_date")
    )


def merge_temporal(spatial: DataFrame, merge_same_day: bool = True,
                   carry: tuple[str, ...] = ()) -> DataFrame:
    """Per-(date, y, x) mean over the date's timestamps, re-keyed to the
    epoch-mean of the date's distinct timestamps, equal weight per
    timestamp (merger.py:56-93). µs precision (Spark) vs the reference's
    ns is lossless here — the mean of µs-exact inputs (SURVEY §4.3.7).

    The merged timestamp and ``num_granules_merged`` are date-level
    values, computed once per date (``day_columns``) before the pixels
    reach this stage and carried on ``spatial`` as ``DAY_COLS``. So this
    stage is plain ``avg``/``max`` hash aggregates on (date, y, x): no
    per-pixel time set, no window over the merged rows."""
    if not merge_same_day:
        return spatial
    return spatial.groupBy(F.to_date("time").alias("date"), "y", "x").agg(
        F.avg("ndvi").alias("ndvi"),
        F.avg("evi").alias("evi"),
        F.max("_day_time").alias("time"),
        F.coalesce(F.max("_day_n"), F.lit(0)).alias("num_granules_merged"),
        *[F.max(c).alias(c) for c in carry],
    ).select("time", "y", "x", "ndvi", "evi", "num_granules_merged", *carry)


def merge_all(pixels: DataFrame, merge_same_day: bool = True,
              track_tiles: bool = True, carry: tuple[str, ...] = ()) -> DataFrame:
    """Spatial then temporal merge; ordering is a query-time concern
    (ORDER BY time at the consumer/sink), not a storage property.

    ``DAY_COLS`` already on ``pixels`` (``run_pipeline`` puts them there
    from the kept-granule list) are used as given; otherwise the same-day
    merge attaches them with ``with_day_columns``. Either way they ride
    the spatial merge as ``max`` carries.

    One explicit repartition by the pixel identity (y, x) feeds BOTH
    stages: hash-clustering on a subset of each groupBy's keys satisfies
    ClusteredDistribution for (time, y, x) and (date, y, x) alike, so
    neither aggregate adds its own exchange. At any scale this replaces
    {shuffle(pixels on time,y,x) + shuffle(spatial on date,y,x)} with
    {shuffle(pixels on y,x)} — same bytes moved in the big first hop, the
    second hop eliminated (verified 2 exchanges → 1 on the q23 plan)."""
    day: tuple[str, ...] = ()
    if merge_same_day:
        day = DAY_COLS
        if not set(DAY_COLS) <= set(pixels.columns):
            pixels = with_day_columns(pixels)
    return merge_temporal(
        merge_spatial_tiles(
            pixels.repartition("y", "x"), track_tiles=track_tiles,
            carry=(*carry, *day),
        ),
        merge_same_day,
        carry=carry,
    )
