"""Watermarked window aggregations and streaming dedup over events.

Watermarks, tumbling/sliding/session windows and ``dropDuplicates``
have no reference counterpart — they are engine additions (SURVEY
§2.9). The reference's same-day merge of granules that arrive
separately (``core/merger.py:56-93``, SURVEY T2) is the
batch ``operators/merge.py::merge_temporal``.

Scale posture: every function here is a keyed stateful aggregation whose
state is bounded by (watermark horizon × key cardinality), never by
stream length. State lives in the executor state store (RocksDB on a real
cluster), partitioned by the grouping key — the same shuffle partitioning
a batch groupBy would use, so the plan survives a 100× scale-up by adding
executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_stats(
    stream: DataFrame,
    window: str = "1 day",
    slide: str | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Tumbling (or sliding, if ``slide`` given) per-event-type window
    aggregate: count, null-skipping mean, population std — the A2 shapes
    on an unbounded stream. Late rows beyond ``watermark`` are dropped and
    their windows finalized.
    """
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("mean_value"),
            F.stddev_pop("value").alias("std_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "mean_value",
            "std_value",
        )
    )


def sessionized_user_activity(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. No reference counterpart — engine addition exercised on
    the events fixture.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
            "total_value",
        )
    )


def stream_dedup(
    stream: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins; state for a
    key is dropped once the watermark passes it (dropDuplicatesWithinWatermark),
    so state size is bounded by the watermark horizon, not stream length.
    """
    keys = keys or ["event_id"]
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
