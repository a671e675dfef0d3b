"""Streaming sources: micro-batch replays of the fixture tables.

The reference's ingestion loop processes granules in batches of 10 with a
pause between batches (``/root/reference/core/pipeline.py:98-124``) — a
hand-rolled micro-batch trigger. Structured Streaming's file source is the
idiomatic equivalent: each new file (or ``maxFilesPerTrigger`` slice of the
backlog) is one micro-batch, checkpointed and replayable.

Scale: the file-source listing is driver-side but incremental; at real
scale the same code points at a cloud-storage prefix or is swapped for a
Kafka source — every downstream operator in :mod:`windows` /
:mod:`stateful` is source-agnostic.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ``replay_dir`` rewrites the fixture with ts already normalized to plain
# TIMESTAMP (see ``sources.tables.normalize_events_ts`` — it absorbs both
# the nanos-as-long and the timestamp_ntz fixture generations), so the
# declared streaming schema is the normalized shape. Streaming reads need
# the schema declared up front.
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def replay_dir(spark: SparkSession, sf_dir: str, out_dir: str, n_files: int = 8) -> str:
    """Materialize ``events`` as ``n_files`` time-ordered parquet files so a
    file-source stream replays it in ``n_files`` micro-batches.

    Ordering by ts before the split makes the replay in-event-time-order
    across batches (late data is then injected deliberately in tests, not
    accidentally by file layout). Range-partitioning by ts keeps each file
    a contiguous time slice — the shape a real ingest (hourly drops,
    Kafka log segments) produces.
    """
    from ..sources.tables import load_table

    events = (
        load_table(spark, sf_dir, "events")
        .repartitionByRange(n_files, "ts")
        .sortWithinPartitions("ts")
    )
    events.write.mode("overwrite").parquet(out_dir)
    return out_dir


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """``readStream`` over a directory of events parquet files (as written
    by :func:`replay_dir`, ts already normalized to plain TimestampType —
    the same shape batch ``load_table`` yields).
    """
    reader = spark.readStream.schema(_EVENTS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _order_mtimes(out_dir: str) -> None:
    """Give the part files under ``out_dir``, slice subdirectories
    included, mtimes 1 s apart in path order. The file stream source
    picks batches by modification time, and the part files of one
    parquet write can share an mtime: tie order is arbitrary, which
    would silently break the arrival order an order-sensitive replay
    assumes."""
    parts = sorted(
        glob.glob(os.path.join(out_dir, "**", "part-*"), recursive=True)
    )
    base = os.stat(parts[0]).st_mtime if parts else 0
    for i, p in enumerate(parts):
        os.utime(p, (base + i, base + i))


def replay_dir_ordered(spark: SparkSession, sf_dir: str, out_dir: str,
                       n_files: int = 8) -> str:
    """:func:`replay_dir` with DETERMINISTIC arrival order: the part
    files are ordered by time slice (:func:`_order_mtimes`), so
    ``maxFilesPerTrigger=1`` replays the slices exactly in event-time
    order — the ordered-arrival contract the continuation-fold ingests
    (EWMA, CUSUM, SCD2) are tested under."""
    replay_dir(spark, sf_dir, out_dir, n_files=n_files)
    _order_mtimes(out_dir)
    return out_dir


def replay_docs_dir(spark: SparkSession, sf_dir: str, out_dir: str,
                    n_files: int = 4) -> str:
    """Materialize the ``documents`` fixture as ``n_files`` id-ordered
    parquet files so a file-source stream replays it as ``n_files``
    deterministic micro-batches (the documents analogue of
    :func:`replay_dir_ordered`)."""
    from ..sources.tables import load_table

    (
        load_table(spark, sf_dir, "documents")
        .repartitionByRange(n_files, "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    _order_mtimes(out_dir)
    return out_dir


def read_docs_stream(spark: SparkSession, path: str,
                     max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a replay written by this module or over
    mtime-ordered slice directories (``path`` may be a glob), taking
    ``max_files_per_trigger`` files per micro-batch. The schema is read
    from the first part file, not declared: fixture generations differ.
    (A batch read of a glob path would log a failed metadata-directory
    lookup with a stack trace.)"""
    first = min(glob.glob(os.path.join(path, "part-*")))
    return (
        spark.readStream.schema(spark.read.parquet(first).schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
