"""Structured Streaming surface (SURVEY §2.9, build plan M5).

The reference is batch-only, but three of its mechanisms are
streaming-shaped (SURVEY T1-T4): the micro-batch granule loop
(``/root/reference/core/pipeline.py:98-124``), same-day merge of granules
arriving separately (``/root/reference/core/merger.py:56-93``), and ordered
event detection over the growing time series
(``/root/reference/core/quality.py:105-181``). This package implements
them on unbounded input:

  * :mod:`sources` — file-based streaming reads of the fixture tables
    (micro-batch replays of the ``events`` and ``documents`` parquet,
    their arrival order and the replay reader);
  * :mod:`ingest` — the stream ingests over durable per-batch stores,
    all delivered through one micro-batch store path;
  * :mod:`windows` — watermark + tumbling/sliding/session window
    aggregations and streaming deduplication;
  * :mod:`stateful` — incremental event detection with
    ``applyInPandasWithState`` (the streaming form of
    ``operators/events.py``).
"""

from bloomy_etl_spark.streaming.sources import read_events_stream, replay_dir
from bloomy_etl_spark.streaming.windows import (
    sessionized_user_activity,
    stream_dedup,
    windowed_event_stats,
)
from bloomy_etl_spark.streaming.stateful import (
    streaming_detect_events,
    streaming_trailing_range,
    streaming_trailing_range_tws,
)

__all__ = [
    "read_events_stream",
    "replay_dir",
    "windowed_event_stats",
    "sessionized_user_activity",
    "stream_dedup",
    "streaming_detect_events",
    "streaming_trailing_range",
    "streaming_trailing_range_tws",
]
