"""Incremental event detection: the streaming form of operators/events.py.

Reference parity: ``EventDetector.detect_events``
(``/root/reference/core/quality.py:105-181``) classifies each point of the
NDVI series using its previous value (drop), next value (recovery) and a
3-point trailing window (sustained change). Batch expresses this with
lag/lead windows (SURVEY W1-W3); on an unbounded stream the same
semantics become keyed state:

  * history — the last 3 (date, value) points per series key;
  * pending — a detected drop awaiting its *next* point for
    transient-vs-permanent classification (the lead(v) dependency);
  * timeout — the reference's last-element ``recent_event`` case
    (``quality.py:147-154``): a drop with no next point. In streaming
    "no next point" = no data before the processing-time timeout fires.

The per-point transition is a pure function (:func:`step`) shared by the
unit tests; ``applyInPandasWithState`` supplies durable state, shuffle
partitioning by series key, and exactly-once replay. State per key is O(1)
— three floats and a pending struct — so key cardinality, not stream
length, bounds the state store: the plan survives any scale-up by adding
executors.

Ordering contract: points must arrive in event-time order per key (the
reference sorts its series first, ``quality.py:24``). Feed this operator
from an ordered replay or a watermarked window-agg upstream.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bloomy_etl_spark.functions.indices import DEFAULT_QUALITY, QualityThresholds

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("series_id", T.StringType()),
        T.StructField("event_kind", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("start_date", T.StringType()),
        T.StructField("end_date", T.StringType()),
        T.StructField("ndvi_before", T.DoubleType()),
        T.StructField("ndvi_during", T.DoubleType()),
        T.StructField("ndvi_after", T.DoubleType()),
        T.StructField("drop_mag", T.DoubleType()),
        T.StructField("ndvi_sustained", T.DoubleType()),
        T.StructField("event_type", T.StringType()),
    ]
)

# history: parallel arrays of the last ≤3 points; pending: the
# unclassified drop (pend_set discriminates because every field of a
# pending drop may legitimately be NULL).
STATE_SCHEMA = T.StructType(
    [
        T.StructField("dates", T.ArrayType(T.StringType(), containsNull=True)),
        T.StructField("vals", T.ArrayType(T.DoubleType(), containsNull=True)),
        T.StructField("pend_set", T.BooleanType()),
        T.StructField("pend_date", T.StringType()),
        T.StructField("pend_prev", T.DoubleType()),
        T.StructField("pend_v", T.DoubleType()),
    ]
)


@dataclass
class SeriesState:
    """Pure-Python mirror of STATE_SCHEMA."""

    dates: list
    vals: list
    pend_set: bool = False
    pend_date: str | None = None
    pend_prev: float | None = None
    pend_v: float | None = None


def _row(kind: str, **kw) -> dict:
    base = {
        "event_kind": kind,
        "date": None,
        "start_date": None,
        "end_date": None,
        "ndvi_before": None,
        "ndvi_during": None,
        "ndvi_after": None,
        "drop_mag": None,
        "ndvi_sustained": None,
        "event_type": None,
    }
    base.update(kw)
    return base


def _finite(x) -> bool:
    return x is not None and x == x  # NaN-safe (reference treats NaN as missing)


def step(
    st: SeriesState, date: str, v: float | None, q: QualityThresholds
) -> list[dict]:
    """Advance one point; mutate ``st``; return emitted event rows.

    Mirrors the batch classification exactly (operators/events.py):
    a pending drop resolves as transient_anomaly iff the new point
    recovers by more than recovery_threshold, else possible_fire_or_harvest
    (NULL recovery counts as no recovery — quality.py:137-145 via the
    coalesce in the batch filter).
    """
    out: list[dict] = []
    if st.pend_set:
        recovered = (
            _finite(v)
            and _finite(st.pend_v)
            and (v - st.pend_v) > q.recovery_threshold
        )
        if recovered:
            out.append(
                _row(
                    "anomaly",
                    date=st.pend_date,
                    ndvi_before=st.pend_prev,
                    ndvi_during=st.pend_v,
                    ndvi_after=v,
                    event_type="transient_anomaly",
                )
            )
        else:
            out.append(
                _row(
                    "abrupt_drop",
                    date=st.pend_date,
                    ndvi_before=st.pend_prev,
                    ndvi_after=st.pend_v,
                    drop_mag=abs(st.pend_v - st.pend_prev),
                    event_type="possible_fire_or_harvest",
                )
            )
        st.pend_set = False
        st.pend_date = st.pend_prev = st.pend_v = None

    prev = st.vals[-1] if st.vals else None
    if _finite(v) and _finite(prev) and (v - prev) < q.abrupt_drop:
        st.pend_set = True
        st.pend_date, st.pend_prev, st.pend_v = date, prev, v

    # sustained change: v[i-3] > high AND all of v[i-2..i] < low
    # (quality.py:156-165); the all-non-null guard is batch's cnt3 == 3.
    if len(st.vals) >= 3:
        v_m3, v_m2, v_m1 = st.vals[-3], st.vals[-2], st.vals[-1]
        window = [v_m2, v_m1, v]
        if (
            all(_finite(x) for x in window)
            and _finite(v_m3)
            and max(window) < q.sustained_low
            and v_m3 > q.sustained_high_before
        ):
            out.append(
                _row(
                    "sustained_change",
                    start_date=st.dates[-2],
                    end_date=date,
                    ndvi_before=v_m3,
                    ndvi_sustained=sum(window) / 3.0,
                    event_type="sustained_change",
                )
            )

    st.dates.append(date)
    st.vals.append(None if not _finite(v) else float(v))
    if len(st.vals) > 3:
        st.dates = st.dates[-3:]
        st.vals = st.vals[-3:]
    return out


def flush(st: SeriesState) -> list[dict]:
    """End-of-series: a still-pending drop is the reference's last-element
    ``recent_event`` (quality.py:147-154)."""
    if not st.pend_set:
        return []
    row = _row(
        "abrupt_drop",
        date=st.pend_date,
        ndvi_before=st.pend_prev,
        ndvi_after=st.pend_v,
        drop_mag=abs(st.pend_v - st.pend_prev),
        event_type="recent_event",
    )
    st.pend_set = False
    st.pend_date = st.pend_prev = st.pend_v = None
    return [row]


def _detect_fn(q: QualityThresholds, timeout_ms: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        series_id = key[0]
        if state.exists:
            dates, vals, pend_set, pend_date, pend_prev, pend_v = state.get
            st = SeriesState(list(dates), list(vals), pend_set, pend_date, pend_prev, pend_v)
        else:
            st = SeriesState([], [])

        rows: list[dict] = []
        if state.hasTimedOut:
            # Timed-out = the series went idle: flush the pending drop and
            # DROP the state-store entry. Re-arming here would cycle every
            # idle key through timeouts forever — unbounded key retention.
            # If the series later resumes, detection restarts with an
            # empty history (the same contract as watermark-expired state).
            rows.extend(flush(st))
            state.remove()
        else:
            batch = pd.concat(list(pdfs), ignore_index=True)
            batch = batch.sort_values("time")
            for date, v in zip(batch["date"], batch["value"]):
                rows.extend(step(st, date, None if pd.isna(v) else float(v), q))
            state.update(
                (st.dates, st.vals, st.pend_set, st.pend_date, st.pend_prev, st.pend_v)
            )
            if timeout_ms > 0:
                state.setTimeoutDuration(timeout_ms)
        if rows:
            out = pd.DataFrame(rows)
            out.insert(0, "series_id", series_id)
            yield out

    return fn


def streaming_detect_events(
    series_stream: DataFrame,
    q: QualityThresholds = DEFAULT_QUALITY,
    key_col: str = "series_id",
    timeout_ms: int = 60_000,
) -> DataFrame:
    """Stateful streaming event detector.

    ``series_stream`` columns: ``key_col`` (series identity — AOI/tile),
    ``time`` (timestamp), ``date`` (string), ``value`` (double, nullable).
    Emits the batch detector's schema plus the key. A drop at the stream
    head stays pending until the next point or until ``timeout_ms`` of
    processing-time silence, which resolves it as ``recent_event``.
    """
    cols = series_stream.select(
        series_stream[key_col].alias("series_id"), "time", "date", "value"
    )
    return cols.groupBy("series_id").applyInPandasWithState(
        _detect_fn(q, timeout_ms),
        outputStructType=EVENT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ---------------------------------------------------------------------------
# Trailing time-range stats: the streaming form of the q114 RANGE frame
# (operators/engine_queries.py::q114_range_frame_window). Batch expresses
# "count + quantized sum of the SAME key's rows in the trailing hour" as
# a RANGE BETWEEN frame; on an unbounded stream the same semantics become
# keyed state holding ONLY the rows still inside the trailing span.
# ---------------------------------------------------------------------------

TRAIL_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("n_1h", T.LongType()),
        T.StructField("sum_v_e4", T.LongType()),
    ]
)

# parallel arrays of the in-span rows (event-time µs, quantized value)
TRAIL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("eus", T.ArrayType(T.LongType(), containsNull=False)),
        T.StructField("v", T.ArrayType(T.LongType(), containsNull=False)),
    ]
)


def _make_trail_frames(range_us: int):
    """Build the per-batch frame-advance function shared VERBATIM by
    both stateful APIs — returned as a CLOSURE (not a module-level
    function) because cloudpickle serializes closures by value: the
    transformWithStateInPandas driver worker is a separate Python
    process that cannot import ``bloomy_etl_spark``, so nothing it
    unpickles may reference this module.

    The returned ``trail_frames(eus_buf, v_buf, batch) -> dict``
    advances a key's buffers over one micro-batch and returns the
    per-event emission columns. Semantics match SQL ``RANGE … CURRENT
    ROW`` exactly, including PEER rows: all events sharing an eus
    enter the frame before ANY of them emits, so tied timestamps
    report the same (count, sum) — the batch window's peer-inclusion
    rule. A running sum makes per-event work O(1) amortized
    (evictions are paid once per evicted row).

    Ordering contract: event-time order per key ACROSS micro-batches,
    and rows sharing an eus must arrive in the SAME micro-batch (a
    cross-batch peer would need to retro-update an already-emitted
    append-mode row).
    """

    def trail_frames(eus_buf: list, v_buf: list, batch) -> dict:
        batch = batch.sort_values(["eus", "event_id"], kind="mergesort")
        ids = batch["event_id"].to_numpy()
        es = batch["eus"].to_numpy()
        vs = batch["v_e4"].to_numpy()
        out = {"event_id": [], "n_1h": [], "sum_v_e4": []}
        s_run = sum(v_buf)  # once per batch; O(1) per event afterwards
        i, m = 0, len(batch)
        while i < m:
            j, t = i, int(es[i])
            while j < m and int(es[j]) == t:
                j += 1
            for k in range(i, j):  # all peers enter before any emits
                eus_buf.append(t)
                v_buf.append(int(vs[k]))
                s_run += int(vs[k])
            lo = t - range_us
            k = 0
            while eus_buf[k] < lo:
                k += 1
            if k:
                s_run -= sum(v_buf[:k])
                del eus_buf[:k], v_buf[:k]
            n = len(eus_buf)
            for p in range(i, j):
                out["event_id"].append(int(ids[p]))
                out["n_1h"].append(n)
                out["sum_v_e4"].append(s_run)
            i = j
        return out

    return trail_frames


def _trail_fn(range_us: int):
    frames = _make_trail_frames(range_us)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        if state.exists:
            eus_buf, v_buf = (list(a) for a in state.get)
        else:
            eus_buf, v_buf = [], []
        # concatenate ALL of the key's Arrow chunks before sorting: a
        # key larger than arrow.maxRecordsPerBatch arrives as several
        # chunks in shuffle order, and per-chunk sorting would break
        # the buffer's event-time invariant
        batch = pd.concat(list(pdfs), ignore_index=True)
        out = frames(eus_buf, v_buf, batch)
        state.update((eus_buf, v_buf))
        res = pd.DataFrame(out)
        res.insert(1, "user_id", user_id)
        yield res

    return fn


def streaming_trailing_range(
    events_stream: DataFrame,
    range_us: int = 3_600_000_000,
    key_col: str = "user_id",
) -> DataFrame:
    """Per-key trailing time-range count + exact quantized sum — the
    streaming counterpart of the batch RANGE frame (q114): for every
    event, how many of the same user's events fall in the trailing hour
    and their exact ``floor(value·10⁴)`` sum.

    ``events_stream`` columns: ``key_col``, ``event_id``, ``ts``
    (timestamp), ``value`` (double). Emits one row per input event with
    the batch query's exact schema — including SQL's peer-inclusion on
    tied timestamps — so stream ≡ batch is bit-checkable after an
    ordered replay (ties must co-arrive in one micro-batch; see
    :func:`_make_trail_frames` for the contract).

    Scale posture: state per key is ONLY the rows inside the trailing
    span (rate × span, independent of stream length); the shuffle is
    keyed by ``key_col`` — the same partitioning the batch window uses,
    so the plan survives a 100× scale-up by adding executors. No
    timeout: an idle key's buffer stays until its next event (bounded),
    and eviction is deterministic in event time, never wall clock.
    """
    cols = events_stream.select(
        events_stream[key_col].alias("user_id"),
        F.col("event_id").cast("long"),
        F.unix_micros(F.col("ts")).alias("eus"),
        F.floor(F.col("value") * 10000).cast("long").alias("v_e4"),
    )
    return cols.groupBy("user_id").applyInPandasWithState(
        _trail_fn(range_us),
        outputStructType=TRAIL_SCHEMA,
        stateStructType=TRAIL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _twscls():
    """Build the TWS processor class lazily AND self-contained: the
    StatefulProcessor API (transformWithStateInPandas, Spark 4.x)
    imports only when used, and the class is defined inside this
    factory so cloudpickle serializes it BY VALUE — the TWS driver
    worker is a separate Python process that cannot import
    ``bloomy_etl_spark`` (it has no addPyFile hook). The frame-advance
    logic arrives as the :func:`_make_trail_frames` CLOSURE (by-value
    too) and the state schema as a constructor VALUE — nothing the
    worker unpickles references this module."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TrailingRangeProcessor(StatefulProcessor):
        """transformWithStateInPandas form of the trailing-range frame:
        buffer in a typed ValueState variable instead of the legacy
        GroupState tuple. State layout and emissions are IDENTICAL to
        :func:`streaming_trailing_range` — both APIs run the SAME
        closure from :func:`_make_trail_frames`."""

        def __init__(self, range_us: int, state_schema):
            self._frames = _make_trail_frames(range_us)
            self._state_schema = state_schema

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._buf = handle.getValueState("buf", self._state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as _pd

            if self._buf.exists():
                eus_buf, v_buf = (list(a) for a in self._buf.get())
            else:
                eus_buf, v_buf = [], []
            # concatenate ALL chunks first: a key above
            # arrow.maxRecordsPerBatch arrives split, and per-chunk
            # sorting would break the buffer's event-time invariant
            batch = _pd.concat(list(rows), ignore_index=True)
            out = self._frames(eus_buf, v_buf, batch)
            res = _pd.DataFrame(out)
            res.insert(1, "user_id", key[0])
            yield res
            self._buf.update((eus_buf, v_buf))

        def close(self) -> None:
            pass

    return TrailingRangeProcessor


def streaming_trailing_range_tws(
    events_stream: DataFrame,
    range_us: int = 3_600_000_000,
    key_col: str = "user_id",
) -> DataFrame:
    """:func:`streaming_trailing_range` on the transformWithStateInPandas
    API (Spark 4.x StatefulProcessor): typed ValueState holds the
    in-span buffer, ``timeMode='None'`` because eviction is driven by
    EVENT TIME embedded in the data (deterministic under replay — a
    processing-time timer would not be). Output rows, state bound, and
    the per-point transition are identical to the legacy-API form; the
    equivalence test drives BOTH against the batch RANGE frame."""
    cols = events_stream.select(
        events_stream[key_col].alias("user_id"),
        F.col("event_id").cast("long"),
        F.unix_micros(F.col("ts")).alias("eus"),
        F.floor(F.col("value") * 10000).cast("long").alias("v_e4"),
    )
    proc = _twscls()(range_us, TRAIL_STATE_SCHEMA)
    return cols.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=TRAIL_SCHEMA,
        outputMode="append",
        timeMode="None",
    )
