"""M5 streaming: batch-equivalence after watermark closure (SURVEY §5.2.4).

Each test replays the events fixture through a file-source stream in
micro-batches (availableNow trigger) and asserts the streaming result
equals the batch computation on the same data — the only ground truth a
streaming op has (SURVEY §7.3).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.indices import DEFAULT_QUALITY
from bloomy_etl_spark.operators.events import detect_events
from bloomy_etl_spark.sources.tables import load_table
from bloomy_etl_spark.streaming import (
    read_events_stream,
    replay_dir,
    sessionized_user_activity,
    stream_dedup,
    streaming_detect_events,
    windowed_event_stats,
)
from bloomy_etl_spark.streaming.stateful import SeriesState, flush, step

from conftest import SF_SMOKE


def run_to_memory(stream_df, name: str, spark):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append" if "dedup" in name else "complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


@pytest.fixture(scope="module")
def replay(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_replay"))
    return replay_dir(spark, SF_SMOKE, out, n_files=6)


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF_SMOKE, "events")


def _sorted_pdf(df, cols) -> pd.DataFrame:
    return (
        df.select(*cols)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )


class TestWindowedAggs:
    def test_tumbling_daily_stats_match_batch(self, spark, replay, batch_events):
        stream = read_events_stream(spark, replay, max_files_per_trigger=2)
        got = run_to_memory(
            windowed_event_stats(stream, window="1 day"), "win_stats", spark
        )
        want = (
            batch_events.groupBy(
                F.window("ts", "1 day").alias("win"), "event_type"
            )
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
        cols = ["win_start", "win_end", "event_type", "n"]
        pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))

    def test_session_windows_cover_all_events(self, spark, replay, batch_events):
        stream = read_events_stream(spark, replay, max_files_per_trigger=3)
        got = run_to_memory(
            sessionized_user_activity(stream, gap="6 hours"), "sessions", spark
        )
        # invariants: every event lands in exactly one session of its user
        assert got.agg(F.sum("n_events")).first()[0] == batch_events.count()
        assert got.filter(F.col("sess_end") < F.col("sess_start")).count() == 0
        per_user = got.groupBy("user_id").agg(F.sum("n_events").alias("n"))
        want = batch_events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        cols = ["user_id", "n"]
        pd.testing.assert_frame_equal(
            _sorted_pdf(per_user, cols), _sorted_pdf(want, cols)
        )


class TestStreamDedup:
    def test_duplicate_replay_collapses(self, spark, replay, batch_events, tmp_path):
        # duplicate the stream dir contents → every event arrives twice
        dup = str(tmp_path / "dup")
        base = spark.read.parquet(replay)
        base.unionAll(base).repartitionByRange(4, "ts").write.parquet(dup)
        stream = read_events_stream(spark, dup, max_files_per_trigger=1)
        # watermark must cover the whole fixture span: the file source does
        # not guarantee time-ordered file pickup, and a short watermark
        # would drop whole slices as late rather than exercise dedup
        got = run_to_memory(
            stream_dedup(stream, keys=["event_id"], watermark="90 days"),
            "dedup_stream",
            spark,
        )
        assert got.count() == batch_events.count()
        assert got.select("event_id").distinct().count() == batch_events.count()


class TestStatefulDetector:
    def _series(self, batch_events):
        """Per-day mean value series (the detector's batch input shape)."""
        return (
            batch_events.groupBy(F.date_trunc("day", "ts").alias("time"))
            .agg(F.avg("value").alias("v"))
            .select(
                "time", F.date_format("time", "yyyy-MM-dd").alias("date"), "v"
            )
        )

    def test_stream_matches_batch_detector(self, spark, batch_events, tmp_path):
        series = self._series(batch_events).orderBy("time")
        src = tmp_path / "series"
        src.mkdir()
        # One file per micro-batch. The file source picks files up in
        # modification-time order, NOT path order — set mtimes explicitly
        # so slices replay in event-time order (the detector's ordering
        # contract; the reference sorts its series too, quality.py:24).
        pdf = series.toPandas()
        n_slices, t0 = 4, 1_000_000_000
        bounds = np.linspace(0, len(pdf), n_slices + 1, dtype=int)
        for i in range(n_slices):
            f = src / f"slice-{i:05d}.parquet"
            # µs timestamps: pandas' default ns parquet would scan as raw
            # int64 under the session's nanosAsLong conf
            pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(
                f, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
            )
            os.utime(f, (t0 + i * 10, t0 + i * 10))
        src = str(src)

        schema = "time timestamp, date string, v double"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select(
                F.lit("s0").alias("series_id"),
                "time",
                "date",
                F.col("v").alias("value"),
            )
        )
        out = streaming_detect_events(stream, timeout_ms=0)
        q = (
            out.writeStream.format("memory")
            .queryName("stream_events")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.table("stream_events").drop("series_id")

        want = detect_events(series)
        # the stream never "ends", so the batch last-element recent_event
        # cannot have fired (it maps to the processing-time timeout)
        want = want.filter(F.col("event_type") != "recent_event")
        cols = ["event_kind", "date", "start_date", "end_date", "event_type"]
        pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
        num = ["ndvi_before", "ndvi_during", "ndvi_after", "drop_mag", "ndvi_sustained"]
        g = _sorted_pdf(got, cols + num)[num].astype(float)
        w = _sorted_pdf(want, cols + num)[num].astype(float)
        pd.testing.assert_frame_equal(g, w, atol=1e-9, check_exact=False)


    def test_stream_matches_batch_on_engineered_series(self, spark, tmp_path):
        """SURVEY §5.2.4 full-corpus shape: the q25 day-factored series
        (drops on day 12, sustained low 20–22, recovery spikes) fires
        EVERY event branch; streamed replay must equal the batch detector
        branch for branch, not just on the quiet natural series."""
        from bloomy_etl_spark.operators.bloomy_queries import synthetic_pixels
        from bloomy_etl_spark.functions.indices import with_indices, with_masks
        from bloomy_etl_spark.operators.merge import merge_all

        px = with_indices(with_masks(synthetic_pixels(spark, SF_SMOKE)))
        cube = merge_all(
            px.filter(~F.col("mask")).select("tile_id", "time", "y", "x", "ndvi", "evi")
        )
        daily = cube.groupBy(F.to_date("time").alias("day")).agg(
            F.avg("ndvi").alias("raw")
        )
        dom = F.dayofmonth("day")
        factor = (
            F.when(dom == 12, 0.2)
            .when(dom.isin(20, 21, 22), 0.15)
            .when(dom == 30, 0.25)
            .otherwise(1.0)
        )
        series = daily.select(
            F.col("day").cast("timestamp").alias("time"),
            F.date_format("day", "yyyy-MM-dd").alias("date"),
            (F.lit(0.6) * factor + F.lit(0.05) * F.col("raw")).alias("v"),
        ).orderBy("time")

        src = tmp_path / "factored_series"
        src.mkdir()
        pdf = series.toPandas()
        n_slices, t0 = 6, 1_000_000_000
        bounds = np.linspace(0, len(pdf), n_slices + 1, dtype=int)
        for i in range(n_slices):
            f = src / f"slice-{i:05d}.parquet"
            pdf.iloc[bounds[i] : bounds[i + 1]].to_parquet(
                f, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
            )
            os.utime(f, (t0 + i * 10, t0 + i * 10))

        stream = (
            spark.readStream.schema("time timestamp, date string, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .select(
                F.lit("s0").alias("series_id"), "time", "date",
                F.col("v").alias("value"),
            )
        )
        out = streaming_detect_events(stream, timeout_ms=0)
        q = (
            out.writeStream.format("memory")
            .queryName("stream_events_factored")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = spark.table("stream_events_factored").drop("series_id")

        want = detect_events(series).filter(F.col("event_type") != "recent_event")
        cols = ["event_kind", "date", "start_date", "end_date", "event_type"]
        pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))
        num = ["ndvi_before", "ndvi_during", "ndvi_after", "drop_mag", "ndvi_sustained"]
        g = _sorted_pdf(got, cols + num)[num].astype(float)
        w = _sorted_pdf(want, cols + num)[num].astype(float)
        pd.testing.assert_frame_equal(g, w, atol=1e-9, check_exact=False)
        # the engineered factors must exercise the drop and sustained
        # branches (the transient-anomaly branch needs a next-day recovery
        # point, which the sparse smoke-SF day grid does not guarantee —
        # all three branches are covered at sf0.01 by q25's oracle gate)
        kinds = {r["event_kind"] for r in got.select("event_kind").distinct().collect()}
        assert {"abrupt_drop", "sustained_change"} <= kinds


class TestStepFunction:
    """Pure-transition unit tests, incl. the timeout → recent_event edge
    that availableNow replay cannot reach."""

    def test_transient_anomaly_then_recovery(self):
        st = SeriesState([], [])
        q = DEFAULT_QUALITY
        assert step(st, "d1", 0.8, q) == []
        ev = step(st, "d2", 0.3, q)  # drop of -0.5
        assert ev == []  # pending until next point
        ev = step(st, "d3", 0.7, q)  # recovery +0.4 > 0.2
        assert len(ev) == 1 and ev[0]["event_type"] == "transient_anomaly"
        assert ev[0]["ndvi_before"] == 0.8 and ev[0]["ndvi_after"] == 0.7

    def test_permanent_drop_no_recovery(self):
        st = SeriesState([], [])
        q = DEFAULT_QUALITY
        step(st, "d1", 0.8, q)
        step(st, "d2", 0.3, q)
        ev = step(st, "d3", 0.35, q)  # recovery 0.05 < 0.2
        assert len(ev) == 1 and ev[0]["event_type"] == "possible_fire_or_harvest"
        assert ev[0]["drop_mag"] == pytest.approx(0.5)

    def test_timeout_flush_is_recent_event(self):
        st = SeriesState([], [])
        q = DEFAULT_QUALITY
        step(st, "d1", 0.8, q)
        step(st, "d2", 0.3, q)
        ev = flush(st)
        assert len(ev) == 1 and ev[0]["event_type"] == "recent_event"
        assert flush(st) == []  # idempotent

    def test_sustained_change(self):
        st = SeriesState([], [])
        q = DEFAULT_QUALITY
        for d, v in [("d1", 0.8), ("d2", 0.2), ("d3", 0.25)]:
            step(st, d, v, q)
        ev = step(st, "d4", 0.1, q)
        kinds = [e["event_kind"] for e in ev]
        assert "sustained_change" in kinds
        sus = next(e for e in ev if e["event_kind"] == "sustained_change")
        assert sus["start_date"] == "d2" and sus["end_date"] == "d4"
        assert sus["ndvi_before"] == 0.8

    def test_null_disables_comparisons(self):
        st = SeriesState([], [])
        q = DEFAULT_QUALITY
        step(st, "d1", 0.8, q)
        assert step(st, "d2", None, q) == []  # no drop vs null
        # null then low: prev is null → still no drop
        assert step(st, "d3", 0.1, q) == []


class TestBatchStreamSessionEquivalence:
    def test_session_summary_matches_session_window(self, spark, replay, batch_events):
        """The batch sessionizer (operators/corpus.py, lag + running sum)
        and the streaming session_window must carve identical sessions on
        the fixture: same (user, start) keys, same event counts, same
        value totals. (Boundary semantics differ only when a gap equals
        the threshold EXACTLY — measure-zero for microsecond event data;
        the replay would surface any drift.) sess_end is excluded: the
        streaming window ends at last_event + gap by definition, the
        batch summary at the last event itself."""
        from bloomy_etl_spark.operators.corpus import session_summary
        from bloomy_etl_spark.streaming.windows import sessionized_user_activity
        from bloomy_etl_spark.streaming.sources import read_events_stream

        stream = read_events_stream(spark, replay, max_files_per_trigger=3)
        got = run_to_memory(
            sessionized_user_activity(stream, gap="6 hours"), "sess_eq", spark
        ).select(
            "user_id",
            F.col("sess_start").alias("session_start"),
            "n_events",
            F.round("total_value", 4).alias("sum_value"),
        )
        want = session_summary(batch_events, gap_s=6 * 3600).select(
            "user_id", "session_start", "n_events", "sum_value"
        )
        cols = ["user_id", "session_start", "n_events", "sum_value"]
        pd.testing.assert_frame_equal(_sorted_pdf(got, cols), _sorted_pdf(want, cols))


class TestDsirIngest:
    """Streaming DSIR scoring against a frozen importance model
    (streaming/ingest.py::streaming_dsir_ingest): the durable score
    store after replaying all micro-batches equals one batch
    dsir_score over the union — exact integers, any arrival order."""

    def test_stream_equals_batch_scoring(self, spark, tmp_path):
        from bloomy_etl_spark.operators.corpus import dsir_score, dsir_weights
        from bloomy_etl_spark.sources.tables import load_table
        from bloomy_etl_spark.streaming.ingest import (
            read_dsir_store,
            streaming_dsir_ingest,
        )
        from bloomy_etl_spark.streaming.sources import (
            read_docs_stream,
            replay_docs_dir,
        )
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        weights = dsir_weights(docs, F.col("lang") == "en")
        replay = replay_docs_dir(
            spark, SF_ORACLE, str(tmp_path / "replay"), n_files=3
        )
        q = streaming_dsir_ingest(
            read_docs_stream(spark, replay),
            weights,
            str(tmp_path / "scores"),
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        got = {
            (r["doc_id"], r["n_grams"], r["score"])
            for r in read_dsir_store(spark, str(tmp_path / "scores")).collect()
        }
        want = {
            (r["doc_id"], r["n_grams"], r["score"])
            for r in dsir_score(docs, weights).collect()
        }
        assert got == want

    def test_replayed_batch_collapses(self, spark, tmp_path):
        from bloomy_etl_spark.operators.corpus import dsir_score, dsir_weights
        from bloomy_etl_spark.sources.tables import load_table
        from bloomy_etl_spark.streaming.ingest import read_dsir_store
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents").filter(
            F.col("doc_id") < 60
        )
        weights = dsir_weights(docs, F.col("lang") == "en")
        scored = dsir_score(docs, weights).withColumn("batch_id", F.lit(0))
        path = str(tmp_path / "scores")
        scored.write.mode("append").parquet(path)
        scored.write.mode("append").parquet(path)  # the at-least-once replay
        out = read_dsir_store(spark, path)
        assert out.count() == 60
        assert out.groupBy("doc_id").count().filter("count > 1").count() == 0

    def test_frozen_weights_score_unseen_buckets(self, spark):
        """A model trained on a tiny slice scores documents whose gram
        buckets the training corpus never populated — via the w0
        fallback, never NULL."""
        from bloomy_etl_spark.operators.corpus import dsir_score, dsir_weights
        from bloomy_etl_spark.sources.tables import load_table
        from tests.conftest import SF_ORACLE

        docs = load_table(spark, SF_ORACLE, "documents")
        tiny = docs.filter(F.col("doc_id") < 3)
        weights = dsir_weights(tiny, F.col("lang") == "en", buckets=4096)
        out = dsir_score(docs, weights)
        assert out.filter(F.col("score").isNull()).count() == 0
        assert out.count() == docs.count()


def _tie_safe_slices(rows, n_slices):
    """Split eus-sorted rows into ~equal replay slices WITHOUT splitting
    a tied-timestamp group across slices (the operator's co-arrival
    contract for peers)."""
    n = len(rows)
    cuts = [0]
    for i in range(1, n_slices):
        b = i * n // n_slices
        while b < n and rows[b][2] == rows[b - 1][2]:
            b += 1
        cuts.append(b)
    cuts.append(n)
    return [rows[a:b] for a, b in zip(cuts, cuts[1:]) if a < b]


class TestTrailingRangeStream:
    """Streaming counterpart of the q114 RANGE frame: per-user trailing-
    hour count + exact quantized sum via applyInPandasWithState."""

    def _events(self):
        rng = np.random.default_rng(114)
        rows = []
        base = 1_700_000_000_000_000  # epoch µs
        for uid in range(6):
            t = base
            for i in range(40):
                # every 5th event TIES the previous timestamp — RANGE
                # CURRENT ROW must include peers, and the stream must
                # reproduce that (the tied rows co-arrive by time-slice
                # construction below)
                if i % 5 == 4:
                    rows.append(
                        (uid * 1000 + i, uid, t, float(rng.uniform(-3, 9)))
                    )
                    continue
                t += int(rng.integers(60, 2400)) * 1_000_000  # 1–40 min gaps
                rows.append(
                    (uid * 1000 + i, uid, t, float(rng.uniform(-3, 9)))
                )
        return rows  # (event_id, user_id, eus, value)

    def test_stream_equals_batch_range_frame(self, spark, tmp_path):
        """Ordered replay through the stateful operator reproduces the
        batch RANGE-frame result bit-for-bit, across micro-batch
        boundaries (state carries the open frames between files)."""
        import os

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from bloomy_etl_spark.streaming.stateful import (
            streaming_trailing_range,
        )

        rows = self._events()
        rows.sort(key=lambda r: r[2])  # global event-time replay order
        src = tmp_path / "ev"
        src.mkdir()
        t0 = 1_000_000_000
        for i, chunk in enumerate(_tie_safe_slices(rows, 4)):
            f = src / f"b{i:05d}.parquet"
            pd.DataFrame(
                chunk, columns=["event_id", "user_id", "eus", "value"]
            ).to_parquet(f, index=False)
            os.utime(f, (t0 + i * 10, t0 + i * 10))

        schema = "event_id long, user_id long, eus long, value double"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
            .withColumn("ts", F.timestamp_micros("eus"))
        )
        out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = (
            streaming_trailing_range(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            tuple(r)
            for r in spark.read.parquet(out_dir)
            .select("event_id", "user_id", "n_1h", "sum_v_e4")
            .collect()
        }

        batch = spark.createDataFrame(rows, schema)
        w = (
            Window.partitionBy("user_id").orderBy(F.col("eus").asc())
            .rangeBetween(-3_600_000_000, 0)
        )
        want = {
            tuple(r)
            for r in batch.select(
                "event_id", "user_id",
                F.count(F.lit(1)).over(w).alias("n_1h"),
                F.sum(F.floor(F.col("value") * 10000).cast("long"))
                .over(w).alias("sum_v_e4"),
            ).collect()
        }
        assert got == want
        assert len(got) == len(rows)

    def test_trail_step_evicts_and_bounds_state(self):
        """The per-key transition both stateful APIs run, one
        single-row batch at a time: frame contents follow event time
        exactly and the buffer never retains anything outside the
        span."""
        import pandas as pd

        from bloomy_etl_spark.streaming.stateful import _make_trail_frames

        frames = _make_trail_frames(100)
        eus, v = [], []

        def step(t, val):
            batch = pd.DataFrame({"event_id": [t], "eus": [t], "v_e4": [val]})
            out = frames(eus, v, batch)
            return out["n_1h"][0], out["sum_v_e4"][0]

        assert step(0, 10) == (1, 10)
        assert step(50, 5) == (2, 15)
        # 101: row at 0 leaves the [1, 101] frame
        assert step(101, 1) == (2, 6)
        assert eus == [50, 101]
        # a large jump clears everything but the new row
        assert step(10_000, 7) == (1, 7)
        assert eus == [10_000] and v == [7]


def _has_protobuf() -> bool:
    """transformWithStateInPandas speaks protobuf to its driver worker;
    without google.protobuf the query can never start (environmental,
    like the rasterio-gated warp parity tests)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class TestTrailingRangeTws:
    """The same trailing-range semantics on the Spark 4.x
    transformWithStateInPandas API — both stateful APIs must reproduce
    the batch RANGE frame exactly."""

    @pytest.mark.skipif(
        not _has_protobuf(),
        reason="transformWithStateInPandas requires google.protobuf "
               "(absent in this container)",
    )
    def test_tws_equals_batch_and_legacy_api(self, spark, tmp_path):
        import os

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from bloomy_etl_spark.streaming.stateful import (
            streaming_trailing_range_tws,
        )

        rows = TestTrailingRangeStream._events(TestTrailingRangeStream())
        rows.sort(key=lambda r: r[2])
        src = tmp_path / "ev"
        src.mkdir()
        t0 = 1_000_000_000
        for i, chunk in enumerate(_tie_safe_slices(rows, 3)):
            f = src / f"b{i:05d}.parquet"
            pd.DataFrame(
                chunk, columns=["event_id", "user_id", "eus", "value"]
            ).to_parquet(f, index=False)
            os.utime(f, (t0 + i * 10, t0 + i * 10))

        schema = "event_id long, user_id long, eus long, value double"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
            .withColumn("ts", F.timestamp_micros("eus"))
        )
        conf = "spark.sql.streaming.stateStore.providerClass"
        prev = spark.conf.get(conf, None)
        spark.conf.set(
            conf,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        try:
            q = (
                streaming_trailing_range_tws(stream)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            q.processAllAvailable()
            q.stop()
        finally:
            if prev is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prev)
        got = {
            tuple(r)
            for r in spark.read.parquet(out_dir)
            .select("event_id", "user_id", "n_1h", "sum_v_e4")
            .collect()
        }
        batch = spark.createDataFrame(rows, schema)
        w = (
            Window.partitionBy("user_id").orderBy(F.col("eus").asc())
            .rangeBetween(-3_600_000_000, 0)
        )
        want = {
            tuple(r)
            for r in batch.select(
                "event_id", "user_id",
                F.count(F.lit(1)).over(w).alias("n_1h"),
                F.sum(F.floor(F.col("value") * 10000).cast("long"))
                .over(w).alias("sum_v_e4"),
            ).collect()
        }
        assert got == want
        assert len(got) == len(rows)

    def test_tws_processor_runs_shared_closure_with_peer_semantics(self):
        """Both stateful APIs run the SAME _make_trail_frames closure;
        this drives the TWS processor (with a fake state, no
        Spark/protobuf needed) over a batch INCLUDING tied timestamps
        and multiple Arrow chunks, against a brute-force RANGE-peer
        reference: a frame at t contains every point with eus in
        [t−span, t] — peers included, like SQL's RANGE … CURRENT ROW."""
        from bloomy_etl_spark.streaming.stateful import (
            TRAIL_STATE_SCHEMA,
            _twscls,
        )

        proc = _twscls()(100, TRAIL_STATE_SCHEMA)

        class FakeState:
            def __init__(self):
                self._v = None

            def exists(self):
                return self._v is not None

            def get(self):
                return self._v

            def update(self, v):
                self._v = v

        proc._buf = FakeState()
        pts = [(1, 0, 10), (2, 50, 5), (3, 50, 4), (4, 101, 1),
               (5, 101, 2), (6, 10_000, 7), (7, 10_050, 3)]
        # two chunks (a key above arrow.maxRecordsPerBatch arrives
        # split) — the processor must concat before sorting
        chunks = [
            pd.DataFrame(
                {"event_id": [p[0] for p in grp],
                 "eus": [p[1] for p in grp],
                 "v_e4": [p[2] for p in grp]}
            )
            for grp in (pts[4:], pts[:4])  # shuffle-order chunks
        ]
        out = pd.concat(
            list(proc.handleInputRows((42,), iter(chunks), None))
        ).sort_values("event_id")
        want = []
        for eid, t, _ in pts:
            frame = [(tt, vv) for _, tt, vv in pts if t - 100 <= tt <= t]
            want.append((len(frame), sum(vv for _, vv in frame)))
        assert list(zip(out["n_1h"], out["sum_v_e4"])) == want
        assert all(out["user_id"] == 42)
        # state retains only the last frame's in-span rows
        eus_buf, v_buf = proc._buf.get()
        assert eus_buf == [10_000, 10_050] and v_buf == [7, 3]


class TestEwmaIngest:
    """Incremental EWMA (streaming/ingest.py::streaming_ewma_ingest):
    the integer recurrence composes exactly across batches, so under
    ordered arrival the streaming state is BIT-IDENTICAL to the batch
    operator over the union — pinned here, plus replay collapse."""

    def _stream_events(self, spark, tmp_path, n_files=3):
        from bloomy_etl_spark.streaming.ingest import (
            read_ewma_state,
            streaming_ewma_ingest,
        )
        from bloomy_etl_spark.streaming.sources import replay_dir_ordered

        replay = replay_dir_ordered(
            spark, SF_SMOKE, str(tmp_path / "replay"), n_files=n_files
        )
        schema = spark.read.parquet(replay).schema
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )
        stream = raw.select(
            "user_id",
            F.unix_micros("ts").alias("eus"),
            "event_id",
            F.floor(F.col("value") * 10000).cast("long").alias("v"),
        )
        q = streaming_ewma_ingest(
            stream, str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        return read_ewma_state(spark, str(tmp_path / "state"))

    def test_stream_equals_batch_bit_identical(self, spark, tmp_path):
        from bloomy_etl_spark.operators.timeseries import ewma_last
        from bloomy_etl_spark.sources.tables import load_table

        got = {
            tuple(r)
            for r in self._stream_events(spark, tmp_path).collect()
        }
        ev = load_table(spark, SF_SMOKE, "events").select(
            "user_id",
            F.unix_micros("ts").alias("eus"),
            "event_id",
            F.floor(F.col("value") * 10000).cast("long").alias("v"),
        )
        want = {tuple(r) for r in ewma_last(ev, alpha_den=4).collect()}
        assert got == want

    def test_replayed_delta_collapses(self, spark, tmp_path):
        from bloomy_etl_spark.streaming.ingest import read_ewma_state

        before = {
            tuple(r)
            for r in self._stream_events(spark, tmp_path).collect()
        }
        state_dir = str(tmp_path / "state")
        st = spark.read.parquet(state_dir)
        last = st.agg(F.max("batch_id")).collect()[0][0]
        st.filter(F.col("batch_id") == last).write.mode("append").parquet(
            state_dir
        )  # the at-least-once replay
        after = {
            tuple(r)
            for r in read_ewma_state(spark, state_dir).collect()
        }
        assert after == before


class TestCusumIngest:
    """Incremental CUSUM (streaming/ingest.py::streaming_cusum_ingest):
    the packed (alerts, residual) recurrence composes exactly across
    batches, so under ordered arrival the streaming state is
    BIT-IDENTICAL to the batch operator over the union — pinned here,
    plus replay collapse and a cross-batch alert case."""

    def _ingest(self, spark, tmp_path, n_files=3):
        from bloomy_etl_spark.streaming.ingest import (
            read_cusum_state,
            streaming_cusum_ingest,
        )
        from bloomy_etl_spark.streaming.sources import replay_dir_ordered

        replay = replay_dir_ordered(
            spark, SF_SMOKE, str(tmp_path / "replay"), n_files=n_files
        )
        schema = spark.read.parquet(replay).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
            .select(
                "user_id",
                F.unix_micros("ts").alias("eus"),
                "event_id",
                F.floor(F.col("value") * 10000).cast("long").alias("v"),
            )
        )
        q = streaming_cusum_ingest(
            stream, str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        return read_cusum_state(spark, str(tmp_path / "state"))

    def test_stream_equals_batch_bit_identical(self, spark, tmp_path):
        from bloomy_etl_spark.operators.timeseries import cusum_alerts
        from bloomy_etl_spark.sources.tables import load_table

        got = {tuple(r) for r in self._ingest(spark, tmp_path).collect()}
        ev = load_table(spark, SF_SMOKE, "events").select(
            "user_id",
            F.unix_micros("ts").alias("eus"),
            "event_id",
            F.floor(F.col("value") * 10000).cast("long").alias("v"),
        )
        want = {
            tuple(r)
            for r in cusum_alerts(
                ev, drift=700_000, threshold=3_000_000
            ).collect()
        }
        assert got == want

    def test_alert_spanning_a_batch_boundary(self, spark, tmp_path):
        """The accumulator must CARRY across batches: two sub-threshold
        contributions in different micro-batches fire one alert that
        neither batch alone would."""
        from bloomy_etl_spark.streaming.ingest import (
            read_cusum_state,
            streaming_cusum_ingest,
        )

        import glob
        import os

        b0 = [(1, 10, 1, 18)]          # s = 18-10 = 8   (< 12)
        b1 = [(1, 20, 2, 15)]          # s = 8+15-10 = 13 >= 12 -> alert
        replay = tmp_path / "replay"
        for i, rows in enumerate([b0, b1]):
            spark.createDataFrame(
                rows, "user_id long, eus long, event_id long, v long"
            ).coalesce(1).write.parquet(str(replay / f"b{i}"))
        # pin arrival order: the file source orders by mtime and the two
        # writes can tie (the replay_dir_ordered lesson)
        for i, p in enumerate(
            sorted(glob.glob(str(replay / "b*" / "part-*")))
        ):
            os.utime(p, (1_000_000 + 10 * i, 1_000_000 + 10 * i))
        stream = (
            spark.readStream
            .schema("user_id long, eus long, event_id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay / "b*"))
        )
        q = streaming_cusum_ingest(
            stream, str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            drift=10, threshold=12,
        )
        q.awaitTermination(120)
        got = read_cusum_state(spark, str(tmp_path / "state")).collect()
        assert [tuple(r) for r in got] == [(1, 2, 1, 0)]

    def test_replayed_delta_collapses(self, spark, tmp_path):
        from bloomy_etl_spark.streaming.ingest import read_cusum_state

        before = {tuple(r) for r in self._ingest(spark, tmp_path).collect()}
        state_dir = str(tmp_path / "state")
        st = spark.read.parquet(state_dir)
        last = st.agg(F.max("batch_id")).collect()[0][0]
        st.filter(F.col("batch_id") == last).write.mode("append").parquet(
            state_dir
        )
        after = {
            tuple(r) for r in read_cusum_state(spark, state_dir).collect()
        }
        assert after == before


class TestScd2Ingest:
    """Live SCD2 maintenance (streaming/ingest.py::
    streaming_scd2_ingest): per-batch self-compaction + open-run merge
    must equal the batch compaction of the full log bit-for-bit under
    ordered arrival — including the run that SPANS a batch boundary,
    which independent per-batch compaction would split in two."""

    def _ingest(self, spark, tmp_path, n_files=3):
        from bloomy_etl_spark.streaming.ingest import (
            read_scd2_state,
            streaming_scd2_ingest,
        )
        from bloomy_etl_spark.streaming.sources import replay_dir_ordered

        replay = replay_dir_ordered(
            spark, SF_SMOKE, str(tmp_path / "replay"), n_files=n_files
        )
        schema = spark.read.parquet(replay).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
            .select(
                "user_id",
                F.unix_micros("ts").alias("eus"),
                "event_id",
                F.col("event_type").alias("state"),
            )
        )
        q = streaming_scd2_ingest(
            stream, str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        return read_scd2_state(spark, str(tmp_path / "state"))

    def test_stream_equals_batch_bit_identical(self, spark, tmp_path):
        from bloomy_etl_spark.operators.history import scd2_compact
        from bloomy_etl_spark.sources.tables import load_table

        got = {tuple(r) for r in self._ingest(spark, tmp_path).collect()}
        ev = load_table(spark, SF_SMOKE, "events").select(
            "user_id",
            F.unix_micros("ts").alias("eus"),
            "event_id",
            F.col("event_type").alias("state"),
        )
        want = {tuple(r) for r in scd2_compact(ev).collect()}
        assert got == want

    def test_run_spanning_batch_boundary_merges(self, spark, tmp_path):
        import glob
        import os

        from bloomy_etl_spark.streaming.ingest import (
            read_scd2_state,
            streaming_scd2_ingest,
        )

        # batch 0 ends in state 'a'; batch 1 continues 'a' then flips:
        # the boundary run must come back as ONE interval (v2, 3 rows)
        b0 = [(1, 10, 1, "b"), (1, 20, 2, "a")]
        b1 = [(1, 30, 3, "a"), (1, 40, 4, "a"), (1, 50, 5, "c")]
        replay = tmp_path / "replay"
        for i, rows in enumerate([b0, b1]):
            spark.createDataFrame(
                rows, "user_id long, eus long, event_id long, state string"
            ).coalesce(1).write.parquet(str(replay / f"b{i}"))
        for i, p in enumerate(
            sorted(glob.glob(str(replay / "b*" / "part-*")))
        ):
            os.utime(p, (1_000_000 + 10 * i, 1_000_000 + 10 * i))
        stream = (
            spark.readStream
            .schema("user_id long, eus long, event_id long, state string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay / "b*"))
        )
        q = streaming_scd2_ingest(
            stream, str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        got = sorted(
            tuple(r)
            for r in read_scd2_state(
                spark, str(tmp_path / "state")
            ).collect()
        )
        assert got == [
            (1, 1, "b", 10, 20, 1),
            (1, 2, "a", 20, 50, 3),
            (1, 3, "c", 50, None, 1),
        ]

    def test_replayed_delta_collapses(self, spark, tmp_path):
        from bloomy_etl_spark.streaming.ingest import read_scd2_state

        before = {tuple(r) for r in self._ingest(spark, tmp_path).collect()}
        state_dir = str(tmp_path / "state")
        st = spark.read.parquet(state_dir)
        last = st.agg(F.max("batch_id")).collect()[0][0]
        st.filter(F.col("batch_id") == last).write.mode("append").parquet(
            state_dir
        )
        after = {
            tuple(r) for r in read_scd2_state(spark, state_dir).collect()
        }
        assert after == before


class TestDuelIngest:
    """Live leaderboard (streaming/ingest.py::streaming_duel_ingest):
    directional counts are additive, so the read-side Bradley-Terry
    re-fit must be bit-identical to the batch fit regardless of how
    duels were sliced into batches."""

    def _duels(self):
        return ([("A", "B")] * 5 + [("B", "A")] * 2 + [("B", "C")] * 4
                + [("C", "A")] * 3 + [("A", "C")] * 6)

    def _ingest(self, spark, tmp_path, slices):
        from bloomy_etl_spark.streaming.ingest import (
            read_duel_counts,
            streaming_duel_ingest,
        )

        replay = tmp_path / "replay"
        for i, rows in enumerate(slices):
            spark.createDataFrame(
                rows, "winner string, loser string"
            ).coalesce(1).write.parquet(str(replay / f"b{i}"))
        stream = (
            spark.readStream.schema("winner string, loser string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay / "b*"))
        )
        q = streaming_duel_ingest(
            stream, str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        return read_duel_counts(spark, str(tmp_path / "state"))

    def test_streamed_fit_equals_batch_fit(self, spark, tmp_path):
        from bloomy_etl_spark.operators.preference import (
            bradley_terry,
            bradley_terry_from_counts,
        )

        duels = self._duels()
        # adversarial slicing: duplicates split across batches
        slices = [duels[0::3], duels[1::3], duels[2::3]]
        counts = self._ingest(spark, tmp_path, slices)
        got = {
            tuple(r)
            for r in bradley_terry_from_counts(counts, rounds=3).collect()
        }
        want = {
            tuple(r)
            for r in bradley_terry(
                spark.createDataFrame(
                    duels, "winner string, loser string"
                ),
                rounds=3,
            ).collect()
        }
        assert got == want

    def test_replayed_delta_collapses(self, spark, tmp_path):
        from bloomy_etl_spark.streaming.ingest import read_duel_counts

        duels = self._duels()
        counts = self._ingest(
            spark, tmp_path, [duels[:7], duels[7:]]
        )
        before = {tuple(r) for r in counts.collect()}
        state_dir = str(tmp_path / "state")
        st = spark.read.parquet(state_dir)
        last = st.agg(F.max("batch_id")).collect()[0][0]
        st.filter(F.col("batch_id") == last).write.mode("append").parquet(
            state_dir
        )
        after = {
            tuple(r) for r in read_duel_counts(spark, state_dir).collect()
        }
        assert after == before


class TestZonemapIngest:
    """Incremental layout (streaming/ingest.py::
    streaming_zonemap_ingest): per-batch Z-layouts with a durable
    zone-map index. The load-bearing property is SOUNDNESS — a file
    skipped by the zone-map test contains no matching row — plus the
    compaction trigger that fires when batches scatter a z-range."""

    def _ingest(self, spark, tmp_path, slices):
        from bloomy_etl_spark.streaming.ingest import (
            read_zonemap_state,
            streaming_zonemap_ingest,
        )

        replay = tmp_path / "replay"
        for i, rows in enumerate(slices):
            spark.createDataFrame(
                rows, "event_id long, xb long, yb long"
            ).coalesce(1).write.parquet(str(replay / f"b{i}"))
        stream = (
            spark.readStream.schema("event_id long, xb long, yb long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay / "b*"))
        )
        q = streaming_zonemap_ingest(
            stream, str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            rows_per_file=64,
        )
        q.awaitTermination(120)
        return read_zonemap_state(spark, str(tmp_path / "state"))

    def test_pruning_is_sound_across_batches(self, spark, tmp_path):
        """Every row matching the rectangle lives in a file whose zone
        map overlaps it — scanning only flagged (batch, file) pairs
        loses nothing, no matter how the batches interleaved."""
        from bloomy_etl_spark.operators.zorder import zorder_files

        rows = [(i, (i * 37) % 64, (i * 101) % 64) for i in range(600)]
        slices = [rows[0::2], rows[1::2]]
        zm = self._ingest(spark, tmp_path, slices).collect()
        lo, hi = 8, 23
        scanned = {
            (r["batch_id"], r["file_id"])
            for r in zm
            if r["x_min"] <= hi and r["x_max"] >= lo
            and r["y_min"] <= hi and r["y_max"] >= lo
        }
        assert 0 < len(scanned) < len(zm)
        # recompute each batch's layout to learn row -> file placement
        for b, rows_b in enumerate(slices):
            df = spark.createDataFrame(
                rows_b, "event_id long, xb long, yb long"
            )
            placed = zorder_files(
                df, "xb", "yb", "event_id", rows_per_file=64
            ).collect()
            for r in placed:
                if lo <= r["xb"] <= hi and lo <= r["yb"] <= hi:
                    assert (b, r["file_id"]) in scanned, r

    def test_compaction_trigger_fires_on_scattered_ranges(
        self, spark, tmp_path
    ):
        """Two batches covering the SAME z-space must scatter ranges
        across ≥ 2 files; a single batch must not trigger."""
        from bloomy_etl_spark.streaming.ingest import compaction_candidates

        rows = [(i, i % 16, (i // 16) % 16) for i in range(512)]
        zm = self._ingest(spark, tmp_path, [rows[0::2], rows[1::2]])
        both = {
            r["z_range"]: r["n_files"]
            for r in compaction_candidates(zm, min_files=2).collect()
        }
        assert both, "interleaved batches must scatter some z-range"
        one = {
            r["z_range"]: r["n_files"]
            for r in compaction_candidates(
                zm.filter(F.col("batch_id") == 0), min_files=1
            ).collect()
        }
        # every batch re-covers the same z-space, so the full store
        # counts strictly more files per scattered range than batch 0
        # alone — the growth that IS the OPTIMIZE signal
        for zr, n in both.items():
            assert n > one.get(zr, 0), (zr, n, one.get(zr))

    def test_replayed_delta_collapses(self, spark, tmp_path):
        from bloomy_etl_spark.streaming.ingest import read_zonemap_state

        rows = [(i, (i * 7) % 32, (i * 11) % 32) for i in range(300)]
        before = {
            tuple(r)
            for r in self._ingest(
                spark, tmp_path, [rows[:150], rows[150:]]
            ).collect()
        }
        state_dir = str(tmp_path / "state")
        st = spark.read.parquet(state_dir)
        last = st.agg(F.max("batch_id")).collect()[0][0]
        st.filter(F.col("batch_id") == last).write.mode("append").parquet(
            state_dir
        )
        after = {
            tuple(r)
            for r in read_zonemap_state(spark, state_dir).collect()
        }
        assert after == before


class TestAttributionIngest:
    """Streaming fact enrichment (streaming/ingest.py::
    streaming_attribution_ingest): the touch that credits a purchase
    can live in an EARLIER batch — the durable last-touch state must
    carry it across the seam, and emitted facts must equal the batch
    attribution exactly."""

    def test_touch_in_prior_batch_credits_purchase(self, spark, tmp_path):
        import glob
        import os

        from bloomy_etl_spark.streaming.ingest import (
            read_attributed_facts,
            streaming_attribution_ingest,
        )

        day = 86_400_000_000
        b0 = [(1, 0, 1, "click"), (2, 1 * day, 2, "view")]
        b1 = [(1, 2 * day, 3, "purchase"),      # credits b0's click
              (2, 10 * day, 4, "purchase")]     # view too old -> direct
        replay = tmp_path / "replay"
        for i, rows in enumerate([b0, b1]):
            spark.createDataFrame(
                rows,
                "user_id long, eus long, event_id long, event_type string",
            ).coalesce(1).write.parquet(str(replay / f"b{i}"))
        for i, p in enumerate(
            sorted(glob.glob(str(replay / "b*" / "part-*")))
        ):
            os.utime(p, (1_000_000 + 10 * i, 1_000_000 + 10 * i))
        stream = (
            spark.readStream
            .schema("user_id long, eus long, event_id long, "
                    "event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay / "b*"))
        )
        q = streaming_attribution_ingest(
            stream,
            str(tmp_path / "facts"),
            str(tmp_path / "state"),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        got = {
            r["purchase_id"]: (r["channel"], r["lag_us"])
            for r in read_attributed_facts(
                spark, str(tmp_path / "facts")
            ).collect()
        }
        assert got == {3: ("click", 2 * day), 4: ("direct", None)}


class TestCcIngest:
    """Incremental connected components (streaming/ingest.py::
    streaming_cc_ingest): the final snapshot equals one-shot batch CC
    over all edges, components MERGE across batches (the case star
    compression must get right), arrival order doesn't matter
    (confluence), and a replayed batch is idempotent."""

    # batch 1 and 2 build two separate components; batch 3 bridges
    # them — the final answer must relabel 10..12 down to 1.
    B1 = [(1, 2), (2, 3)]
    B2 = [(10, 11), (11, 12)]
    B3 = [(3, 10), (20, 21)]

    def _run(self, spark, tmp_path, batches, tag):
        root = tmp_path / tag
        replay = root / "replay"
        replay.mkdir(parents=True)
        for bi, edges in enumerate(batches):
            spark.createDataFrame(edges, "i long, j long") \
                .coalesce(1).write.parquet(str(replay / f"b{bi}"))
        stream = (
            spark.readStream.schema("i long, j long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(replay / "b*"))
        )
        from bloomy_etl_spark.streaming.ingest import streaming_cc_ingest

        q = streaming_cc_ingest(
            stream, str(root / "state"), str(root / "ckpt")
        )
        q.processAllAvailable()
        q.stop()
        return str(root / "state")

    def _labels(self, spark, state_dir):
        from bloomy_etl_spark.streaming.ingest import read_cc_state

        return {r["node"]: r["label"]
                for r in read_cc_state(spark, state_dir).collect()}

    def test_stream_equals_batch_cc_with_cross_batch_merge(
            self, spark, tmp_path):
        from bloomy_etl_spark.operators.dedup import connected_components

        state = self._run(spark, tmp_path, [self.B1, self.B2, self.B3],
                          "fwd")
        got = self._labels(spark, state)
        want = {
            r["node"]: r["label"]
            for r in connected_components(
                spark.createDataFrame(self.B1 + self.B2 + self.B3,
                                      "i long, j long"),
                converge=True).collect()
        }
        assert got == want
        assert {got[n] for n in (1, 2, 3, 10, 11, 12)} == {1}
        assert got[20] == got[21] == 20

    def test_arrival_order_is_irrelevant(self, spark, tmp_path):
        a = self._labels(spark, self._run(
            spark, tmp_path, [self.B1, self.B2, self.B3], "o1"))
        b = self._labels(spark, self._run(
            spark, tmp_path, [self.B3, self.B1, self.B2], "o2"))
        assert a == b

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """Simulated at-least-once retry: re-running a batch against
        the prior snapshot rewrites identical state."""
        import os

        from bloomy_etl_spark.streaming.ingest import read_cc_state

        state = self._run(spark, tmp_path, [self.B1, self.B2, self.B3],
                          "rp")
        before = self._labels(spark, state)
        # replay batch 2 by hand: same inputs, same snapshot dir
        from bloomy_etl_spark.operators.dedup import connected_components
        from pyspark.sql import functions as F

        prior = spark.read.parquet(os.path.join(state, "b1"))
        star = prior.select(F.col("node").alias("i"),
                            F.col("label").alias("j")) \
            .filter(F.col("i") != F.col("j"))
        edges = spark.createDataFrame(self.B3, "i long, j long") \
            .unionByName(star)
        connected_components(edges, converge=True).write.mode(
            "overwrite").parquet(os.path.join(state, "b2"))
        assert self._labels(spark, state) == before


def _write_slices(spark, replay, slices, ddl):
    """Each row list as one single-file slice ``replay/b{i}``, in
    arrival order; returns the glob the stream reads."""
    from bloomy_etl_spark.streaming.sources import _order_mtimes

    for i, rows in enumerate(slices):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            str(replay / f"b{i}")
        )
    _order_mtimes(str(replay))
    return str(replay / "b*")


class TestRestartReplaysLastBatch:
    """At-least-once delivery through the ingest itself: an ingest whose
    last commit is lost re-runs that batch under the same batch_id when
    restarted on its checkpoint. The re-run must read prior state from
    the OTHER batches only (its own first append is already in the
    store), append rows identical to the first run's, and leave the
    reader's state unchanged."""

    def _restart(self, spark, tmp_path, ingest, slices, ddl, read):
        from bloomy_etl_spark.streaming.sources import read_docs_stream

        replay = _write_slices(spark, tmp_path / "replay", slices, ddl)
        state, ckpt = str(tmp_path / "state"), tmp_path / "ckpt"

        def run():
            ingest(read_docs_stream(spark, replay), state,
                   checkpoint_dir=str(ckpt)).awaitTermination(120)

        run()
        first = {tuple(r) for r in read(spark, state).collect()}
        last = len(slices) - 1

        def stored():
            return sorted((tuple(r) for r in spark.read.parquet(state)
                           .filter(F.col("batch_id") == last).collect()),
                          key=repr)

        appended = stored()
        os.remove(ckpt / "commits" / str(last))
        if (ckpt / "commits" / f".{last}.crc").exists():
            os.remove(ckpt / "commits" / f".{last}.crc")
        run()
        # the batch really ran again, and appended the same rows
        assert stored() == sorted(appended * 2, key=repr)
        assert {tuple(r) for r in read(spark, state).collect()} == first
        return first

    def test_ewma(self, spark, tmp_path):
        from bloomy_etl_spark.streaming.ingest import (
            read_ewma_state,
            streaming_ewma_ingest,
        )

        slices = [
            [(1, 10, 1, 400), (2, 11, 2, 80)],
            [(1, 20, 3, 0), (2, 21, 4, 800)],
            [(1, 30, 5, 1200), (2, 31, 6, 40), (3, 32, 7, 8)],
        ]
        got = self._restart(
            spark, tmp_path, streaming_ewma_ingest, slices,
            "user_id long, eus long, event_id long, v long",
            read_ewma_state,
        )
        # s ← (3·s + v) div 4, seeded by the first value
        assert got == {(1, 3, 1200, 525), (2, 3, 40, 205), (3, 1, 8, 8)}

    def test_scd2(self, spark, tmp_path):
        from bloomy_etl_spark.streaming.ingest import (
            read_scd2_state,
            streaming_scd2_ingest,
        )

        slices = [
            [(1, 10, 1, "a"), (2, 10, 2, "x")],
            [(1, 20, 3, "a"), (1, 30, 4, "b")],
            [(1, 40, 5, "b"), (1, 50, 6, "c"), (2, 60, 7, "y")],
        ]
        got = self._restart(
            spark, tmp_path, streaming_scd2_ingest, slices,
            "user_id long, eus long, event_id long, state string",
            read_scd2_state,
        )
        assert got == {
            (1, 1, "a", 10, 30, 2),
            (1, 2, "b", 30, 50, 2),
            (1, 3, "c", 50, None, 1),
            (2, 1, "x", 10, 60, 1),
            (2, 2, "y", 60, None, 1),
        }


class TestReadOrEmpty:
    """The "no state yet" decision of the ingests' prior-state read is
    made from the filesystem; a store that exists but is unreadable
    still fails."""

    DDL = "user_id long, lt long, batch_id long"

    def _read(self, spark, path):
        from bloomy_etl_spark.streaming.ingest import _read_or_empty

        return _read_or_empty(spark, str(path), self.DDL)

    def test_missing_store_is_empty(self, spark, tmp_path):
        df = self._read(spark, tmp_path / "state")
        assert df.schema.simpleString() == (
            "struct<user_id:bigint,lt:bigint,batch_id:bigint>")
        assert df.count() == 0

    def test_store_without_part_files_is_empty(self, spark, tmp_path):
        # what a crash before the first commit leaves behind
        (tmp_path / "state" / "_temporary" / "0").mkdir(parents=True)
        df = self._read(spark, tmp_path / "state")
        assert df.schema.simpleString() == (
            "struct<user_id:bigint,lt:bigint,batch_id:bigint>")
        assert df.count() == 0

    def test_corrupt_store_fails(self, spark, tmp_path):
        (tmp_path / "state").mkdir()
        (tmp_path / "state" / "part-0.parquet").write_bytes(b"not parquet")
        with pytest.raises(Exception, match="(?i)parquet"):
            self._read(spark, tmp_path / "state").collect()


# Each micro-batch idiom has one home (module, top-level definition):
# the delivery policy, the arrival-order pinning and the replay readers.
_STREAM_HOMES = {
    r"\.foreachBatch\(": {("streaming/ingest.py", "_run_batches")},
    r"\bos\.utime\(": {("streaming/sources.py", "_order_mtimes")},
    r"\.readStream\b": {("streaming/sources.py", "read_docs_stream"),
                        ("streaming/sources.py", "read_events_stream")},
}


def _stream_idiom_copies(path, rel: str) -> list[str]:
    import ast
    import re

    src = path.read_text()
    owner: dict[int, str] = {}
    for node in ast.parse(src).body:
        for n in range(node.lineno, node.end_lineno + 1):
            owner[n] = getattr(node, "name", None)
    return [f"{rel}:{n}: {m.group(0)}"
            for n, line in enumerate(src.splitlines(), 1)
            for pat, homes in _STREAM_HOMES.items()
            for m in re.finditer(pat, line)
            if (rel, owner.get(n)) not in homes]


def test_stream_guard_flags_a_copy(tmp_path):
    p = tmp_path / "sources.py"
    p.write_text(
        "def read_docs_stream(spark, p):\n"
        "    return spark.readStream.parquet(p)\n"
        "def mine(spark, q, p, fn):\n"
        "    os.utime(p, (0, 0))\n"
        "    q.writeStream.foreachBatch(fn)\n"
        "    return spark.readStream.parquet(p)\n"
    )
    assert _stream_idiom_copies(p, "streaming/sources.py") == [
        "streaming/sources.py:4: os.utime(",
        "streaming/sources.py:5: .foreachBatch(",
        "streaming/sources.py:6: .readStream",
    ]


def test_micro_batch_idioms_live_only_in_their_homes():
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "bloomy_etl_spark"
    found = [hit for p in sorted(pkg.rglob("*.py"))
             for hit in _stream_idiom_copies(
                 p, p.relative_to(pkg).as_posix())]
    assert not found, (
        "deliver micro-batches through streaming.ingest._run_batches, "
        "pin arrival order through streaming.sources._order_mtimes and "
        f"read replays through streaming.sources.read_docs_stream: {found}"
    )
