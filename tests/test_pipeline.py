"""End-to-end pipeline composition tests (reference core/pipeline.py parity).

The per-stage operators are oracle-checked elsewhere (q21-q25, q38); these
tests cover the orchestrator itself: flag semantics, stage wiring, sinks.
"""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.operators.bloomy_queries import synthetic_pixels
from bloomy_etl_spark.pipeline import run_pipeline, write_outputs
from tests.conftest import SF_SMOKE


def test_pipeline_stages_consistent(spark):
    res = run_pipeline(synthetic_pixels(spark, SF_SMOKE))
    n_stats = res.stats.count()
    n_kept = res.kept_stats.count()
    assert 0 < n_kept <= n_stats
    # the cube only contains days whose granules survived
    kept_days = {
        r["d"]
        for r in res.kept_stats.select(F.to_date("time").alias("d")).distinct().collect()
    }
    cube_days = {
        r["d"] for r in res.cube.select(F.to_date("time").alias("d")).distinct().collect()
    }
    assert cube_days <= kept_days


def test_pipeline_disable_quality_filter_keeps_more(spark):
    """The reference's --disable-quality-filter flag: gates still apply,
    timestamp filter does not (pipeline.py:155-161)."""
    px = synthetic_pixels(spark, SF_SMOKE)
    filtered = run_pipeline(px).kept_stats.count()
    unfiltered = run_pipeline(px, disable_quality_filter=True).kept_stats.count()
    assert unfiltered >= filtered


def test_pipeline_detect_flag(spark):
    px = synthetic_pixels(spark, SF_SMOKE)
    res = run_pipeline(px, detect=True)
    # events frame is well-formed (may legitimately be empty on smoke data)
    assert "event_kind" in res.events.columns
    assert res.events.count() >= 0


def test_write_outputs(spark, tmp_path):
    out = str(tmp_path / "pipe")
    res = run_pipeline(synthetic_pixels(spark, SF_SMOKE))
    paths = write_outputs(res, out)
    # cube: date-partitioned parquet, re-readable
    cube = spark.read.parquet(paths["cube"])
    assert cube.count() == res.cube.count()
    assert "date" in cube.columns  # partition column
    # index JSON exists and carries per-date entries
    with open(paths["index"]) as f:
        idx = json.load(f)
    assert idx["dates"] and idx["width"] > 0
    # events sink directory exists (may hold only _SUCCESS when no events)
    assert os.path.isdir(paths["events"])


def _records_read(spark, group: str) -> int:
    """Input records of every stage that ran under ``group``, read back
    from the JVM status store (source scans and checkpoint-block reads)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    seen: set[int] = set()
    n = 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        it = store.job(jid).stageIds().iterator()
        while it.hasNext():
            sid = it.next()
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() not in ("SKIPPED", "PENDING"):
                n += st.inputRecords()
    return n


def test_write_outputs_reads_pixels_once_per_stage(spark, tmp_path):
    """The cube is materialized once per run: the three sinks read it
    instead of each re-running scan → masks → stats → semi-join → merge
    (unpinned, one run + write_outputs read 5× the pixel table)."""
    src = str(tmp_path / "pixels")
    synthetic_pixels(spark, SF_SMOKE).write.parquet(src)
    n_px = spark.read.parquet(src).count()
    sc = spark.sparkContext
    group = "test-write-outputs-scans"
    sc.setJobGroup(group, "run_pipeline + write_outputs")
    try:
        res = run_pipeline(spark.read.parquet(src))
        paths = write_outputs(res, str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < _records_read(spark, group) <= 3 * n_px
    # the sinks come from one execution, so they agree exactly
    with open(paths["index"]) as f:
        idx = json.load(f)
    assert sum(d["n_pixels"] for d in idx["dates"]) == spark.read.parquet(
        paths["cube"]).count()


def test_naive_timestamps_fail_at_the_boundary(spark):
    px = spark.createDataFrame(
        [("T0", datetime.datetime(2024, 6, 1, 10), 0, 0, 500.0, 3000.0, 400.0, 0)],
        "tile_id string, time timestamp_ntz, y int, x int, "
        "red double, nir double, blue double, fmask int",
    )
    with pytest.raises(TypeError, match=r"'time'.*timestamp_ntz.*TIMESTAMP"):
        run_pipeline(px)
