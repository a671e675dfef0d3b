"""Key-skew diagnostics (tools/skew.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.tools.skew import key_skew_report


def test_hot_key_detected_and_salt_sized(spark):
    # key 0 holds half the rows; the rest spread over 1000 keys
    df = spark.range(100_000).select(
        F.when(F.col("id") < 50_000, 0)
        .otherwise(F.col("id") % 1000 + 1)
        .alias("k")
    )
    # the join being advised runs 32 shuffle tasks: the hot key holds
    # 50,000 rows against 100,000/32 per task, a factor of 16 > 4
    par = 32
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(par))
    try:
        rep = key_skew_report(df, ["k"], broadcast_rows=10)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rep["n_rows"] == 100_000
    assert rep["top"][0]["key"] == (0,)
    assert rep["top"][0]["share"] == pytest.approx(0.5)
    assert rep["recommendation"]["strategy"] == "salt"
    # hottest key ≈ half the table ⇒ factor ≈ task count/2, capped
    assert 1 < rep["recommendation"]["n_salts"] <= par
    assert rep["recommendation"]["n_salts"] >= min(par, par // 2)


def test_task_count_follows_aqe_initial_partition_num(spark):
    """With AQE and its coalescing on, Spark plans a shuffle with
    ``initialPartitionNum`` when that is set; with AQE off it ignores it."""
    df = spark.range(100_000).select(
        F.when(F.col("id") < 50_000, 0)
        .otherwise(F.col("id") % 1000 + 1)
        .alias("k")
    )
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum", "32"
        )
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        on = key_skew_report(df, ["k"], broadcast_rows=10)
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        off = key_skew_report(df, ["k"], broadcast_rows=10)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # 50,000 rows against 100,000/32 per task: factor 16
    assert on["skew_factor"] == pytest.approx(16.0)
    assert on["recommendation"] == {"strategy": "salt", "n_salts": 16}
    # against 100,000/4 per task: factor 2, below the straggler factor 4
    assert off["skew_factor"] == pytest.approx(2.0)
    assert off["recommendation"]["strategy"] == "none"


def test_uniform_keys_no_action(spark):
    df = spark.range(100_000).select((F.col("id") % 1000).alias("k"))
    rep = key_skew_report(df, ["k"], broadcast_rows=10)
    assert rep["recommendation"]["strategy"] == "none"
    assert rep["skew_factor"] < 2.0
    assert rep["n_keys"] == 1000
    assert rep["avg_per_key"] == pytest.approx(100.0)


def test_small_table_recommends_broadcast(spark):
    df = spark.range(100).select((F.col("id") % 3).alias("k"))
    rep = key_skew_report(df, ["k"])
    assert rep["recommendation"] == {"strategy": "broadcast", "n_salts": 1}


def test_empty_table(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    rep = key_skew_report(df, ["k"])
    assert rep["n_rows"] == 0 and rep["top"] == []
    assert rep["recommendation"]["strategy"] in ("none", "broadcast")
