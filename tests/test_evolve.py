"""The KMV join-cardinality estimator
(tools/stats.py::estimate_join_cardinality)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bloomy_etl_spark.tools.stats import estimate_join_cardinality


class TestJoinCardinality:
    def test_exact_regime_uniform_fanout(self, spark):
        """Uniform multiplicities + both key sets below k → the estimate
        IS the true join size."""
        a = spark.range(0, 900).select((F.col("id") % 300).alias("ka"))   # 3 rows/key
        b = spark.range(0, 400).select((F.col("id") % 200 + 100).alias("kb"))  # 2 rows/key
        est = estimate_join_cardinality(a, b, "ka", "kb", k=1024)
        true_rows = a.join(b, a["ka"] == b["kb"]).count()
        assert est["rows_a"] == 900 and est["rows_b"] == 400
        assert (est["ndv_a"], est["ndv_b"]) == (300.0, 200.0)
        assert est["matching_keys"] == 200.0  # keys 100..299
        assert est["est_rows"] == true_rows == 200 * 3 * 2

    def test_disjoint_keys(self, spark):
        a = spark.range(0, 100).select(F.col("id").alias("ka"))
        b = spark.range(1000, 1100).select(F.col("id").alias("kb"))
        est = estimate_join_cardinality(a, b, "ka", "kb", k=512)
        assert est["matching_keys"] == 0.0 and est["est_rows"] == 0.0

    def test_empty_side(self, spark):
        a = spark.range(0, 100).select(F.col("id").alias("ka"))
        b = a.filter(F.lit(False)).withColumnRenamed("ka", "kb")
        est = estimate_join_cardinality(a, b, "ka", "kb", k=64)
        assert est["rows_b"] == 0 and est["est_rows"] == 0.0

    def test_sketch_regime_within_bound(self, spark):
        """k << ndv: estimate within the 2/√k estimator bound (fixed
        hash → deterministic, a regression pin not a flaky test)."""
        n = 20000
        a = spark.range(0, n).select(F.col("id").alias("ka"))
        b = spark.range(n // 2, n + n // 2).select(F.col("id").alias("kb"))
        k = 256
        est = estimate_join_cardinality(a, b, "ka", "kb", k=k)
        tol = 3 * (2 / k ** 0.5)  # union/inter compose a few estimates
        assert abs(est["ndv_a"] - n) / n < tol
        assert abs(est["est_rows"] - n / 2) / (n / 2) < tol
