"""Round-5 surface: join strategies (operators/joins.py), one-pass
quality suite (operators/checks.py), incremental aggregate maintenance
(operators/incremental.py), HLL sketch store (operators/sketches.py),
and the q70–q73 declared queries vs their DuckDB oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.operators import checks
from bloomy_etl_spark.operators.engine_queries import (
    ENGINE_ORACLE_SQL,
    ENGINE_QUERIES,
)
from bloomy_etl_spark.operators.incremental import (
    finalize,
    incremental_store,
    merge_states,
    partial_states,
)
from bloomy_etl_spark.operators.joins import binned_range_join, salted_join

from tests.conftest import SF_ORACLE
from tests.oracle import compare, register_duck_views


# ---------------------------------------------------------------------------
# declared queries vs DuckDB (same harness as the driver's t2 gate)
# ---------------------------------------------------------------------------
@pytest.mark.parametrize("name", sorted(ENGINE_QUERIES))
def test_engine_query_matches_oracle(spark, duck, name):
    register_duck_views(duck, SF_ORACLE)
    compare(ENGINE_QUERIES[name](spark, SF_ORACLE), duck, ENGINE_ORACLE_SQL[name])


@pytest.mark.parametrize("name", sorted(ENGINE_QUERIES))
def test_engine_query_nonempty(spark, name):
    assert ENGINE_QUERIES[name](spark, SF_ORACLE).limit(1).count() == 1


# ---------------------------------------------------------------------------
# binned_range_join
# ---------------------------------------------------------------------------
class TestBinnedRangeJoin:
    @pytest.fixture(scope="class")
    def data(self, spark):
        import random

        rng = random.Random(7)
        pts = [(i, rng.randrange(0, 1000)) for i in range(200)]
        ivs = [
            (j, lo, lo + rng.randrange(0, 80))
            for j, lo in ((j, rng.randrange(0, 1000)) for j in range(60))
        ]
        points = spark.createDataFrame(pts, "pid long, v long")
        intervals = spark.createDataFrame(ivs, "iid long, lo long, hi long")
        return points, intervals

    def _exact(self, points, intervals):
        return {
            (r["pid"], r["iid"])
            for r in points.crossJoin(intervals)
            .filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
            .collect()
        }

    @pytest.mark.parametrize("bin_width", [1, 7, 64, 4096])
    def test_matches_theta_join_any_bin_width(self, spark, data, bin_width):
        points, intervals = data
        got = {
            (r["pid"], r["iid"])
            for r in binned_range_join(
                points, intervals, "v", "lo", "hi", bin_width
            ).collect()
        }
        assert got == self._exact(points, intervals)

    def test_left_semi_distinct_points(self, spark, data):
        points, intervals = data
        semi = binned_range_join(
            points, intervals, "v", "lo", "hi", 32, how="left_semi"
        )
        rows = semi.collect()
        want = {p for p, _ in self._exact(points, intervals)}
        assert {r["pid"] for r in rows} == want
        assert len(rows) == len(want)  # each point exactly once
        assert set(semi.columns) == {"pid", "v"}

    def test_left_semi_keeps_duplicate_rows(self, spark):
        """Spark's leftsemi keeps every matching left row, duplicates
        included — the bin rewrite must not collapse them."""
        points = spark.createDataFrame(
            [(1, 10), (1, 10), (2, 99)], "pid long, v long"
        )
        intervals = spark.createDataFrame([(7, 5, 20)], "iid long, lo long, hi long")
        got = binned_range_join(
            points, intervals, "v", "lo", "hi", 8, how="left_semi"
        ).collect()
        assert sorted((r["pid"], r["v"]) for r in got) == [(1, 10), (1, 10)]
        want = points.join(
            intervals, (F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")),
            "left_semi",
        ).collect()
        assert sorted((r["pid"], r["v"]) for r in want) == [(1, 10), (1, 10)]

    def test_no_nested_loop_in_plan(self, spark, data):
        points, intervals = data
        plan = binned_range_join(
            points, intervals, "v", "lo", "hi", 32
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_bad_args(self, spark, data):
        points, intervals = data
        with pytest.raises(ValueError):
            binned_range_join(points, intervals, "v", "lo", "hi", 0)
        with pytest.raises(ValueError):
            binned_range_join(points, intervals, "v", "lo", "hi", 8, how="full")
        # shared column names would silently produce ambiguous output
        clash = intervals.withColumnRenamed("iid", "pid")
        with pytest.raises(ValueError, match="share column names"):
            binned_range_join(points, clash, "v", "lo", "hi", 8)


# ---------------------------------------------------------------------------
# salted_join
# ---------------------------------------------------------------------------
class TestSaltedJoin:
    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # 90% of big-side rows share key 0 (the straggler scenario)
        big = spark.createDataFrame(
            [(i, 0 if i % 10 else i % 7, f"p{i}") for i in range(500)],
            "rid long, k long, payload string",
        )
        small = spark.createDataFrame(
            [(k, f"dim{k}") for k in range(7)], "k long, attr string"
        )
        return big, small

    @pytest.mark.parametrize("how", ["inner", "left"])
    def test_matches_plain_join(self, spark, skewed, how):
        big, small = skewed
        want = sorted(
            (tuple(r) for r in big.join(small, "k", how).collect()),
            key=str,
        )
        got = sorted(
            (tuple(r) for r in salted_join(big, small, "k", 8, how=how).collect()),
            key=str,
        )
        assert got == want

    def test_salt_spreads_hot_key(self, spark, skewed):
        big, _ = skewed
        salts = (
            big.withColumn(
                "salt",
                F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8)),
            )
            .filter(F.col("k") == 0)
            .groupBy("salt")
            .count()
            .collect()
        )
        assert len(salts) == 8, "hot key must hit every salt partition"
        counts = [r["count"] for r in salts]
        assert max(counts) < 3 * min(counts), f"salt skewed: {counts}"

    def test_no_broadcast_in_plan(self, spark, skewed):
        big, small = skewed
        plan = (
            salted_join(big, small, "k", 4)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" not in plan

    def test_bad_args(self, spark, skewed):
        big, small = skewed
        with pytest.raises(ValueError):
            salted_join(big, small, "k", 0)
        with pytest.raises(ValueError):
            salted_join(big, small, "k", 4, how="full")


# ---------------------------------------------------------------------------
# fuzzy matching (SymSpell deletion neighborhoods)
# ---------------------------------------------------------------------------
class TestFuzzyPairs:
    def test_matches_quadratic_reference(self, spark):
        vals = [
            "red widget", "old widget", "cold widget", "red widgets",
            "blue bolt", "blu bolt", "bolt", "anvil", "anvi1", "anvil ",
            "x", "", "x", None,
        ]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        got = {
            (r["a"], r["b"], r["dist"])
            for r in __import__(
                "bloomy_etl_spark.operators.joins", fromlist=["fuzzy_value_pairs"]
            ).fuzzy_value_pairs(df, "s", k=2).collect()
        }
        import itertools

        def lev(a, b):
            if len(a) < len(b):
                a, b = b, a
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(
                        min(prev[j] + 1, cur[j - 1] + 1,
                            prev[j - 1] + (ca != cb))
                    )
                prev = cur
            return prev[-1]

        uniq = sorted({v for v in vals if v is not None})
        want = {
            (a, b, lev(a, b))
            for a, b in itertools.combinations(uniq, 2)
            if lev(a, b) <= 2
        }
        assert got == want and len(want) >= 4

    def test_k1_subset_of_k2(self, spark):
        from bloomy_etl_spark.operators.joins import fuzzy_value_pairs

        df = spark.createDataFrame(
            [("abcd",), ("abc",), ("ab",), ("xbcd",), ("wxyz",)], "s string"
        )
        p1 = {(r["a"], r["b"]) for r in fuzzy_value_pairs(df, "s", 1).collect()}
        p2 = {(r["a"], r["b"]) for r in fuzzy_value_pairs(df, "s", 2).collect()}
        assert p1 <= p2
        assert ("abc", "abcd") in p1 and ("ab", "abcd") in p2 - p1

    def test_bad_k(self, spark):
        from bloomy_etl_spark.operators.joins import fuzzy_value_pairs

        df = spark.createDataFrame([("a",)], "s string")
        with pytest.raises(ValueError):
            fuzzy_value_pairs(df, "s", 0)

    def test_long_value_fails_loudly(self, spark):
        """A document-length value in the column must raise, not silently
        explode O(len^k) variants or silently skip the value."""
        from bloomy_etl_spark.operators.joins import fuzzy_value_pairs

        df = spark.createDataFrame([("short",), ("x" * 200,)], "s string")
        with pytest.raises(ValueError, match="max_len"):
            fuzzy_value_pairs(df, "s", k=1)
        # raising the cap deliberately works
        out = fuzzy_value_pairs(df, "s", k=1, max_len=256)
        assert out.count() == 0


# ---------------------------------------------------------------------------
# SCD2 dimension maintenance
# ---------------------------------------------------------------------------
class TestScd2:
    @pytest.fixture(scope="class")
    def obs(self, spark):
        import datetime as dt

        t = lambda d: dt.datetime(2024, 1, d)  # noqa: E731
        rows = [
            # k1: A → A (dup, no version) → B → B → A
            (1, "A", t(1)), (1, "A", t(3)), (1, "B", t(5)),
            (1, "B", t(7)), (1, "A", t(9)),
            # k2: single observation
            (2, "X", t(2)),
            # k3: change every time
            (3, "P", t(1)), (3, "Q", t(2)), (3, "R", t(3)),
        ]
        return spark.createDataFrame(rows, "k long, attr string, eff_ts timestamp")

    def test_chains_and_current(self, spark, obs):
        from bloomy_etl_spark.sinks.layout import scd2_apply

        out = scd2_apply(obs.filter(F.lit(False)), obs, ["k"], ["attr"])
        rows = sorted(
            ((r["k"], r["attr"], r["eff_ts"].day,
              r["end_ts"].day if r["end_ts"] else None, r["is_current"])
             for r in out.collect())
        )
        assert rows == [
            (1, "A", 1, 5, False), (1, "A", 9, None, True),
            (1, "B", 5, 9, False),
            (2, "X", 2, None, True),
            (3, "P", 1, 2, False), (3, "Q", 2, 3, False),
            (3, "R", 3, None, True),
        ]
        # exactly one open version per key
        cur = [r for r in rows if r[4]]
        assert len(cur) == 3

    def test_incremental_equals_oneshot(self, spark, obs):
        from bloomy_etl_spark.sinks.layout import scd2_apply

        empty = obs.filter(F.lit(False))
        oneshot = scd2_apply(empty, obs, ["k"], ["attr"])
        cut = F.lit("2024-01-05").cast("timestamp")
        dim = scd2_apply(empty, obs.filter(F.col("eff_ts") < cut),
                         ["k"], ["attr"]).drop("end_ts", "is_current")
        incr = scd2_apply(dim, obs.filter(F.col("eff_ts") >= cut),
                          ["k"], ["attr"])
        assert {tuple(r) for r in incr.collect()} == {
            tuple(r) for r in oneshot.collect()
        }

    def test_noop_update_is_idempotent(self, spark, obs):
        from bloomy_etl_spark.sinks.layout import scd2_apply

        empty = obs.filter(F.lit(False))
        first = scd2_apply(empty, obs, ["k"], ["attr"])
        dim = first.drop("end_ts", "is_current")
        again = scd2_apply(dim, obs, ["k"], ["attr"])
        assert {tuple(r) for r in again.collect()} == {
            tuple(r) for r in first.collect()
        }


# ---------------------------------------------------------------------------
# checks: one-pass quality suite
# ---------------------------------------------------------------------------
class TestChecks:
    @pytest.fixture(scope="class")
    def df(self, spark):
        return spark.createDataFrame(
            [
                (1, "a@x.com", 5.0, "ok"),
                (2, None, 50.0, "ok"),
                (2, "c@x.com", -1.0, "bad"),
                (4, "not-an-email", 200.0, "ok"),
            ],
            "id long, email string, score double, status string",
        )

    def test_constraint_metrics(self, spark, df):
        rep = checks.check_constraints(
            df,
            [
                checks.not_null("email"),
                checks.unique("id"),
                checks.in_range("score", 0.0, 100.0),
                checks.matches("email", "^[^@]+@[^@]+$"),
                checks.accepted_values("status", ["ok"]),
                checks.non_negative("score"),
            ],
        )
        got = {r["constraint"]: (r["metric"], r["passed"]) for r in rep.collect()}
        assert got["not_null(email)"] == (0.25, False)
        assert got["unique(id)"] == (1.0, False)  # id=2 twice
        assert got["in_range(score,0.0,100.0)"] == (2.0, False)  # -1, 200
        assert got["matches(email)"] == (1.0, False)  # not-an-email
        assert got["accepted_values(status)"] == (1.0, False)
        assert got["non_negative(score)"] == (1.0, False)

    def test_all_pass(self, spark, df):
        rep = checks.check_constraints(
            df, [checks.unique("id", "email"), checks.in_range("score", -10, 1000)]
        ).collect()
        assert all(r["passed"] for r in rep)

    def test_single_scan(self, spark, df):
        """N constraints must compile to ONE pass: exactly one scan of
        the input in the optimized plan."""
        rep = checks.check_constraints(
            df,
            [checks.not_null("email"), checks.unique("id"),
             checks.non_negative("score")],
        )
        plan = rep._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("LogicalRDD") == 1

    def test_subset_of(self, spark, df):
        ref = spark.createDataFrame([(1,), (2,)], "k long")
        row = checks.subset_of(df, "id", ref, "k").collect()[0]
        assert row["metric"] == 1.0 and not row["passed"]  # id=4 orphaned
        ref_all = spark.createDataFrame([(1,), (2,), (4,)], "k long")
        row = checks.subset_of(df, "id", ref_all, "k").collect()[0]
        assert row["metric"] == 0.0 and row["passed"]

    def test_bad_args(self, spark, df):
        with pytest.raises(ValueError):
            checks.check_constraints(df, [])
        with pytest.raises(ValueError):
            checks.check_constraints(
                df, [checks.unique("id"), checks.unique("id")]
            )

    def test_k_anonymity(self, spark):
        df = spark.createDataFrame(
            [("a", 1)] * 5 + [("a", 2)] * 2 + [("b", 1)],
            "seg string, zone long",
        )
        classes = {
            (r["seg"], r["zone"]): (r["n"], r["anonymous"])
            for r in checks.k_anonymity(df, ["seg", "zone"], k=3).collect()
        }
        assert classes == {
            ("a", 1): (5, True), ("a", 2): (2, False), ("b", 1): (1, False)
        }
        summary = {
            r["seg"]: (r["n_classes"], r["n_violating"], r["n_at_risk"],
                       r["min_class_size"])
            for r in checks.k_anonymity_summary(
                checks.k_anonymity(df, ["seg", "zone"], k=3), "seg"
            ).collect()
        }
        assert summary == {"a": (2, 1, 2, 2), "b": (1, 1, 1, 1)}
        with pytest.raises(ValueError):
            checks.k_anonymity(df, [], 3)
        with pytest.raises(ValueError):
            checks.k_anonymity(df, ["seg"], 0)


# ---------------------------------------------------------------------------
# incremental aggregate maintenance
# ---------------------------------------------------------------------------
class TestIncremental:
    @pytest.fixture(scope="class")
    def rows(self, spark):
        import random

        rng = random.Random(3)
        data = [
            (f"g{i % 5}", rng.uniform(-100, 100) if i % 11 else None)
            for i in range(400)
        ]
        return spark.createDataFrame(data, "g string, v double")

    def _direct(self, df):
        return {
            tuple(r)
            for r in df.groupBy("g")
            .agg(
                F.count("v").alias("count"),
                F.round(F.sum("v"), 4).alias("sum"),
                F.round(F.min("v"), 4).alias("min"),
                F.round(F.max("v"), 4).alias("max"),
                F.round(F.avg("v"), 4).alias("avg"),
                F.round(F.stddev_pop("v"), 4).alias("stddev_pop"),
            )
            .collect()
        }

    @pytest.mark.parametrize("n_batches", [1, 3, 7])
    def test_any_batching_equals_direct(self, spark, rows, n_batches):
        parts = [
            rows.filter(F.pmod(F.xxhash64("g", "v"), F.lit(n_batches)) == i)
            for i in range(n_batches)
        ]
        states = [partial_states(p, ["g"], "v") for p in parts]
        got = {tuple(r) for r in finalize(merge_states(*states)).collect()}
        assert got == self._direct(rows)

    def test_all_null_group(self, spark):
        df = spark.createDataFrame(
            [("a", None), ("a", None), ("b", 2.0)], "g string, v double"
        )
        out = {r["g"]: r for r in finalize(partial_states(df, ["g"], "v")).collect()}
        assert out["a"]["count"] == 0 and out["a"]["avg"] is None
        assert out["b"]["count"] == 1 and out["b"]["avg"] == 2.0

    def test_durable_store(self, spark, rows, tmp_path):
        store = incremental_store(str(tmp_path / "rollup"))
        b0 = rows.filter(F.col("v") < 0)
        b1 = rows.filter((F.col("v") >= 0) | F.col("v").isNull())
        store.append(partial_states(b0, ["g"], "v"), batch_id=0)
        store.append(partial_states(b1, ["g"], "v"), batch_id=1)
        got = {tuple(r) for r in finalize(store.current(spark)).collect()}
        assert got == self._direct(rows)

    def test_replay_rollback_by_batch_id(self, spark, rows, tmp_path):
        """At-least-once delivery: the same batch appended twice is
        reversed by excluding its duplicate batch_id at read — the
        docstring's delete-by-batch_id contract, exercised."""
        store = incremental_store(str(tmp_path / "r2"))
        b0 = rows.filter(F.col("v") < 0)
        b1 = rows.filter((F.col("v") >= 0) | F.col("v").isNull())
        store.append(partial_states(b0, ["g"], "v"), batch_id=0)
        store.append(partial_states(b1, ["g"], "v"), batch_id=1)
        store.append(partial_states(b1, ["g"], "v"), batch_id=2)  # replay
        dup = {
            r["g"]: r["count"]
            for r in finalize(store.current(spark)).collect()
        }
        fixed = {
            tuple(r)
            for r in finalize(
                store.current(spark, exclude_batch_ids=(2,))
            ).collect()
        }
        direct = self._direct(rows)
        assert fixed == direct
        # and the un-rolled-back store really was wrong (double-counted)
        assert dup != {t[0]: t[1] for t in direct}

    def test_bad_args(self):
        with pytest.raises(ValueError):
            merge_states()


class TestHllRegisters:
    """Portable register-level HLL (the driver-gateable tier, q119)."""

    @pytest.fixture(scope="class")
    def items(self, spark):
        return spark.range(0, 20000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            F.concat(F.lit("u"), (F.col("id") * 7919 % 5000).cast("string")).alias("u"),
        )

    def test_estimate_within_standard_error(self, spark, items):
        """α_m estimator within ~4/√m of exact (m=256 → ~25%; generous
        3σ bound at 20%... use m=256 and 20%)."""
        from bloomy_etl_spark.operators.sketches import (
            hll_registers,
            hll_registers_estimate,
        )

        m = 256
        regs = hll_registers(items, ["g"], "u", m=m)
        est = {
            r["g"]: r["n_distinct"]
            for r in hll_registers_estimate(regs, ["g"], m=m).collect()
        }
        exact = {
            r["g"]: r["n"]
            for r in items.groupBy("g")
            .agg(F.count_distinct("u").alias("n"))
            .collect()
        }
        for g, n in exact.items():
            assert abs(est[g] - n) <= 0.20 * n, (g, est[g], n)

    def test_merge_equals_oneshot_exactly(self, spark, items):
        """Register merge is EXACT (bucket-wise max), unlike the
        DataSketches union: slice-merged registers == one-shot build
        bit-for-bit, and replaying a slice changes nothing."""
        from bloomy_etl_spark.operators.sketches import (
            hll_registers,
            hll_registers_merge,
        )

        a = items.filter(F.xxhash64("u") % 2 == 0)
        b = items.filter(F.xxhash64("u") % 2 != 0)
        sliced = hll_registers_merge(
            hll_registers(a, ["g"], "u").unionByName(
                hll_registers(b, ["g"], "u")
            ).unionByName(hll_registers(a, ["g"], "u")),  # replayed slice
            ["g"],
        )
        oneshot = hll_registers(items, ["g"], "u")
        got = {(r["g"], r["bucket"]): r["r"] for r in sliced.collect()}
        want = {(r["g"], r["bucket"]): r["r"] for r in oneshot.collect()}
        assert got == want

    def test_small_range_linear_counting(self, spark):
        """A 30-distinct group at m=64 must route through the
        linear-counting branch and land near-exact."""
        from bloomy_etl_spark.operators.sketches import (
            hll_registers,
            hll_registers_estimate,
        )

        df = spark.range(0, 30).select(
            F.lit("g").alias("g"),
            F.col("id").cast("string").alias("u"),
        )
        (row,) = hll_registers_estimate(
            hll_registers(df, ["g"], "u", m=64), ["g"], m=64
        ).collect()
        # this fixture's (deterministic) md5 spread occupies 20 of 64
        # buckets → LC = 64·ln(64/44) ≈ 23.98; the bound is the LC
        # standard error at this fill, not a tunable
        assert abs(row["n_distinct"] - 30) <= 8

    def test_bad_m(self, spark, items):
        from bloomy_etl_spark.operators.sketches import hll_registers

        for bad in (0, 1, 3, 48, 1 << 17):
            with pytest.raises(ValueError):
                hll_registers(items, ["g"], "u", m=bad)


# ---------------------------------------------------------------------------
# bloom_semi_join (runtime-filter pattern as an explicit operator)
# ---------------------------------------------------------------------------
class TestBloomSemiJoin:
    @pytest.fixture(scope="class")
    def data(self, spark):
        from bloomy_etl_spark.operators.joins import bloom_semi_join  # noqa: F401

        big = spark.range(0, 5000).select(
            (F.col("id") % 997).alias("k"), F.col("id").alias("v")
        )
        small = spark.createDataFrame(
            [(i,) for i in range(0, 997, 7)], "k long"
        )
        return big, small

    def test_matches_plain_semi_join(self, spark, data):
        from bloomy_etl_spark.operators.joins import bloom_semi_join

        big, small = data
        got = sorted(tuple(r) for r in bloom_semi_join(big, small, "k").collect())
        want = sorted(tuple(r) for r in big.join(small, "k", "left_semi").collect())
        assert got == want

    def test_tiny_bitmap_still_exact(self, spark, data):
        """m small enough to guarantee false positives — the exact
        left_semi behind the filter keeps the result identical."""
        from bloomy_etl_spark.operators.joins import bloom_semi_join

        big, small = data
        got = sorted(
            tuple(r)
            for r in bloom_semi_join(big, small, "k", m_bits=256, n_hashes=2).collect()
        )
        want = sorted(tuple(r) for r in big.join(small, "k", "left_semi").collect())
        assert got == want

    def test_prefilter_is_match_superset_and_prunes(self, spark, data):
        from bloomy_etl_spark.operators.joins import bloom_semi_join

        big, small = data
        pruned = bloom_semi_join(big, small, "k", prefilter_only=True)
        want = big.join(small, "k", "left_semi")
        # every true match survives the filter...
        assert want.exceptAll(pruned.select(*want.columns)).count() == 0
        # ...and the filter actually prunes (non-matching keys dominate here)
        assert want.count() <= pruned.count() < big.count()

    def test_multi_column_key(self, spark):
        from bloomy_etl_spark.operators.joins import bloom_semi_join

        big = spark.range(0, 2000).select(
            (F.col("id") % 50).alias("a"),
            (F.col("id") % 7).cast("string").alias("b"),
            F.col("id").alias("v"),
        )
        small = spark.createDataFrame(
            [(i, str(i % 7)) for i in range(0, 50, 5)], "a long, b string"
        )
        got = sorted(
            tuple(r) for r in bloom_semi_join(big, small, ["a", "b"]).collect()
        )
        want = sorted(
            tuple(r) for r in big.join(small, ["a", "b"], "left_semi").collect()
        )
        assert got == want

    def test_empty_small_side(self, spark, data):
        from bloomy_etl_spark.operators.joins import bloom_semi_join

        big, small = data
        assert bloom_semi_join(big, small.filter(F.lit(False)), "k").count() == 0

    def test_bad_args(self, spark, data):
        from bloomy_etl_spark.operators.joins import bloom_semi_join

        big, small = data
        with pytest.raises(ValueError):
            bloom_semi_join(big, small, "k", m_bits=100)
        with pytest.raises(ValueError):
            bloom_semi_join(big, small, "k", n_hashes=0)


# ---------------------------------------------------------------------------
# KMV / theta sketches (distinct count with set operations)
# ---------------------------------------------------------------------------
class TestKmv:
    def test_exact_regime_matches_count_distinct(self, spark):
        from bloomy_etl_spark.operators.sketches import kmv_build, kmv_estimate_col

        df = spark.range(0, 3000).select(
            (F.col("id") % 7).alias("g"), (F.col("id") % 500).alias("item")
        )
        est = {
            r["g"]: r["est"]
            for r in kmv_build(df, ["g"], "item", k=1024)
            .select("g", kmv_estimate_col(F.col("kmv"), 1024).alias("est"))
            .collect()
        }
        exact = {
            r["g"]: r["n"]
            for r in df.groupBy("g").agg(F.count_distinct("item").alias("n")).collect()
        }
        assert est == {g: float(n) for g, n in exact.items()}

    def test_estimator_error_bound(self, spark):
        """k << n regime: classical bottom-k estimator, err ≲ 2/√k.
        Deterministic (fixed xxhash64), so the bound is a regression
        pin, not a flaky statistical test."""
        from bloomy_etl_spark.operators.sketches import kmv_build, kmv_estimate_col

        n, k = 60000, 256
        df = spark.range(n).select(F.lit(1).alias("g"), F.col("id").alias("item"))
        (row,) = (
            kmv_build(df, ["g"], "item", k=k)
            .select(kmv_estimate_col(F.col("kmv"), k).alias("est"))
            .collect()
        )
        assert abs(row["est"] - n) / n < 2 / (k ** 0.5)

    def test_merge_equals_build_on_union(self, spark):
        """k-min of a union == k-min of the merged per-slice k-mins —
        exactly, not approximately (same hash set)."""
        from bloomy_etl_spark.operators.sketches import kmv_build, kmv_merge_col

        k = 64
        full = spark.range(0, 2000).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("item")
        )
        a = full.filter(F.col("item") < 1200)          # overlapping slices
        b = full.filter(F.col("item") >= 800)
        merged = {
            r["g"]: r["kmv"]
            for r in kmv_build(a, ["g"], "item", k=k).alias("a")
            .join(kmv_build(b, ["g"], "item", k=k).alias("b"), "g")
            .select("g", kmv_merge_col(F.col("a.kmv"), F.col("b.kmv"), k)
                    .alias("kmv"))
            .collect()
        }
        oneshot = {
            r["g"]: r["kmv"] for r in kmv_build(full, ["g"], "item", k=k).collect()
        }
        assert merged == oneshot

    def test_global_sketch_no_keys(self, spark):
        from bloomy_etl_spark.operators.sketches import kmv_build, kmv_estimate_col

        df = spark.range(0, 700).select(F.col("id").alias("item"))
        (row,) = (
            kmv_build(df, [], "item", k=1024)
            .select(kmv_estimate_col(F.col("kmv"), 1024).alias("est"))
            .collect()
        )
        assert row["est"] == 700.0

    def test_overlap_exact_regime(self, spark):
        from bloomy_etl_spark.operators.sketches import kmv_build, kmv_overlap_cols

        k = 512
        df = spark.createDataFrame(
            [("a", i) for i in range(100)] + [("b", i) for i in range(50, 150)],
            "g string, item long",
        )
        sk = kmv_build(df, ["g"], "item", k=k)
        pair = (
            sk.filter(F.col("g") == "a")
            .select(F.col("kmv").alias("ka"))
            .crossJoin(sk.filter(F.col("g") == "b").select(F.col("kmv").alias("kb")))
        )
        est = kmv_overlap_cols(F.col("ka"), F.col("kb"), k)
        (row,) = pair.select(
            est["est_a"].alias("a"), est["est_b"].alias("b"),
            est["est_union"].alias("u"), est["est_inter"].alias("i"),
            est["jaccard"].alias("j"),
        ).collect()
        assert (row["a"], row["b"], row["u"], row["i"]) == (100.0, 100.0, 150.0, 50.0)
        assert abs(row["j"] - 50 / 150) < 1e-12

    def test_null_items_skipped(self, spark):
        from bloomy_etl_spark.operators.sketches import kmv_build

        df = spark.createDataFrame(
            [("g", 1), ("g", None), ("g", 2)], "g string, item long"
        )
        (row,) = kmv_build(df, ["g"], "item", k=16).collect()
        assert len(row["kmv"]) == 2

    def test_bad_k(self, spark):
        from bloomy_etl_spark.operators.sketches import kmv_build

        df = spark.range(5).select(F.col("id").alias("item"))
        with pytest.raises(ValueError):
            kmv_build(df, [], "item", k=1)


class TestSkewProfile:
    """Key-skew diagnostics (checks.skew_profile) beyond the q134 gate."""

    def test_matches_naive_python(self, spark):
        from bloomy_etl_spark.operators.checks import skew_profile

        rows = [(k,) for k in
                ["a"] * 50 + ["b"] * 30 + ["c"] * 15 + ["d"] * 5]
        df = spark.createDataFrame(rows, "k string")
        got = skew_profile(df, "k", topk=3).collect()
        assert [(r["rank"], r["key"], r["c"], r["share_e6"]) for r in got] \
            == [(1, "a", 50, 500000), (2, "b", 30, 300000),
                (3, "c", 15, 150000)]
        n, c2 = 100, 50 * 50 + 30 * 30 + 15 * 15 + 5 * 5
        assert all(r["n_rows"] == n and r["n_keys"] == 4 for r in got)
        assert all(r["hhi_e6"] == (1_000_000 * c2) // (n * n) for r in got)
        assert all(r["top_share_e6"] == 500000 for r in got)

    def test_uniform_vs_megakey_extremes(self, spark):
        from bloomy_etl_spark.operators.checks import skew_profile

        uni = spark.createDataFrame([(str(i),) for i in range(100)],
                                    "k string")
        r = skew_profile(uni, "k", topk=1).collect()[0]
        assert r["hhi_e6"] == 10_000  # 1/K · 1e6
        mega = spark.createDataFrame([("x",)] * 64, "k string")
        r = skew_profile(mega, "k", topk=1).collect()[0]
        assert r["hhi_e6"] == 1_000_000 and r["top_share_e6"] == 1_000_000

    def test_tie_break_and_bad_args(self, spark):
        import pytest

        from bloomy_etl_spark.operators.checks import skew_profile

        df = spark.createDataFrame([("b",), ("a",)], "k string")
        got = skew_profile(df, "k", topk=2).collect()
        assert [r["key"] for r in got] == ["a", "b"]  # count ties by key
        with pytest.raises(ValueError):
            skew_profile(df, "k", topk=0)


class TestCalibrationBins:
    """Reliability bins (checks.calibration_bins) beyond the q135 gate."""

    def test_matches_naive_python(self, spark):
        from bloomy_etl_spark.operators.checks import calibration_bins

        rows = [(0, False), (99_999, False), (100_000, True),
                (550_000, True), (550_001, False), (999_999, True),
                (1_000_000, True)]  # scale value folds into the top bin
        df = spark.createDataFrame(rows, "s long, y boolean")
        got = {r["bin"]: (r["n"], r["mean_score_e6"], r["pos_rate_e6"])
               for r in calibration_bins(df, "s", "y").collect()}
        want: dict = {}
        from collections import defaultdict
        acc = defaultdict(list)
        for s, y in rows:
            acc[min(9, (s * 10) // 1_000_000)].append((s, y))
        for b, vs in acc.items():
            n = len(vs)
            want[b] = (n, sum(s for s, _ in vs) // n,
                       (1_000_000 * sum(1 for _, y in vs if y)) // n)
        assert got == want

    def test_perfectly_calibrated_score(self, spark):
        """A score equal to the true positive probability lands each
        bin's pos_rate inside the bin's score span."""
        from bloomy_etl_spark.operators.checks import calibration_bins

        rows = []
        for b in range(10):
            s = b * 100_000 + 50_000
            rows += [(s, i < b) for i in range(10)]  # P(y)=b/10
        df = spark.createDataFrame(rows, "s long, y boolean")
        for r in calibration_bins(df, "s", "y").collect():
            assert r["n"] == 10
            assert r["pos_rate_e6"] == r["bin"] * 100_000
            assert abs(r["mean_score_e6"] - r["pos_rate_e6"]) <= 50_000

    def test_bad_args(self, spark):
        import pytest

        from bloomy_etl_spark.operators.checks import calibration_bins

        df = spark.createDataFrame([(1, True)], "s long, y boolean")
        with pytest.raises(ValueError):
            calibration_bins(df, "s", "y", bins=0)


class TestSkewProfileOverflowEnvelope:
    def test_billion_row_counts_stay_exact(self, spark):
        """The decimal arithmetic must stay exact where int64 products
        would wrap silently (non-ANSI mode): 100M rows over 1,000
        uniform keys gives scale·Σc² = 10¹⁹ > int64 max — synthetic
        counts no fixture could materialize."""
        from bloomy_etl_spark.operators.checks import _skew_from_counts

        counts = spark.createDataFrame(
            [(f"k{i:04d}", 100_000) for i in range(1000)],
            "key string, c long",
        )
        r = _skew_from_counts(counts, topk=1).collect()[0]
        assert r["n_rows"] == 100_000_000
        assert r["hhi_e6"] == 1_000  # 1e6 / 1000 keys, exactly
        assert r["share_e6"] == 1_000
        assert r["top_share_e6"] == 1_000
        # one 3-billion-row mega-key next to a long tail: c² alone is
        # 9·10¹⁸ (int64 edge) and scale·Σc² is 9·10²⁴
        counts = spark.createDataFrame(
            [("mega", 3_000_000_000)]
            + [(f"k{i:04d}", 1_000_000) for i in range(1000)],
            "key string, c long",
        )
        r = _skew_from_counts(counts, topk=1).collect()[0]
        n = 3_000_000_000 + 1000 * 1_000_000
        c2 = 3_000_000_000**2 + 1000 * 1_000_000**2
        assert r["n_rows"] == n
        assert r["hhi_e6"] == (1_000_000 * c2) // (n * n)
        assert r["top_share_e6"] == (1_000_000 * 3_000_000_000) // n
