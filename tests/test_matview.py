"""Mergeable aggregate states (plans/matview.py): a fine-grain state
answers coarser queries — plain, HLL and histogram measures, filters on
state keys, no-key totals, and states built on separate slices merged
— compared with plain aggregates over the base rows. q87's oracle test
covers the rewrite end to end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.plans.matview import (
    AggQuery,
    answer_from_state,
    build_state,
)


def _sales(spark, lo=0, hi=200):
    rows = [
        (
            i,
            ["east", "west", "north"][i % 3],
            f"d{i % 5}",
            float(i % 17) if i % 11 else None,  # NULLs exercise count(col)
            float(i % 7),
        )
        for i in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "id long, region string, day string, amount double, qty double"
    )


_Q_FULL = AggQuery(
    keys=("region",),
    measures={
        "n_rows": ("count_rows", None),
        "n_amount": ("count", "amount"),
        "total": ("sum", "amount"),
        "lo": ("min", "amount"),
        "hi": ("max", "amount"),
        "mean": ("avg", "amount"),
        "sd": ("stddev_pop", "amount"),
    },
)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _type1(values, q):
    """Exact type-1 quantile: the smallest value whose cumulative share
    of the non-NULL values reaches ``q`` (the histogram's convention)."""
    s = sorted(v for v in values if v is not None)
    return next(v for v in s if sum(x <= v for x in s) >= q * len(s))


def _union_state(spark, keys, measures, **kw):
    """The state of rows 0–199 built as two slices and unioned: merging
    happens when a query re-aggregates it."""
    return build_state(_sales(spark, 0, 120), keys, measures, **kw).unionByName(
        build_state(_sales(spark, 120, 200), keys, measures, **kw))


def test_rewrite_equals_direct_and_plain_sql(spark):
    base = _sales(spark)
    got = answer_from_state(
        build_state(base, ["region", "day"], ["amount", "qty"]), _Q_FULL)
    plain = base.groupBy("region").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("amount").alias("n_amount"),
        F.round(F.sum("amount"), 4).alias("total"),
        F.round(F.min("amount"), 4).alias("lo"),
        F.round(F.max("amount"), 4).alias("hi"),
        F.round(F.avg("amount"), 4).alias("mean"),
        F.round(F.stddev_pop("amount"), 4).alias("sd"),
    )
    for a, b in zip(_rows(got), _rows(plain)):
        assert a[:5] == b[:5]
        assert a[5] == pytest.approx(b[5], abs=1e-3)
        assert a[6] == pytest.approx(b[6], abs=1e-3)


def test_filters_on_view_keys(spark):
    base = _sales(spark)
    q = AggQuery(
        keys=("day",),
        measures={"total": ("sum", "amount"), "n": ("count_rows", None)},
        filters=(("region", "in", ("east", "west")), ("day", "!=", "d0")),
    )
    got = answer_from_state(build_state(base, ["region", "day"], ["amount"]), q)
    want = (
        base.filter(F.col("region").isin("east", "west") & (F.col("day") != "d0"))
        .groupBy("day")
        .agg(F.round(F.sum("amount"), 4).alias("total"),
             F.count(F.lit(1)).alias("n"))
    )
    assert _rows(got) == _rows(want)


def test_global_agg_no_keys(spark):
    base = _sales(spark)
    q = AggQuery(keys=(), measures={"mean": ("avg", "amount")})
    got = answer_from_state(build_state(base, ["region"], ["amount"]), q).collect()
    want = base.agg(F.round(F.avg("amount"), 4).alias("mean")).collect()
    assert len(got) == 1 and got[0]["mean"] == want[0]["mean"]


def test_validate_rejects_bad_specs():
    with pytest.raises(ValueError, match="unknown fn"):
        AggQuery(keys=(), measures={"x": ("median", "a")}).validate()
    with pytest.raises(ValueError, match="col must be set"):
        AggQuery(keys=(), measures={"x": ("sum", None)}).validate()
    with pytest.raises(ValueError, match="unknown op"):
        AggQuery(keys=(), measures={"x": ("count_rows", None)},
                 filters=(("a", "like", "b"),)).validate()


def test_approx_distinct_reaggregates_through_view(spark):
    base = _sales(spark)
    state = build_state(base, ["region", "day"], ["amount"],
                        approx_distinct_cols=["id"])
    q = AggQuery(
        keys=("region",),
        measures={"n_ids": ("approx_count_distinct", "id"),
                  "total": ("sum", "amount")},
    )
    got = {r["region"]: r["n_ids"]
           for r in answer_from_state(state, q).collect()}
    true = {r["region"]: r["n"]
            for r in base.groupBy("region")
            .agg(F.count_distinct("id").alias("n")).collect()}
    # distinct-of-parts ≠ sum-of-parts: the HLL union must land within
    # sketch error (exact at these cardinalities)
    for reg, n in true.items():
        assert abs(got[reg] - n) <= max(1, int(0.02 * n))


def test_approx_distinct_survives_incremental_refresh(spark):
    state = _union_state(spark, ["region"], [], approx_distinct_cols=["id"])
    q = AggQuery(keys=(), measures={"n_ids": ("approx_count_distinct", "id")})
    got = answer_from_state(state, q).first()["n_ids"]
    assert abs(got - 200) <= 4  # union across slices tracks the truth


def test_percentile_measure_error_bounded_and_mergeable(spark):
    # amounts in [0, 17); 34 bins of width 0.5
    pcols = {"amount": (0.0, 17.0, 34)}
    state = _union_state(spark, ["region", "day"], ["amount"],
                         percentile_cols=pcols)
    q = AggQuery(
        keys=("region",),
        measures={
            "p50": ("approx_percentile", "amount", 0.5),
            "p90": ("approx_percentile", "amount", 0.9),
            "total": ("sum", "amount"),
        },
    )
    got = {r["region"]: r for r in
           answer_from_state(state, q, percentile_cols=pcols).collect()}
    base = _sales(spark).collect()
    assert set(got) == {r["region"] for r in base}
    for reg in got:
        vals = [r["amount"] for r in base if r["region"] == reg]
        # within one bin width of the exact percentile; the plain
        # measure is exact through the same merge
        assert abs(got[reg]["p50"] - _type1(vals, 0.5)) <= 0.5 + 1e-9
        assert abs(got[reg]["p90"] - _type1(vals, 0.9)) <= 0.5 + 1e-9
        assert got[reg]["total"] == round(
            sum(v for v in vals if v is not None), 4)


def test_percentile_legality_and_validation(spark):
    q = AggQuery(keys=("region",),
                 measures={"p50": ("approx_percentile", "amount", 0.5)})
    # a state built WITHOUT percentile_cols cannot serve the measure
    state = build_state(_sales(spark), ["region"], ["amount"])
    with pytest.raises(ValueError, match="percentile_cols"):
        answer_from_state(state, q)
    with pytest.raises(ValueError, match="q in \\[0,1\\]"):
        AggQuery(keys=(), measures={"p": ("approx_percentile", "amount", 1.5)}
                 ).validate()


@pytest.mark.parametrize("spec, cause", [
    ((0.0, 10.0, 0), "n_bins"),
    ((0.0, 10.0, 513), "n_bins"),
    ((0.0, 10.0, 100_000), "n_bins"),
    ((10.0, 10.0, 8), "hi > lo"),
    ((10.0, 0.0, 8), "hi > lo"),
], ids=["0-bins", "513-bins", "100k-bins", "empty-range", "reversed-range"])
def test_build_state_rejects_histogram_outside_contract(spark, spec, cause):
    """The per-bin sums are one aggregate column each: bin counts are
    capped at 512 and the range must be non-empty, named in the error."""
    with pytest.raises(ValueError, match=f"percentile col amount: .*{cause}"):
        build_state(_sales(spark), ["region"], ["amount"],
                    percentile_cols={"amount": spec})
    build_state(_sales(spark), ["region"], ["amount"],
                percentile_cols={"amount": (0.0, 10.0, 512)})


def test_percentile_tail_clamps_to_observed_extremes(spark):
    # histogram range deliberately misses the data: everything lands in
    # the under/overflow tails, estimates clamp to exact min/max
    pcols = {"v": (0.0, 100.0, 10)}
    df = spark.createDataFrame(
        [(1, -5.0), (1, -3.0), (1, 103.0), (1, 107.0)], "g long, v double"
    )
    q = AggQuery(keys=("g",),
                 measures={"p25": ("approx_percentile", "v", 0.25),
                           "p99": ("approx_percentile", "v", 0.99)})
    state = build_state(df, ["g"], [], percentile_cols=pcols)
    row = answer_from_state(state, q, percentile_cols=pcols).collect()[0]
    assert row["p25"] == -5.0 and row["p99"] == 107.0


def test_percentile_bound_holds_on_gappy_data(spark):
    """Regression: the ≤ one-bin-width contract must hold under the
    estimator's own (type-1) rank convention even when the data is
    GAPPY — values {0.0, 0.1, 16.8, 16.9} with bin width 0.5 put the
    type-1 p50 at 0.1 and p75 at 16.8; an order-statistic-interpolating
    reference would sit at 8.45 and no bin-width bound could hold
    against it."""
    pcols = {"v": (0.0, 17.0, 34)}
    df = spark.createDataFrame(
        [(1, 0.0), (1, 0.1), (1, 16.8), (1, 16.9)], "g long, v double"
    )
    q = AggQuery(keys=("g",),
                 measures={"p50": ("approx_percentile", "v", 0.5),
                           "p75": ("approx_percentile", "v", 0.75)})
    state = build_state(df, ["g"], [], percentile_cols=pcols)
    got = answer_from_state(state, q, percentile_cols=pcols).collect()[0]
    assert abs(got["p50"] - 0.1) <= 0.5 + 1e-9
    assert abs(got["p75"] - 16.8) <= 0.5 + 1e-9
