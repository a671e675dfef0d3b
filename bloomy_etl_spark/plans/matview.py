"""Mergeable aggregate states and the rewrite that answers from them.

The algebra behind materialized aggregate views: keep an aggregate at a
fine grain as PARTIAL STATES and answer any query AT OR ABOVE that grain
from them instead of the base table (q87). It is the mergeable-state
monoid of ``operators/incremental.py`` (count / sum / min / max /
sum-of-squares per measure, plus HLL registers and histogram bins),
generalized to multiple measures and wired to a rewrite rule.

* The state stores PARTIAL STATES, not finalized values — so any coarser
  grouping re-aggregates exactly (``avg``/``stddev_pop`` finalize from
  merged sums; finalized averages could not be re-averaged).
* Rewrite legality is static: a query is answerable iff its group keys
  ⊆ state keys, its filter columns ⊆ state keys (filters on grouped-out
  columns would need base rows), and its measures derive from stored
  states. The rewritten plan scans ``|groups|`` rows instead of
  ``|base|``.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["AggQuery", "build_state", "answer_from_state"]

_FNS = frozenset(
    {"count_rows", "count", "sum", "min", "max", "avg", "stddev_pop",
     "approx_count_distinct", "approx_percentile"}
)
# codegen bound for the inline per-bin sum expressions in build_state
_MAX_PCTL_BINS = 512
_OPS = {
    "=": lambda c, v: c == v,
    "!=": lambda c, v: c != v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "in": lambda c, v: c.isin(list(v)),
}


@dataclass(frozen=True)
class AggQuery:
    """Declarative aggregate query: GROUP BY ``keys``, computing
    ``measures`` (out_name → (fn, col); col None for ``count_rows``;
    fn ``approx_count_distinct`` needs the col in the view's
    ``approx_distinct_cols`` — served from the mergeable HLL sketch;
    fn ``approx_percentile`` is the 3-tuple (fn, col, q) and needs the
    col in the view's ``percentile_cols`` — served from the mergeable
    histogram state with value error ≤ one bin width), under
    conjunctive ``filters`` ((col, op, value), op ∈ = != < <= > >=
    in).  The spec form is what makes rewrite legality checkable."""

    keys: tuple[str, ...]
    measures: dict[str, tuple]
    filters: tuple[tuple[str, str, object], ...] = field(default_factory=tuple)

    def validate(self) -> None:
        for out, m in self.measures.items():
            fn, col, q = _mfc(m)
            if fn not in _FNS:
                raise ValueError(f"measure {out}: unknown fn {fn!r}")
            if (col is None) != (fn == "count_rows"):
                raise ValueError(f"measure {out}: col must be set iff fn"
                                 " is not count_rows")
            if fn == "approx_percentile":
                if q is None or not 0.0 <= q <= 1.0:
                    raise ValueError(f"measure {out}: approx_percentile "
                                     f"needs (fn, col, q) with q in [0,1]")
            elif len(m) != 2:
                raise ValueError(f"measure {out}: {fn} takes (fn, col)")
        for col, op, _ in self.filters:
            if op not in _OPS:
                raise ValueError(f"filter on {col}: unknown op {op!r}")


def _mfc(m: tuple) -> tuple[str, str | None, float | None]:
    """Normalize a measure tuple: (fn, col) or (fn, col, q) → (fn, col, q)."""
    return (m[0], m[1], m[2] if len(m) > 2 else None)


def _sc(prefix: str, col: str) -> str:
    return f"{prefix}__{col}"


def build_state(df: DataFrame, keys: Sequence[str],
                 measure_cols: Sequence[str],
                 approx_distinct_cols: Sequence[str] = (),
                 percentile_cols: dict[str, Sequence[float]] | None = None,
                 ) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("nr")]
    for c in measure_cols:
        cc = F.col(c)
        aggs += [
            F.count(cc).alias(_sc("n", c)),
            F.sum(cc).cast("double").alias(_sc("s", c)),
            F.min(cc).cast("double").alias(_sc("mn", c)),
            F.max(cc).cast("double").alias(_sc("mx", c)),
            F.sum(cc * cc).cast("double").alias(_sc("ssq", c)),
        ]
    # distinct counts are the one measure plain sums cannot re-aggregate
    # (distinct-of-parts ≠ sum of parts): store a mergeable DataSketches
    # HLL per group instead — union-at-read gives coarser grains and
    # batch merges the right answer to ~1%
    for c in approx_distinct_cols:
        aggs.append(F.hll_sketch_agg(F.col(c)).alias(_sc("hll", c)))
    # quantiles are the OTHER non-reaggregable measure (median-of-parts
    # ≠ median, and percentile_approx state isn't storable): keep a
    # mergeable equi-width histogram per group (operators/sketches.py
    # semantics — exact under/overflow tails, observed min/max). Inline
    # per-bin conditional sums keep the whole state ONE aggregation.
    for c, (lo, hi, nb) in (percentile_cols or {}).items():
        from bloomy_etl_spark.operators.sketches import hist_bin_col

        lo, hi, nb = float(lo), float(hi), int(nb)
        if not hi > lo:
            raise ValueError(f"percentile col {c}: need hi > lo")
        if not 1 <= nb <= _MAX_PCTL_BINS:
            raise ValueError(
                f"percentile col {c}: n_bins must be in [1, {_MAX_PCTL_BINS}]")
        v = F.col(c).cast("double")
        b = hist_bin_col(v, lo, hi, nb)
        one = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
        aggs += [
            F.array(*[F.sum(F.when(b == i, one).otherwise(zero))
                      for i in range(nb)]).alias(_sc("ph", c)),
            F.sum(F.when(b == -1, one).otherwise(zero)).alias(_sc("phu", c)),
            F.sum(F.when(b == nb, one).otherwise(zero)).alias(_sc("pho", c)),
            F.min(v).alias(_sc("pmn", c)),
            F.max(v).alias(_sc("pmx", c)),
            F.count(v).alias(_sc("pn", c)),
        ]
    return df.groupBy(*keys).agg(*aggs)


def _merge_state(state: DataFrame, keys: Sequence[str],
                 measure_cols: Sequence[str],
                 approx_distinct_cols: Sequence[str] = (),
                 percentile_cols: dict[str, Sequence[float]] | None = None,
                 ) -> DataFrame:
    aggs = [F.sum("nr").alias("nr")]
    for c in measure_cols:
        aggs += [
            F.sum(_sc("n", c)).alias(_sc("n", c)),
            F.sum(_sc("s", c)).alias(_sc("s", c)),
            F.min(_sc("mn", c)).alias(_sc("mn", c)),
            F.max(_sc("mx", c)).alias(_sc("mx", c)),
            F.sum(_sc("ssq", c)).alias(_sc("ssq", c)),
        ]
    for c in approx_distinct_cols:
        aggs.append(F.hll_union_agg(_sc("hll", c)).alias(_sc("hll", c)))
    pcols = list((percentile_cols or {}))
    for c in pcols:
        aggs += [
            F.collect_list(_sc("ph", c)).alias(_sc("phl", c)),
            F.sum(_sc("phu", c)).alias(_sc("phu", c)),
            F.sum(_sc("pho", c)).alias(_sc("pho", c)),
            F.min(_sc("pmn", c)).alias(_sc("pmn", c)),
            F.max(_sc("pmx", c)).alias(_sc("pmx", c)),
            F.sum(_sc("pn", c)).alias(_sc("pn", c)),
        ]
    merged = state.groupBy(*keys).agg(*aggs)
    for c in pcols:  # element-wise fold of the collected per-batch arrays
        lst = F.col(_sc("phl", c))
        fold = F.aggregate(
            lst,
            F.transform(F.element_at(lst, 1), lambda x: F.lit(0).cast("long")),
            lambda acc, h: F.zip_with(acc, h, lambda a, b2: a + b2),
        )
        merged = merged.withColumn(_sc("ph", c), fold).drop(_sc("phl", c))
    return merged


def _apply_filters(df: DataFrame, q: AggQuery) -> DataFrame:
    for col, op, val in q.filters:
        df = df.filter(_OPS[op](F.col(col), val))
    return df


def _finalize_measures(q: AggQuery, round_dp: int,
                       percentile_cols: dict | None = None) -> list[Column]:
    from bloomy_etl_spark.operators.sketches import hist_est_col

    out = []
    for name, m in q.measures.items():
        fn, col, qq = _mfc(m)
        if fn == "count_rows":
            e: Column = F.col("nr")
        elif fn == "approx_count_distinct":
            e = F.round(F.hll_sketch_estimate(_sc("hll", col))).cast("long")
        elif fn == "approx_percentile":
            if not percentile_cols or col not in percentile_cols:
                raise ValueError(f"measure {name}: no histogram state "
                                 f"config for column {col!r}")
            lo, hi, _nb = percentile_cols[col]
            e = F.round(
                hist_est_col(
                    qq, F.col(_sc("ph", col)), F.col(_sc("phcum", col)),
                    F.col(_sc("phu", col)), F.col(_sc("pho", col)),
                    F.col(_sc("pmn", col)), F.col(_sc("pmx", col)),
                    F.col(_sc("pn", col)), float(lo), float(hi),
                ),
                round_dp,
            )
        else:
            n, s = F.col(_sc("n", col)), F.col(_sc("s", col))
            if fn == "count":
                e = n
            elif fn == "sum":
                e = F.round(s, round_dp)
            elif fn == "min":
                e = F.round(_sc("mn", col), round_dp)
            elif fn == "max":
                e = F.round(_sc("mx", col), round_dp)
            elif fn == "avg":
                e = F.round(F.when(n > 0, s / n), round_dp)
            else:  # stddev_pop — clamp the ~0-variance negative residue
                ssq = F.col(_sc("ssq", col))
                var = F.greatest(ssq / n - (s / n) * (s / n), F.lit(0.0))
                e = F.round(F.when(n > 0, F.sqrt(var)), round_dp)
        out.append(e.alias(name))
    return out


def _measure_col_sets(q: AggQuery):
    plain, approx, pctl = set(), set(), set()
    for m in q.measures.values():
        fn, col, _ = _mfc(m)
        if fn == "approx_count_distinct":
            approx.add(col)
        elif fn == "approx_percentile":
            pctl.add(col)
        elif col is not None:
            plain.add(col)
    return sorted(plain), sorted(approx), sorted(pctl)


def answer_from_state(state: DataFrame, q: AggQuery, *,
                      round_dp: int = 4,
                      percentile_cols: dict | None = None) -> DataFrame:
    """Rewrite ``q`` against an in-memory/loaded state table at a finer
    grain: filter states, merge to the query grain, finalize. The
    fine-grain state may come from ``build_state`` or from anywhere
    else that stores the same columns (a streaming store, a
    shuffle-stage byproduct).
    ``percentile_cols`` (col → (lo, hi, n_bins)) is required iff the
    query has ``approx_percentile`` measures — it is the state's
    histogram contract, the one ``build_state`` was given."""
    from bloomy_etl_spark.operators.sketches import hist_cum_col

    q.validate()
    plain, approx, pctl = _measure_col_sets(q)
    missing = [c for c in pctl if c not in (percentile_cols or {})]
    if missing:
        raise ValueError("approx_percentile measures need percentile_cols "
                         f"entries for: {missing}")
    merged = _merge_state(
        _apply_filters(state, q), q.keys, plain, approx,
        {c: percentile_cols[c] for c in pctl} if pctl else None,
    )
    for c in pctl:  # precompute the cumulative walk once per group
        merged = merged.withColumn(
            _sc("phcum", c), hist_cum_col(F.col(_sc("ph", c)))
        )
    return merged.select(
        *q.keys, *_finalize_measures(q, round_dp, percentile_cols)
    )
