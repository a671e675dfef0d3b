"""Declarative data-quality constraints compiled to ONE aggregate pass.

A training-data pipeline gates every ingest batch on invariants (keys
unique, required fields present, values in range/vocabulary) — at 100 TB
the naive one-query-per-check approach re-scans the corpus once per
constraint. Here every constraint contributes aggregate EXPRESSIONS to a
single ``agg`` over one scan (the Deequ design, rebuilt on plain
DataFrame aggregates): N constraints = 1 job, 1 pass, partial aggregation
map-side like any hash aggregate.

Each constraint is a plain dict ``{name, metric: Column, ok: Column}``
where ``metric`` is an aggregate expression (violation count / fraction)
and ``ok`` is the pass predicate over the computed metrics. The report
is a tidy long-format DataFrame ``(constraint, metric, passed)`` — the
wide single-row aggregate is unpivoted in-row with ``stack``.

Referential checks (``subset_of``) necessarily touch a second table —
they run as a broadcast-friendly anti-join count and union into the same
report (one extra job per FK, not per constraint).

Verified value-exact against a DuckDB oracle replaying every metric
(t2:q72) plus unit edge cases.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

Constraint = dict  # {name: str, metric: Column, ok: Column}


def not_null(col: str, max_null_fraction: float = 0.0) -> Constraint:
    """Fraction of NULLs in ``col`` must be <= ``max_null_fraction``."""
    frac = (F.count(F.lit(1)) - F.count(col)) / F.count(F.lit(1))
    return {
        "name": f"not_null({col})",
        "metric": F.round(frac, 6),
        "ok": frac <= max_null_fraction,
    }


def unique(*cols: str) -> Constraint:
    """No two rows share the same non-null ``cols`` tuple. Metric =
    surplus rows (count minus distinct count over rows where all key
    parts are non-null; NULL keys are not comparable, mirroring SQL
    UNIQUE)."""
    all_set = F.expr(" AND ".join(f"{c} IS NOT NULL" for c in cols))
    n = F.count(F.when(all_set, 1))
    surplus = (n - F.count_distinct(*[F.col(c) for c in cols])).cast("double")
    return {
        "name": f"unique({','.join(cols)})",
        "metric": surplus,
        "ok": surplus == 0,
    }


def in_range(col: str, lo: float, hi: float) -> Constraint:
    """Count of non-null values outside [lo, hi] must be 0."""
    bad = F.count(F.when((F.col(col) < lo) | (F.col(col) > hi), 1)).cast("double")
    return {"name": f"in_range({col},{lo},{hi})", "metric": bad, "ok": bad == 0}


def matches(col: str, regex: str) -> Constraint:
    """Count of non-null values NOT matching ``regex`` must be 0.
    Use RE2-portable patterns (no backrefs) so the same regex runs
    everywhere."""
    bad = F.count(
        F.when(F.col(col).isNotNull() & ~F.col(col).rlike(regex), 1)
    ).cast("double")
    return {"name": f"matches({col})", "metric": bad, "ok": bad == 0}


def accepted_values(col: str, values: list) -> Constraint:
    """Count of non-null values outside the accepted set must be 0."""
    bad = F.count(
        F.when(F.col(col).isNotNull() & ~F.col(col).isin(values), 1)
    ).cast("double")
    return {
        "name": f"accepted_values({col})",
        "metric": bad,
        "ok": bad == 0,
    }


def non_negative(col: str) -> Constraint:
    bad = F.count(F.when(F.col(col) < 0, 1)).cast("double")
    return {"name": f"non_negative({col})", "metric": bad, "ok": bad == 0}


def check_constraints(df: DataFrame, constraints: list[Constraint]) -> DataFrame:
    """Evaluate every constraint in ONE aggregate pass over ``df``.

    Returns ``(constraint string, metric double, passed boolean)``, one
    row per constraint, ordered by constraint name. All metrics and
    pass predicates evaluate inside a single ``agg`` — adding a
    constraint adds expressions, never a scan.
    """
    if not constraints:
        raise ValueError("no constraints given")
    names = [c["name"] for c in constraints]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate constraint names in {names}")
    aggs = []
    for i, c in enumerate(constraints):
        aggs.append(c["metric"].cast("double").alias(f"__m{i}"))
        aggs.append(c["ok"].alias(f"__p{i}"))
    wide = df.agg(*aggs)
    # in-row unpivot: stack(n, name0, m0, p0, name1, m1, p1, ...).
    # Names are embedded as SQL string literals — escape quotes so a
    # custom constraint named e.g. accepted_values(col=['a'])
    # cannot break the stack expression.
    def _q(name: str) -> str:
        return "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"

    parts = ", ".join(
        f"{_q(c['name'])}, __m{i}, __p{i}" for i, c in enumerate(constraints)
    )
    return (
        wide.selectExpr(
            f"stack({len(constraints)}, {parts}) AS (constraint, metric, passed)"
        )
        .orderBy("constraint")
    )


def k_anonymity(df: DataFrame, quasi_cols: list[str], k: int) -> DataFrame:
    """Equivalence-class audit for k-anonymity: one row per distinct
    quasi-identifier combination with its class size ``n`` and
    ``anonymous = n >= k``.

    The release-gate question for any dataset carrying quasi-identifiers
    (location × segment × banded numeric is the classic trio): a record
    in a class smaller than k is re-identifiable by joining public
    attributes. One hash aggregate on the quasi-identifier key — the
    same shape and cost as any groupBy count, so it runs as a cheap
    pre-release gate at full corpus scale. Band continuous columns
    FIRST (``floor(x / width)``) — raw continuous values make every
    class a singleton and the audit vacuous.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not quasi_cols:
        raise ValueError("no quasi-identifier columns given")
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("anonymous", F.col("n") >= k)


def k_anonymity_summary(classes: DataFrame, by: str) -> DataFrame:
    """Roll the per-class audit up to a release report per ``by``:
    class count, violating classes, records at risk, smallest class."""
    return classes.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.count(F.when(~F.col("anonymous"), 1)).alias("n_violating"),
        F.coalesce(
            F.sum(F.when(~F.col("anonymous"), F.col("n"))), F.lit(0)
        ).cast("bigint").alias("n_at_risk"),
        F.min("n").alias("min_class_size"),
    )


def subset_of(df: DataFrame, col: str, ref: DataFrame, ref_col: str,
              name: str | None = None) -> DataFrame:
    """Referential-integrity report row: every non-null ``df.col`` value
    must exist in ``ref.ref_col``. One broadcast-friendly anti-join
    count (the ref side is typically a dimension — Catalyst broadcasts
    it under the threshold; at scale pre-aggregate ``ref`` to distinct
    keys first, which this does)."""
    keys = ref.select(F.col(ref_col).alias(col)).dropDuplicates()
    orphans = (
        df.select(col).filter(F.col(col).isNotNull()).join(keys, on=col, how="left_anti")
    )
    label = name or f"subset_of({col})"
    return orphans.agg(
        F.lit(label).alias("constraint"),
        F.count(F.lit(1)).cast("double").alias("metric"),
        (F.count(F.lit(1)) == 0).alias("passed"),
    )


def skew_profile(df: DataFrame, key_col: str, topk: int = 10,
                 scale: int = 1_000_000) -> DataFrame:
    """Key-skew diagnostics — the pre-flight check before keying a
    shuffle on ``key_col`` at scale: the top-``topk`` hottest keys with
    their exact quantized share of rows, plus the corpus-wide
    concentration constants every row carries:

    - ``n_rows`` / ``n_keys`` — totals;
    - ``hhi_e6`` — Herfindahl–Hirschman index ``floor(scale·Σc²/N²)``
      (1/K for uniform keys → ``scale`` for one mega-key), the single
      number that says "salt this join or don't";
    - ``top_share_e6`` — the hottest key's share.

    All arithmetic is exact: the squared/scaled products run in
    DECIMAL(38,0) (int64 would wrap silently under the session's
    non-ANSI mode once ``scale·Σc²`` passes ~9·10¹⁸ — a few hundred
    million rows — exactly the at-scale regime this tool exists for);
    the quantized quotients are integers ≤ ``scale``, so the decimal
    divisions round nothing. Exact for corpora to ~10¹⁵ rows (beyond
    that ``scale·Σc²`` leaves DECIMAL(38)'s range).

    Shape: ONE key-grain hash-agg (map-side combinable), one 4-value
    global aggregate over the key frame, and a ``topk``-row
    TakeOrdered — no global sort window, no key-frame join back, so
    the profiler itself never becomes the skew problem it measures.

    Returns ``topk`` rows: ``(rank, key, c, share_e6, n_rows, n_keys,
    hhi_e6, top_share_e6)``.
    """
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return _skew_from_counts(counts, topk, scale)


def _skew_from_counts(counts: DataFrame, topk: int,
                      scale: int = 1_000_000) -> DataFrame:
    """:func:`skew_profile`'s arithmetic over a pre-aggregated
    ``(key, c)`` frame — split out so the overflow envelope is testable
    with synthetic billion-row counts no fixture could materialize."""
    dc = F.col("c").cast("decimal(19,0)")
    glob = counts.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(dc * dc).alias("sum_c2"),  # decimal(38,0): never wraps
        F.max("c").alias("max_c"),
    )
    top = counts.orderBy(F.col("c").desc(), F.col("key").asc()).limit(topk)
    w = Window.orderBy(F.col("c").desc(), F.col("key").asc())
    s = F.lit(scale).cast("decimal(8,0)")
    num_share = s * F.col("c").cast("decimal(19,0)")
    num_hhi = s * F.col("sum_c2")
    num_top = s * F.col("max_c").cast("decimal(19,0)")
    nr = F.col("n_rows").cast("decimal(19,0)")
    n2 = nr * nr
    return (
        top.join(F.broadcast(glob), F.lit(True))
        .select(
            F.row_number().over(w).alias("rank"),
            "key", "c",
            ((num_share - num_share % nr) / nr)
            .cast("long").alias("share_e6"),
            "n_rows", "n_keys",
            ((num_hhi - num_hhi % n2) / n2).cast("long").alias("hhi_e6"),
            ((num_top - num_top % nr) / nr)
            .cast("long").alias("top_share_e6"),
        )
    )


def calibration_bins(df: DataFrame, score_col: str, label_col: str,
                     bins: int = 10, scale: int = 1_000_000) -> DataFrame:
    """Reliability-diagram audit of a quality score against outcomes —
    the check that a [0, ``scale``] quality score actually MEANS what a
    filtering threshold assumes: bin rows by fixed-width score bins and
    report, per bin, the exact count, floor-quantized mean score, and
    floor-quantized positive rate. A calibrated scorer has
    ``mean_score_e6 ≈ pos_rate_e6`` per bin; a divergent tail says the
    gate keeps (or drops) the wrong mass.

    ``score_col`` must be an integer score in [0, scale] (the repo's
    quantization discipline — q120's logreg, q28's quality proxy);
    ``label_col`` a boolean. One hash-agg keyed by the ≤``bins`` bin
    ids; everything exact int64, so the audit replays bit-identically.

    Returns ≤``bins`` rows: ``(bin, n, mean_score_e6, pos_rate_e6)``.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    b = F.least(
        F.lit(bins - 1),
        ((F.col(score_col) * bins - (F.col(score_col) * bins) % scale)
         / scale).cast("long"),
    )
    num = F.lit(scale) * F.sum(F.col(label_col).cast("long"))
    ssum = F.sum(F.col(score_col))
    n = F.count(F.lit(1))
    return (
        df.groupBy(b.alias("bin"))
        .agg(
            n.alias("n"),
            ((ssum - ssum % n) / n).cast("long").alias("mean_score_e6"),
            ((num - num % n) / n).cast("long").alias("pos_rate_e6"),
        )
    )
