"""Incremental aggregate maintenance: mergeable per-group partial states.

At 100 TB you do not recompute yesterday's rollup because today's data
arrived — you keep per-group PARTIAL STATES (count, sum, min, max,
sum-of-squares) that merge associatively, fold each new batch into the
store, and finalize (avg / stddev) only at read time. This is exactly
the map-side-combine contract Spark's own hash aggregate uses
internally, exposed as a durable table the pipeline owns — the same
durable-state posture as the per-batch stores of ``streaming/ingest.py``.

Algebra: states form a commutative monoid under ``merge_states`` (sum
the sums, min the mins, …), so batch order, batching granularity, and
replay-with-dedup all compose. ``stddev`` finalizes from
``sumsq − sum²/n`` — the one-pass form; adequate at double precision for
real metric ranges, and value-exact against the DuckDB oracle at the
declared rounding (t2:q73). For extreme-magnitude data keep groups
narrow or shift values first (documented tradeoff).

API:
  ``partial_states(df, keys, col)``   one batch → per-group state
  ``merge_states(*states)``           any number of state tables → one
  ``finalize(state)``                 state → (count, sum, min, max,
                                      avg, stddev_pop)
  ``incremental_store(...)``          append batches to parquet, read
                                      current rollup (compact with
                                      ``sinks.layout.compact``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATE_COLS = ("n", "s", "mn", "mx", "ssq")


def partial_states(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """One batch → per-group mergeable state over measure ``col``.
    NULL measures are skipped (SQL aggregate semantics): they count
    toward no component, so a group of all-NULLs has n=0."""
    c = F.col(col)
    return df.groupBy(*keys).agg(
        F.count(c).alias("n"),
        F.sum(c).cast("double").alias("s"),
        F.min(c).cast("double").alias("mn"),
        F.max(c).cast("double").alias("mx"),
        F.sum(c * c).cast("double").alias("ssq"),
    )


def merge_states(*states: DataFrame) -> DataFrame:
    """Fold any number of state tables into one (monoid reduce). A key
    appearing in several inputs merges component-wise; ``s``/``ssq``
    sums treat a state's NULL (all-NULL group) as absent."""
    if not states:
        raise ValueError("no states given")
    u = states[0]
    for st in states[1:]:
        u = u.unionByName(st)
    keys = [c for c in u.columns if c not in STATE_COLS]
    return u.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("ssq").alias("ssq"),
    )


def finalize(state: DataFrame, round_dp: int = 4) -> DataFrame:
    """State → presentation aggregates. ``stddev_pop`` from the one-pass
    identity; n=0 groups (all-NULL measures) yield NULL avg/stddev like
    plain SQL. ``greatest(…, 0)`` clamps the tiny negative residue
    floating-point cancellation can leave where variance is ~0."""
    keys = [c for c in state.columns if c not in STATE_COLS]
    n, s, ssq = F.col("n"), F.col("s"), F.col("ssq")
    var = F.greatest(ssq / n - (s / n) * (s / n), F.lit(0.0))
    return state.select(
        *keys,
        n.alias("count"),
        F.round(s, round_dp).alias("sum"),
        F.round("mn", round_dp).alias("min"),
        F.round("mx", round_dp).alias("max"),
        F.round(F.when(n > 0, s / n), round_dp).alias("avg"),
        F.round(F.when(n > 0, F.sqrt(var)), round_dp).alias("stddev_pop"),
    )


def incremental_store(store_dir: str):
    """Durable rollup store: ``append(batch_states, batch_id)`` writes a
    batch's states with provenance; ``current(spark)`` reads the merged
    state (one partial-agg pass over the store — compact periodically).
    batch_id makes at-least-once replays detectable and reversible
    (delete-by-batch_id), matching the ``streaming/ingest.py`` stores."""

    class _Store:
        def append(self, states: DataFrame, batch_id: int) -> None:
            states.withColumn("batch_id", F.lit(int(batch_id))).write.mode(
                "append"
            ).parquet(store_dir)

        def current(self, spark, exclude_batch_ids: tuple[int, ...] = ()) -> DataFrame:
            """Merged state over the store. ``exclude_batch_ids`` is the
            replay-rollback lever: a batch appended twice (at-least-once
            delivery) or appended in error is reversed by excluding its
            id — the monoid has no subtraction, so reversal is
            exclusion, applied as a parquet-pushed filter."""
            raw = spark.read.parquet(store_dir)
            if exclude_batch_ids:
                raw = raw.filter(
                    ~F.col("batch_id").isin([int(b) for b in exclude_batch_ids])
                )
            return merge_states(raw.drop("batch_id"))

    return _Store()
