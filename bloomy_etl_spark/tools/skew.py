"""Join-key skew diagnostics: measure before you salt.

``operators/joins.py::salted_join`` fixes a hot key — this tool finds
it and sizes the fix.  One aggregation pass (map-side combine means the
shuffle carries per-partition partial counts, not rows), TakeOrdered
for the hitter list, everything else is arithmetic on O(top) rows.

The recommendation mirrors what an engineer reads off the Spark UI:
a key whose row share exceeds several average task shares will
straggle its task; ``n_salts`` is sized so the hottest key spreads to
roughly average-task granularity, capped to the task count (more
salts than tasks buys nothing and multiplies the small side's
replication in ``salted_join``).

The task count is the one the advised join's shuffle is planned with,
not the number of cores: ``spark.sql.shuffle.partitions``, or, when AQE
and its partition coalescing are on and
``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` is set,
that value (Spark plans the shuffle with it, and the session module
names it as the way to size shuffles at scale). AQE may still coalesce
the shuffle to fewer tasks at run time; the report uses the planned
count."""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["key_skew_report"]


def _planned_shuffle_tasks(spark) -> int:
    """Partition count Spark plans a shuffle with (its
    ``SQLConf.numShufflePartitions``): AQE's ``initialPartitionNum`` when
    AQE and coalescing are both on and it is set, else
    ``spark.sql.shuffle.partitions``."""
    conf = spark.conf
    initial = conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", None
    )
    if (
        initial is not None
        and conf.get("spark.sql.adaptive.enabled", "true").lower() == "true"
        and conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        ).lower() == "true"
    ):
        return int(initial)
    return int(conf.get("spark.sql.shuffle.partitions"))


def key_skew_report(
    df: DataFrame,
    key_cols: Sequence[str],
    *,
    top: int = 10,
    straggler_factor: float = 4.0,
    broadcast_rows: int = 1_000_000,
) -> dict:
    """Skew profile of ``key_cols`` as join keys.

    Returns ``{n_rows, n_keys, avg_per_key, top: [{key, n, share}…],
    max_share, skew_factor, recommendation: {strategy, n_salts}}``.

    ``skew_factor`` = hottest key's rows ÷ average rows per shuffle
    task, where the shuffle runs the planned task count of
    :func:`_planned_shuffle_tasks` (``spark.sql.shuffle.partitions``,
    or AQE's ``initialPartitionNum`` when that is set and in effect).
    Strategy: ``"broadcast"`` when the whole table fits the broadcast
    bound (skew is then irrelevant), ``"salt"`` when the hottest key
    would straggle (factor > ``straggler_factor``) with
    ``n_salts = ceil(factor)`` capped at that task count, else
    ``"none"``.
    """
    keys = list(key_cols)
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    stats = counts.agg(
        F.sum("n").alias("rows"),
        F.count(F.lit(1)).alias("keys"),
        F.max("n").alias("mx"),
    ).first()
    n_rows, n_keys, mx = stats["rows"] or 0, stats["keys"], stats["mx"] or 0
    hitters = [
        {
            "key": tuple(r[k] for k in keys),
            "n": r["n"],
            "share": (r["n"] / n_rows) if n_rows else 0.0,
        }
        for r in counts.orderBy(F.col("n").desc(), *keys).take(top)
    ]
    tasks = _planned_shuffle_tasks(df.sparkSession)
    avg_task = n_rows / tasks if n_rows else 0.0
    skew_factor = (mx / avg_task) if avg_task else 0.0
    if n_rows and n_rows < broadcast_rows:
        rec = {"strategy": "broadcast", "n_salts": 1}
    elif skew_factor > straggler_factor:
        rec = {
            "strategy": "salt",
            "n_salts": min(tasks, math.ceil(skew_factor)),
        }
    else:
        rec = {"strategy": "none", "n_salts": 1}
    return {
        "n_rows": n_rows,
        "n_keys": n_keys,
        "avg_per_key": (n_rows / n_keys) if n_keys else 0.0,
        "top": hitters,
        "max_share": (mx / n_rows) if n_rows else 0.0,
        "skew_factor": skew_factor,
        "recommendation": rec,
    }
