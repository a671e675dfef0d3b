"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` maps every implemented operator to a (spark, sf_dir) ->
DataFrame callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL for
the t2 correctness gate.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from bloomy_etl_spark.operators.ann_queries import ANN_ORACLE_SQL, ANN_QUERIES
from bloomy_etl_spark.operators.bloomy_queries import BLOOMY_ORACLE_SQL, BLOOMY_QUERIES
from bloomy_etl_spark.operators.engine_queries import (
    ENGINE_ORACLE_SQL,
    ENGINE_QUERIES,
)
from bloomy_etl_spark.operators.llm_queries import LLM_ORACLE_SQL, LLM_QUERIES
from bloomy_etl_spark.operators.relational import ORACLE_SQL, QUERIES

ALL_QUERIES = {**QUERIES, **BLOOMY_QUERIES, **LLM_QUERIES, **ENGINE_QUERIES,
               **ANN_QUERIES}
ALL_ORACLES = {**ORACLE_SQL, **BLOOMY_ORACLE_SQL, **LLM_ORACLE_SQL,
               **ENGINE_ORACLE_SQL, **ANN_ORACLE_SQL}

# The external driver's correctness pass checks the FIRST 50 entries of
# queries() in insertion order (every CORRECTNESS_r*.json records exactly
# the first 50). With more declared queries than that window, order
# decides which get a driver-green row. Rotation policy (data-driven
# since r6): read
# every CORRECTNESS_r*.json, compute each query's most-recent green
# round, and put least-recently-verified first — never-verified queries
# sort as round 0 and always lead. This self-rotates every round without
# hand-maintained lists.


def _last_green_round(repo_dir: str | None = None) -> dict[str, int]:
    """Most recent round in which each query had a green driver row.

    Green = rows_match, no err, and hash_match not explicitly false
    (hash_match may be ABSENT for the weaker rows-only check on
    non-SQL-expressible ops — that still counts; an explicit
    ``hash_match: false`` is a red row and must NOT count, or a
    hash-red query sorts as recently-verified and rotates OUT of the
    window its fix needs — exactly what q114 hit in r8→r9).
    """
    import glob
    import json
    import os
    import re

    repo = repo_dir or os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if (isinstance(row, dict) and row.get("rows_match")
                    and row.get("err") is None
                    and row.get("hash_match") is not False):
                last[name] = max(last.get(name, 0), rnd)
    return last


# Queries whose implementation changed in an optimization round AFTER
# their most recent driver-green row (VERDICT r09 item 9): their green
# status rests on builder self-runs until the driver re-verifies them,
# so they must front the 50-entry window ahead of the plain LRV order.
# Value = the round that touched them; the boost self-expires once a
# CORRECTNESS_r*.json at or after that round records them green.
_TOUCHED_IN_ROUND: dict[str, int] = {
    # r9 optimization commits; last driver-green r6–r8 (pre-touch)
    "q82_supplier_pagerank": 9,
    "q91_centroid_label_audit": 9,
    "q100_hist_quantiles": 9,
    "q111_jl_projection_topk": 9,
    "q126_ann_recall": 9,
    # r10 optimization touches
    "q133_novelty_profile": 10,
    # r11: run_pipeline pins the merged cube (plan gains a checkpoint)
    "q38_bloomy_end_to_end": 11,
    # r12: literal/identifier SQL text moved into functions/sqltext
    # (k-means, PQ, LSH, k-center, power iteration), simhash's fold
    # rendered as SQL, keep_best_per_cluster's id-type guard; this also
    # registers the 2955556 construction rewrites that were never listed
    "q32_simhash_neardups": 12,
    "q34_embedding_neardups": 12,
    "q36_ann_lsh_topk": 12,
    "q52_embedding_quantization": 12,
    "q54_kmeans_clusters": 12,
    "q101_pq_codes": 12,
    "q102_pq_adc_topk": 12,
    "q103_semdedup_kept": 12,
    "q105_embedding_covariance": 12,
    "q108_top_eigenvector": 12,
    "q128_keep_best_survivors": 12,
    "q139_kcenter_coreset": 12,
    # r13: built artifacts (IVF-PQ indexes, the GDPR scratch table, the
    # stream replays) moved onto session.artifact's per-process root;
    # the eight replays share _replay_state
    "q104_ivfpq_topk": 13,
    "q106_ivfpq_residual_topk": 13,
    "q107_ivfpq_refined_topk": 13,
    "q131_gdpr_delete": 13,
    "q144_streaming_ewma_state": 13,
    "q148_streaming_cluster_state": 13,
    "q153_streaming_cusum_state": 13,
    "q156_streaming_scd2_state": 13,
    "q158_streaming_leaderboard": 13,
    "q161_streaming_zonemaps": 13,
    "q165_streaming_attribution": 13,
    "q173_streaming_engagement": 13,
}


def _driver_order(names) -> list[str]:
    last = _last_green_round()
    # stable sort: queries touched after their last green round first,
    # then least-recently-verified, ties broken by the original
    # declaration order so q1..qN stay in numeric order within a cohort
    pos = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (
            0 if last.get(n, 0) < _TOUCHED_IN_ROUND.get(n, 0) else 1,
            last.get(n, 0),
            pos[n],
        ),
    )

_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``bloomy_etl_spark`` importable on executor Python workers.

    The external driver creates its own SparkSession from an arbitrary
    cwd; pandas-UDF closures (mapInPandas decode, stateful detectors)
    pickle module references that workers must re-import. Shipping the
    package once per SparkContext via ``addPyFile`` covers any driver
    environment — equivalent to ``--py-files`` on a real cluster submit.
    """
    import os
    import tempfile
    import zipfile

    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED:
        return
    base = os.path.dirname(os.path.abspath(__file__))
    pkg = os.path.join(base, "bloomy_etl_spark")
    zpath = os.path.join(tempfile.gettempdir(), "bloomy_etl_spark_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, base))
    sc.addPyFile(zpath)
    _SHIPPED.add(key)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q1 pricing summary) on /root/testdata/sf0.001."""
    _ship_package(spark)
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    order = _driver_order(list(ALL_QUERIES))
    return {name: _wrap(ALL_QUERIES[name]) for name in order}


def oracle_sql() -> dict[str, str]:
    order = _driver_order(list(ALL_ORACLES))
    return {name: ALL_ORACLES[name] for name in order}
