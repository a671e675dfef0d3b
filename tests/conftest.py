from __future__ import annotations

import os
import re

import pytest

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")

# ---------------------------------------------------------------------------
# Slow-test gate (r10, VERDICT r09 item 1). The suite grew past the
# external driver's pytest budget (~1,100 tests, 50 min measured r10;
# the r9 driver run truncated at ~89% with zero failures and recorded
# tests_ok=false). The default run must finish well inside the budget,
# so every test measured >=10 s in the r10 full-run duration profile
# (/tmp equivalent committed in OPTIMIZATION_r10.md) is skipped by
# default and opted back in with SPARK_GRAFT_SLOW=1 — the same opt-in
# pattern as the sf1 scale-stress suite. Selection principles:
#   * ORACLE-MATCHING gates stay in the default run regardless of cost
#     (test_*_matches_oracle parametrized families) — they are the
#     correctness surface;
#   * the streaming replay, IVF-PQ index-build, and brute-force
#     property long poles move behind the marker: each operator keeps
#     its sub-10 s tests in the default run, and the full equivalence
#     suite runs under SPARK_GRAFT_SLOW=1 (measured: default ~23 min,
#     full ~50 min).
# New tests can self-mark with @pytest.mark.slow instead of joining
# this measured list.
_RUN_SLOW = os.environ.get("SPARK_GRAFT_SLOW") == "1"

_SLOW_TESTS = {
    # test_streaming.py — replay/equivalence long poles (sum ~1,174 s)
    "test_streaming.py::TestStatefulDetector::test_stream_matches_batch_on_engineered_series",
    "test_streaming.py::TestStatefulDetector::test_stream_matches_batch_detector",
    "test_streaming.py::TestSemDeDupIngest::test_dropped_row_still_witnesses",
    "test_streaming.py::TestSemDeDupIngest::test_stream_equals_batch_semdedup",
    "test_streaming.py::TestKCenterIngest::test_deterministic_across_reruns",
    "test_streaming.py::TestKCenterIngest::test_budget_threshold_and_coverage",
    "test_streaming.py::TestKCenterIngest::test_replayed_snapshot_collapses",
    "test_streaming.py::TestKCenterIngest::test_no_overflow_keeps_all_distinct_points",
    "test_streaming.py::TestCcIngest::test_arrival_order_is_irrelevant",
    "test_streaming.py::TestCcIngest::test_stream_equals_batch_cc_with_cross_batch_merge",
    "test_streaming.py::TestCcIngest::test_replayed_batch_is_idempotent",
    "test_streaming.py::TestIvfPqIngest::test_stream_equals_frozen_rebuild",
    "test_streaming.py::TestDedupIngest::test_drop_dups_first_arrival_wins",
    "test_streaming.py::TestDedupIngest::test_stream_matches_full_corpus",
    "test_streaming.py::TestDuelIngest::test_streamed_fit_equals_batch_fit",
    "test_streaming.py::TestDuelIngest::test_replayed_delta_collapses",
    "test_streaming.py::TestEwmaIngest::test_replayed_delta_collapses",
    "test_streaming.py::TestHllIngest::test_stream_equals_batch_registers",
    "test_streaming.py::TestZonemapIngest::test_pruning_is_sound_across_batches",
    "test_streaming.py::TestZonemapIngest::test_compaction_trigger_fires_on_scattered_ranges",
    "test_streaming.py::TestZonemapIngest::test_replayed_delta_collapses",
    "test_streaming.py::TestMgIngest::test_recounted_candidates_equal_batch_answer",
    "test_streaming.py::TestCmsIngest::test_stream_equals_batch_sketch",
    "test_streaming.py::TestScd2Ingest::test_run_spanning_batch_boundary_merges",
    "test_streaming.py::TestScd2Ingest::test_stream_equals_batch_bit_identical",
    "test_streaming.py::TestScd2Ingest::test_replayed_delta_collapses",
    "test_streaming.py::TestCusumIngest::test_alert_spanning_a_batch_boundary",
    "test_streaming.py::TestAttributionIngest::test_touch_in_prior_batch_credits_purchase",
    # test_pq_semdedup.py — IVF-PQ index build/search long poles (~212 s)
    "test_pq_semdedup.py::TestIvfPq::test_add_equals_frozen_rebuild",
    "test_pq_semdedup.py::TestIvfPq::test_residual_recall_at_least_raw",
    "test_pq_semdedup.py::TestIvfPq::test_search_prunes_partitions",
    "test_pq_semdedup.py::TestIvfPq::test_wrong_query_dim_raises",
    "test_pq_semdedup.py::TestIvfPq::test_add_touches_only_landed_partitions",
    "test_pq_semdedup.py::TestIvfPq::test_build_search_recall_and_pruning",
    "test_pq_semdedup.py::TestIvfPqRefined::test_add_appends_raw_lists",
    "test_pq_semdedup.py::TestIvfPqRefined::test_missing_raw_tier_fails_loudly",
    "test_pq_semdedup.py::TestPQ::test_reconstruction_improves_with_ksub",
    "test_pq_semdedup.py::TestPQ::test_adc_top1_is_own_blob",
    # range-join brute-force sweeps (~76 s)
    "test_r5_operators.py::TestBinnedRangeJoin::test_matches_theta_join_any_bin_width",
    "test_r5_operators.py::TestBinnedRangeJoin::test_left_semi_distinct_points",
    "test_r5_operators.py::TestIntervalOverlapJoin::test_matches_naive_overlap",
    # brute-force property sweeps (~66 s)
    "test_properties.py::test_temperature_quotas_hamilton_invariants",
    "test_properties.py::test_ngram_jaccard_matches_bruteforce",
    "test_properties.py::test_hamilton_apportionment_invariants",
    # singletons >=10 s
    "test_driver_contract.py::test_no_oracle_column_renders_float_while_spark_is_integer",
    "test_r5b_operators.py::test_pagerank_dangling_mass_redistributed",
    "test_multimodal.py::test_lsh_ann_recall_sweep_monotone_in_tables",
    "test_cli.py::test_cli_date_range_and_flags",
    "test_llm_corpus.py::test_incremental_dedup_matches_full_corpus",
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: >=10 s test, skipped unless SPARK_GRAFT_SLOW=1 "
        "(driver pytest-budget gate, r10)",
    )


def pytest_collection_modifyitems(config, items):
    if _RUN_SLOW:
        return
    skip = pytest.mark.skip(
        reason="slow (>=10 s measured): opt in with SPARK_GRAFT_SLOW=1"
    )
    for item in items:
        if _slow_key(item.nodeid) in _SLOW_TESTS or "slow" in item.keywords:
            item.add_marker(skip)


def _slow_key(nodeid: str) -> str:
    """``_SLOW_TESTS`` form of a nodeid: file basename + ``::`` + test
    path, parametrization suffix stripped. The nodeid is cwd-relative
    ("tests/test_x.py::..." from the repo root); the parameter id is cut
    BEFORE taking the basename, since an id may itself contain ``/``."""
    path, _, test = re.sub(r"\[.*\]$", "", nodeid).partition("::")
    return f"{os.path.basename(path)}::{test}"


@pytest.fixture(scope="session")
def spark():
    from bloomy_etl_spark import get_spark

    s = get_spark(app_name="bloomy-etl-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()
