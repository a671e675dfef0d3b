"""Plan-shape tests: the 100 TB posture asserted on the physical plan.

These pin the optimizer outcomes the scale story depends on — broadcast
joins for dims, predicate pushdown to the parquet scan, column pruning,
and the absence of cartesian products — so a refactor that silently
regresses a plan fails CI, not the cluster.
"""

from __future__ import annotations

import pytest

from bloomy_etl_spark.operators.relational import QUERIES
from bloomy_etl_spark.plans.explain import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filters,
    plan_string,
)
from tests.conftest import SF_SMOKE


def test_q2_dims_broadcast(spark):
    # nation + region are byte-sized dims: both must broadcast, never shuffle.
    assert_broadcast_join(QUERIES["q2_revenue_by_region"](spark, SF_SMOKE), 2)


def test_q3_part_broadcast_and_filter_pushed(spark):
    df = QUERIES["q3_brand_revenue"](spark, SF_SMOKE)
    assert_broadcast_join(df, 1)
    # p_size < 20 must reach the part scan, not run post-join.
    assert_pushed_filters(df, "LessThan(p_size,20)")


def test_q1_shipdate_filter_pushed(spark):
    assert_pushed_filters(
        QUERIES["q1_pricing_summary"](spark, SF_SMOKE), "LessThanOrEqual(l_shipdate"
    )


def test_q1_column_pruning(spark):
    # The aggregate touches 5 lineitem columns; the scan must not read all 16.
    plan = plan_string(QUERIES["q1_pricing_summary"](spark, SF_SMOKE))
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, f"no ReadSchema line in plan:\n{plan}"
    assert "l_orderkey" not in read_schemas[0], (
        f"unpruned lineitem scan: {read_schemas[0]}"
    )


@pytest.mark.parametrize(
    "name", ["q19_asof_last_order", "q20_interval_join", "q2_revenue_by_region"]
)
def test_join_queries_no_cartesian(spark, name):
    assert_no_cartesian(QUERIES[name](spark, SF_SMOKE))


def _assert_hash_aggs_over_one_pixel_exchange(plan: str) -> None:
    """A formatted plan has exactly one (y, x) pixel exchange, and only
    hash aggregates above it: no Window, no ObjectHashAggregate. Above the
    exchange the merge is a linear chain of aggregates, so every tree line
    before it is one of its ancestors."""
    import re

    ids = re.findall(
        r"^\((\d+)\) Exchange\n.*\nArguments: hashpartitioning\(y#\d+, x#\d+,",
        plan, re.M,
    )
    assert len(ids) == 1, f"expected 1 pixel exchange, found {len(ids)}:\n{plan}"
    tree = plan.split("\n\n")[0].splitlines()[1:]  # after "== Physical Plan =="
    first = next(i for i, ln in enumerate(tree) if ln.endswith(f"Exchange ({ids[0]})"))
    above = tree[:first]
    assert above and all(
        ln.strip("+- :*").startswith("HashAggregate") for ln in above
    ), f"only hash aggregates may sit above the pixel exchange:\n{plan}"


def test_merge_all_single_pixel_exchange(spark):
    """merge_all's two groupBys must share ONE pixel-table exchange: the
    explicit repartition(y, x) hash-clusters a subset of both grouping
    keys, so neither aggregate adds its own shuffle (2 exchanges -> 1,
    the second hop eliminated at any scale). The date-level columns come
    from a broadcast aggregate of the input's timestamps, whose exchange
    moves one partial time set per date and task, not pixels."""
    from bloomy_etl_spark.operators.bloomy_queries import synthetic_pixels
    from bloomy_etl_spark.functions.indices import with_indices, with_masks
    from bloomy_etl_spark.operators.merge import merge_all
    from pyspark.sql import functions as F

    px = (
        with_indices(with_masks(synthetic_pixels(spark, SF_SMOKE)))
        .filter(~F.col("mask"))
        .select("tile_id", "time", "y", "x", "ndvi", "evi")
    )
    plan = plan_string(merge_all(px, track_tiles=False))
    _assert_hash_aggs_over_one_pixel_exchange(plan)


def test_cube_plan_has_no_window_over_merged_pixels(spark, monkeypatch):
    """run_pipeline's cube (the plan its lazy pin checkpoints): one pixel
    exchange, and above it only hash aggregates — no Window and no
    ObjectHashAggregate. The same-day merge's timestamp and granule
    count are computed per date on the kept-granule list and ride the
    broadcast join, so nothing date-level is evaluated per merged
    pixel."""
    from bloomy_etl_spark import pipeline
    from bloomy_etl_spark.operators.bloomy_queries import synthetic_pixels

    pinned = []
    real_pin = pipeline.pin

    def spy(df, eager=True):
        pinned.append(df)
        return real_pin(df, eager)

    monkeypatch.setattr(pipeline, "pin", spy)
    pipeline.run_pipeline(
        synthetic_pixels(spark, SF_SMOKE), detect=False, carry_kept_day_count=True
    )
    # the cube: the last pin run_pipeline makes
    _assert_hash_aggs_over_one_pixel_exchange(plan_string(pinned[-1]))


def test_write_cube_one_file_per_date(spark, tmp_path):
    """write_cube clusters the cube by date before its date-partitioned
    write: each date directory holds exactly one part file, however
    many partitions the cube has."""
    import glob
    import os

    from bloomy_etl_spark.operators.bloomy_queries import synthetic_pixels
    from bloomy_etl_spark.pipeline import run_pipeline
    from bloomy_etl_spark.sinks.writers import write_cube

    cube = run_pipeline(synthetic_pixels(spark, SF_SMOKE), detect=False).cube
    assert cube.rdd.getNumPartitions() > 1
    write_cube(cube, str(tmp_path / "cube"))
    dirs = glob.glob(str(tmp_path / "cube" / "date=*"))
    assert dirs
    counts = {
        os.path.basename(d): len(glob.glob(os.path.join(d, "part-*"))) for d in dirs
    }
    assert set(counts.values()) == {1}, counts


def test_minhash_verify_never_broadcasts_shingle_rows(spark):
    """The minhash verify stage must broadcast ONLY narrow id lists — the
    (i,j) candidate pairs and candidate-id semi-join probe — never a row
    set carrying shingle arrays (a dup storm would then push
    |candidates| x shingle-bytes through the driver; VERDICT r02 item 4).

    With auto-broadcast and AQE disabled, every BroadcastExchange in the
    plan comes from an explicit hint; the formatted plan lists each
    exchange's Input columns, so the invariant is directly checkable: no
    BroadcastExchange input may contain a shingle-array column, and the
    shingle-vs-shingle join on j degrades to a shuffle join."""
    import re

    from bloomy_etl_spark.operators.dedup import minhash_near_dups
    from bloomy_etl_spark.sources.tables import load_table
    from bloomy_etl_spark.plans.explain import plan_string

    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        docs = load_table(spark, SF_SMOKE, "documents")
        plan = plan_string(minhash_near_dups(docs))
        # formatted-plan detail blocks: "(12) BroadcastExchange\nInput [2]: [...]"
        blocks = re.findall(
            r"\(\d+\) BroadcastExchange\nInput \[\d+\]: (\[[^\n]*\])", plan
        )
        assert len(blocks) >= 2, f"hinted broadcasts missing from plan:\n{plan}"
        for cols in blocks:
            assert "sh" not in cols.replace("shuffle", ""), (
                f"shingle-bearing broadcast: {cols}"
            )
        assert "SortMergeJoin" in plan, (
            f"shingle-side join on j should shuffle, not broadcast:\n{plan}"
        )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sessionize_single_exchange(spark):
    """session_summary = window + rollup, both keyed on user_id: the
    rollup's ClusteredDistribution(user, session_seq) is satisfied by the
    window's HashPartitioning(user), so the whole operator is ONE
    exchange — the property that makes sessionization one-shuffle at
    100 TB."""
    from bloomy_etl_spark.operators.corpus import session_summary
    from bloomy_etl_spark.sources.tables import load_table

    df = session_summary(load_table(spark, SF_SMOKE, "events"))
    plan = plan_string(df)
    n_exchange = plan.count(") Exchange")
    assert n_exchange == 1, f"expected 1 exchange, found {n_exchange}:\n{plan}"


def test_decontam_broadcasts_benchmark_only(spark):
    """The corpus-side shingle stream must probe a BROADCAST of the small
    benchmark shingle set — the corpus never shuffles for the join."""
    from pyspark.sql import functions as F

    from bloomy_etl_spark.operators.corpus import contamination_hits
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    df = contamination_hits(docs, F.col("doc_id") % 97 == 0)
    assert_broadcast_join(df, 1)
    assert_no_cartesian(df)


def test_assign_split_is_shuffle_free(spark):
    """Split assignment is a pure map-side expression: zero exchanges."""
    from bloomy_etl_spark.operators.corpus import assign_split
    from bloomy_etl_spark.sources.tables import load_table

    plan = plan_string(assign_split(load_table(spark, SF_SMOKE, "documents")))
    assert ") Exchange" not in plan, f"unexpected shuffle:\n{plan}"


def test_pack_sequences_single_exchange(spark):
    """Packing = one window (partition by lang) + a rollup on (lang,
    bin_id) that reuses the window's partitioning: one exchange total."""
    from bloomy_etl_spark.operators.corpus import pack_sequences
    from bloomy_etl_spark.sources.tables import load_table

    plan = plan_string(pack_sequences(load_table(spark, SF_SMOKE, "documents")))
    n_exchange = plan.count(") Exchange")
    assert n_exchange == 1, f"expected 1 exchange, found {n_exchange}:\n{plan}"


def test_pack_sequences_sharded_partitions_by_lang_and_shard(spark):
    """With n_shards the single exchange hash-partitions on BOTH lang and
    the salted shard key — the property that restores parallelism on a
    dominant language (VERDICT r3 item 3): still one exchange, but its
    key has n_shards× the cardinality."""
    from bloomy_etl_spark.operators.corpus import pack_sequences
    from bloomy_etl_spark.sources.tables import load_table

    plan = plan_string(
        pack_sequences(load_table(spark, SF_SMOKE, "documents"), n_shards=8)
    )
    assert plan.count(") Exchange") == 1, plan
    import re

    m = re.search(r"hashpartitioning\(([^)]*)\)", plan)
    assert m, plan
    key = m.group(1)
    assert "lang" in key and "shard" in key, key


def test_domain_cap_single_exchange(spark):
    """Exact domain capping = one window shuffle keyed by the domain —
    no join, no second exchange."""
    from bloomy_etl_spark.operators.corpus import domain_cap
    from bloomy_etl_spark.sources.tables import load_table

    plan = plan_string(domain_cap(load_table(spark, SF_SMOKE, "documents"), cap=5))
    assert plan.count(") Exchange") == 1, plan


def test_new_pair_operators_no_cartesian(spark):
    """Shared-span pairs and the bigram-LM join stay keyed (inverted
    index / count join) — a cartesian anywhere here is fatal at scale."""
    from bloomy_etl_spark.operators.corpus import bigram_lm_score
    from bloomy_etl_spark.operators.dedup import shared_span_pairs
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    assert_no_cartesian(shared_span_pairs(docs, span=8))
    assert_no_cartesian(bigram_lm_score(docs))
    # span pairing: postings agg + bucket_pairs respread + pair rollup —
    # bounded exchange count, independent of corpus size
    assert plan_string(shared_span_pairs(docs, span=8)).count(") Exchange") <= 3


def test_cms_build_single_bounded_exchange(spark):
    """Sketch building is ONE aggregation whose shuffle volume is the
    sketch size (d·w cells), not the key cardinality — the property that
    makes it a 100 TB frequency oracle."""
    from bloomy_etl_spark.functions.text import tokens as _toks
    from bloomy_etl_spark.operators.sketches import cms_build
    from bloomy_etl_spark.sources.tables import load_table

    import pyspark.sql.functions as _F

    words = load_table(spark, SF_SMOKE, "documents").select(
        _F.explode(_toks(_F.col("text"))).alias("w")
    )
    plan = plan_string(cms_build(words, "w"))
    assert plan.count(") Exchange") == 1, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_mixture_and_blend_broadcast_rate_table(spark):
    """The per-group rate tables (a handful of rows) must broadcast back
    onto the corpus — never a sort-merge shuffle of the doc table."""
    from bloomy_etl_spark.operators.corpus import blend_to_target, mixture_sample
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    for df in (
        mixture_sample(docs, group_col="lang"),
        blend_to_target(docs, {"en": 0.4, "de": 0.6}, group_col="lang"),
    ):
        assert_broadcast_join(df, 1)
        assert_no_cartesian(df)
        assert "SortMergeJoin" not in plan_string(df)


def test_chunking_is_shuffle_free(spark):
    """Chunk explosion is a pure map-side sequence+explode."""
    from bloomy_etl_spark.operators.corpus import chunk_documents
    from bloomy_etl_spark.sources.tables import load_table

    plan = plan_string(
        chunk_documents(load_table(spark, SF_SMOKE, "documents"))
    )
    assert ") Exchange" not in plan, f"unexpected shuffle:\n{plan}"


def test_vocab_audit_plan_shapes(spark):
    """Bounded vocab (v ≤ 4096): the audit is join-free — one scan with
    an in-row IN-list, nothing but the final group agg shuffles. Large
    vocab: the broadcast-join path remains (corpus side never shuffles
    for the join)."""
    from bloomy_etl_spark.operators.corpus import vocab_coverage
    from bloomy_etl_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    fast = vocab_coverage(docs, v=16)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert_no_cartesian(fast)

    big = vocab_coverage(docs, v=5000)
    assert_broadcast_join(big, 1)
    assert_no_cartesian(big)


def test_kmeans_assignment_is_map_side(spark):
    """Cluster assignment ships centroids as literals: the scored plan
    has no join and no exchange before the summary aggregate."""
    from bloomy_etl_spark.operators.clustering import assign_clusters
    from bloomy_etl_spark.sources.tables import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings")
    cents = [[0.0] * 64, [1.0] * 64]
    plan = plan_string(assign_clusters(embs, cents))
    assert ") Exchange" not in plan, f"unexpected shuffle:\n{plan}"
    assert "Join" not in plan


def test_binned_range_join_query_is_equi_not_nested_loop(spark):
    """q70's declared form: the pure range predicate must plan as a
    bin-keyed equi join — BroadcastNestedLoopJoin/CartesianProduct in
    this plan is exactly the 100 TB cliff the operator exists to avoid."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q70_binned_range_join"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_salted_join_query_shuffles_on_composite_key(spark):
    """q71's declared form under the operator's own contract (small side
    too big to broadcast, forced via threshold=-1): a shuffle join whose
    keys include the salt — that composite key IS the skew spread. (At
    fixture scale with default confs Catalyst broadcasts the tiny side,
    which is also correct — the contract case is what's pinned.)"""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_string(ENGINE_QUERIES["q71_salted_join"](spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p)
    assert "__salt" in p, "join keys must include the salt"


def test_quality_suite_query_single_scan(spark):
    """q72: six constraints, ONE scan of orders in the optimized plan."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    df = ENGINE_QUERIES["q72_quality_suite"](spark, SF_SMOKE)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("Relation") == 1


def test_bloom_prefilter_is_map_side(spark):
    """The Bloom probe must run in the scan stage — the prefiltered big
    side contains a python-UDF filter and ZERO exchanges, so composed
    with a downstream join the pruning happens before any shuffle."""
    from pyspark.sql import functions as F

    from bloomy_etl_spark.operators.joins import bloom_semi_join

    big = spark.range(0, 10000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    small = spark.range(0, 100, 10).select(F.col("id").alias("k"))
    plan = plan_string(bloom_semi_join(big, small, "k", prefilter_only=True))
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan, plan
    assert "Exchange" not in plan, f"bloom prefilter must not shuffle:\n{plan}"


def test_kmv_build_bounded_collect_list(spark):
    """kmv_build must rank-limit BEFORE collect_list: the aggregate that
    builds the array consumes at most k rows per group (the window
    filter), never the group's whole distinct set."""
    from pyspark.sql import functions as F

    from bloomy_etl_spark.operators.sketches import kmv_build

    df = spark.range(0, 5000).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("item")
    )
    plan = plan_string(kmv_build(df, ["g"], "item", k=32))
    # Window (rank+filter) must appear below the final aggregate
    assert "Window" in plan, plan
    i_agg = plan.find("ObjectHashAggregate")
    if i_agg == -1:
        i_agg = plan.find("SortAggregate")
    assert i_agg != -1, plan


def test_triangle_query_all_joins_are_equi(spark):
    """q141: every join in the triangle pipeline (degree attach, wedge
    self-join, closing-edge probe) must be an equi join — a nested-loop
    anywhere here is the all-pairs cliff the degree orientation exists
    to avoid."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q141_triangle_parts"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ewma_query_single_user_shuffle(spark):
    """q142: one user-keyed exchange for the fold (plus the
    presentation sort) — no joins, no windows, nothing global."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q142_ewma_baseline"](spark, SF_SMOKE))
    assert "Join" not in p
    # hashpartitioning exchange for the groupBy + rangepartitioning for
    # the presentation sort — and nothing else
    assert p.count("Exchange (") <= 2


def test_repetition_and_entropy_plans_are_agg_only(spark):
    """q137/q138: explode → two agg stages; no joins or windows (the
    doc-grain rollup reads everything off the gram/char exchange)."""
    from bloomy_etl_spark.operators.llm_queries import LLM_QUERIES

    for name in ("q137_gopher_repetition", "q138_char_entropy"):
        p = plan_string(LLM_QUERIES[name](spark, SF_SMOKE))
        assert "Join" not in p, name
        assert "Window" not in p, name


def test_lpa_round_plans_stay_bounded_and_equi(spark):
    """q145: LPA's per-round lineage is cut by session.pin, so the
    FINAL plan must not grow with rounds (it reads the last pinned
    round), and no round may degenerate to a nested-loop join."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q145_supplier_communities"](
        spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    # the last round: nbr join + (node,label) agg + node window — the
    # pinned scan means earlier rounds contribute NO operators here
    assert p.count("Window") <= 1


def test_mg_query_shuffles_candidates_not_domain(spark):
    """q146: the recount joins a BROADCAST candidate set (bounded by
    partitions × capacity) — the full user domain must never be the
    build side of a shuffle join, and no cartesian anywhere (the 1-row
    total attaches via broadcast)."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q146_mg_frequent_users"](
        spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_sequence_pattern_single_user_shuffle(spark):
    """q147: one user-keyed exchange builds the code strings; the
    regex scan is a per-row projection — no joins, no windows."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q147_sequence_pattern"](
        spark, SF_SMOKE))
    assert "Join" not in p
    assert "Window" not in p
    assert p.count("Exchange (") <= 2


# ---------------------------------------------------------------------------
# r9 optimization pins: the recomputation/scan cuts measured in
# OPTIMIZATION_r09.md must not silently regress
# ---------------------------------------------------------------------------


def test_q167_boundary_explode_no_union(spark):
    """q167: +1/−1 boundary events explode in-row from the session
    frame — the two-branch union evaluated the sessionize window chain
    once per branch (and its two consumers doubled that again)."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q167_peak_concurrency"](
        spark, SF_SMOKE))
    assert "Union" not in p, p


def test_q171_split_computed_in_row(spark):
    """q171: split bands are a pure hash of the id computed ON the pair
    list — the join-backs to the documents table are gone, so exactly
    the two fingerprint-pass scans of ngram_jaccard_pairs remain."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q171_split_leakage"](spark, SF_SMOKE))
    assert p.count("(1) Scan parquet") + p.count("Scan parquet  (") <= 2, p


def test_q100_single_scan_sliced_sketches(spark):
    """q100: the two disjoint half-corpus sketches build from ONE orders
    scan (slice id as a sketch key, dropped before the merge)."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q100_hist_quantiles"](spark, SF_SMOKE))
    assert p.count("Scan parquet  (") == 1, p


def test_q91_centroids_without_dim_explosion(spark):
    """q91: per-dim centroid means come from one label-keyed hash-agg
    (64 sum slots + a shared count), not a posexplode into d× rows —
    no Generate node may appear below the centroid aggregate."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q91_centroid_label_audit"](
        spark, SF_SMOKE))
    assert "posexplode" not in p, p


def test_split_of_matches_assign_split(spark):
    """corpus.split_of (the bare-Column split band q171 computes in-row)
    must equal assign_split's attached column for any id set."""
    from pyspark.sql import functions as F

    from bloomy_etl_spark.operators.corpus import assign_split, split_of

    ids = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    via_assign = assign_split(ids, train_pct=60, val_pct=20)
    via_col = ids.withColumn(
        "split2", split_of("doc_id", train_pct=60, val_pct=20)
    )
    joined = via_assign.join(via_col, "doc_id")
    assert joined.filter(F.col("split") != F.col("split2")).count() == 0
    # all three bands must be populated at this id range (the guard has
    # teeth only if the split actually varies)
    assert via_assign.select("split").distinct().count() == 3


def test_q32_single_simhash_pass(spark):
    """q32: the pinned fingerprint groups are the only simhash build —
    no parquet scan may remain in the final plan (the one scan lives in
    the checkpoint-build job; before the pin, column pruning gave the
    fp_pairs consumer its own text-only scan and a SECOND full simhash
    fold)."""
    from bloomy_etl_spark.operators.llm_queries import LLM_QUERIES

    p = plan_string(LLM_QUERIES["q32_simhash_neardups"](spark, SF_SMOKE))
    assert p.count("Scan parquet  (") == 0, p
    assert "ExistingRDD" in p, p


def test_q143_skyline_single_tokenize(spark):
    """q143: skyline_2d's two consumers (distinct-x agg + probe side)
    read the pinned 3-int64 scored frame — tokenize runs once, no
    parquet scan remains in the final plan."""
    from bloomy_etl_spark.operators.engine_queries import ENGINE_QUERIES

    p = plan_string(ENGINE_QUERIES["q143_pareto_frontier"](spark, SF_SMOKE))
    assert p.count("Scan parquet  (") == 0, p
    assert "ExistingRDD" in p, p


def test_q157_labels_ride_the_ranking(spark):
    """q157: labels and the per-query relevant-total ride through
    cosine_topk in-row (q_keep/c_keep) — at most 3 embedding scans
    (corpus, query slice, label counts), no post-ranking label joins."""
    from bloomy_etl_spark.operators.ann_queries import ANN_QUERIES

    p = plan_string(
        ANN_QUERIES["q157_judged_retrieval_quality"](spark, SF_SMOKE))
    assert p.count("Scan parquet  (") <= 3, p


def test_q126_hamming_reads_pinned_packed(spark):
    """q126: both Hamming legs read ONE pinned packed projection
    (vec_id + two sign words); only the exact-truth side still scans
    the embeddings parquet (twice: corpus + query slice)."""
    from bloomy_etl_spark.operators.ann_queries import ANN_QUERIES

    p = plan_string(ANN_QUERIES["q126_ann_recall"](spark, SF_SMOKE))
    assert p.count("Scan parquet  (") == 2, p
    assert "ExistingRDD" in p, p


def test_pin_publishes_upstream_observations(spark):
    """session.pin publishes every Observation upstream of it: an eager
    pin with the computed metrics, a lazy pin at once with NULLs that
    filling the checkpoint does not replace."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from bloomy_etl_spark.session import pin

    eager = Observation("eager_pin")
    pin(spark.range(100).observe(eager, F.sum("id").alias("s")))
    assert eager.get["s"] == 4950
    lazy = Observation("lazy_pin")
    pinned = pin(spark.range(100).observe(lazy, F.sum("id").alias("s")),
                 eager=False)
    assert lazy.get["s"] is None
    assert pinned.count() == 100 and lazy.get["s"] is None
