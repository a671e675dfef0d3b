"""Streaming ingests over durable per-batch stores.

Each ingest is ONE Structured Streaming query whose ``foreachBatch``
folds a micro-batch into a parquet store that outlives the query: the
integer EWMA, CUSUM, SCD2, duel-count, zone-map, attribution,
active-user and connected-component states that the stream replays
q144–q173 read back, plus DSIR scoring against a frozen model. The
reference's batched imperative ingest (``/root/reference/core/
pipeline.py:98-124``) maps to the same shape: a replayable source,
per-batch processing, durable state between batches.

Why ``foreachBatch`` rather than a stateful operator: the state must
outlive the streaming query, be shared with batch jobs, and be readable
by the next run — a parquet table IS that state.
``applyInPandasWithState`` state is checkpoint-private and per-key.

Delivery: every ingest runs through :func:`_run_batches` (availableNow
trigger, checkpointed progress). foreachBatch is at-least-once — a
restarted query re-delivers its last uncommitted batch under the same
``batch_id``, and a batch that fails mid-append can leave partial files.
So :func:`_append` tags every store row with its ``batch_id``, a batch
reads prior state from every batch but its own, and :func:`_latest`
takes each key's row from its highest ``batch_id``: a replay re-appends
identical rows, which collapse on read.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bloomy_etl_spark.session import pin


def _run_batches(stream: DataFrame, checkpoint_dir: str, fn):
    """Start ``stream`` with ``fn(batch, batch_id)`` run on each
    micro-batch until the backlog present at start is consumed, its
    progress checkpointed in ``checkpoint_dir``; returns the running
    ``StreamingQuery``."""
    return (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _append(df: DataFrame, batch_id: int, path: str) -> None:
    """Append ``df`` to the store at ``path``, each row tagged with its
    ``batch_id`` as a LONG."""
    df.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
        "append"
    ).parquet(path)


def _latest(df: DataFrame, keys: list[str]) -> DataFrame:
    """Each ``keys`` group's row from its highest ``batch_id``. Replayed
    copies of a batch are identical, so which copy is kept is moot."""
    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """The parquet store at ``path``, or an empty frame of the DDL
    ``schema`` while there is no state yet: no directory, or one holding
    no ``part-*`` file (what a crash before the first commit leaves).

    Decided from the filesystem, not by reading and catching the
    failure: a store that exists but is corrupt must fail the batch
    loudly (deduping against an empty history would admit known
    duplicates and never record it)."""
    if not glob.glob(os.path.join(path, "part-*")):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(path)


def streaming_dsir_ingest(
    docs_stream: DataFrame,
    weights: DataFrame,
    score_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming DSIR quality scoring: score every micro-batch of
    documents against a FROZEN importance model
    (:func:`bloomy_etl_spark.operators.corpus.dsir_weights` — train
    once on the reference corpus, then rank arriving data forever) and
    append ``(id, n_grams, score, batch_id)`` to a durable store.

    Because the model is frozen and per-document scores are exact
    integers with no cross-document state, the streaming contract is
    exact: the store equals batch :func:`dsir_score` over the union of
    all batches, row-for-row, in ANY arrival order (unlike the
    SemDeDup ingest, which needs monotone ids). An at-least-once
    replay re-appends identical rows tagged with the same ``batch_id``;
    :func:`read_dsir_store` collapses them.

    Scale: per-batch work is one in-row scoring pass against the
    broadcast O(B) weight row — no shuffle at all; the store grows by
    |batch| rows per batch.
    """
    from bloomy_etl_spark.operators.corpus import dsir_score

    w = pin(weights)  # freeze: one tiny row, never re-derived per batch

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        _append(dsir_score(batch, w, text_col=text_col, id_col=id_col),
                batch_id, score_dir)

    return _run_batches(docs_stream, checkpoint_dir, process_batch)


def read_dsir_store(spark: SparkSession, score_dir: str,
                    id_col: str = "doc_id") -> DataFrame:
    """The scored corpus from the streaming store, replay-collapsed:
    duplicate ``(batch_id, id)`` rows from an at-least-once re-append
    are identical by determinism of the frozen model — keep one."""
    return (
        spark.read.parquet(score_dir)
        .groupBy("batch_id", id_col)
        .agg(F.max("n_grams").alias("n_grams"), F.max("score").alias("score"))
        .select(id_col, "n_grams", "score")
    )


def streaming_ewma_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    alpha_den: int = 4,
    key_col: str = "user_id",
    ts_col: str = "eus",
    order_col: str = "event_id",
    val_col: str = "v",
):
    """Incremental per-key EWMA
    (:func:`bloomy_etl_spark.operators.timeseries.ewma_last` on a
    stream): the live smoothing baseline. The integer recurrence
    ``s ← ((αd−1)·s + v) div αd`` composes EXACTLY across batches —
    folding batch B from batch A's final state equals folding A∥B —
    so under the ordered-arrival contract (event time per key is
    monotone across micro-batches, the SemDeDup ingest's contract)
    the streaming state is BIT-IDENTICAL to the batch operator over
    the union, and the equivalence test pins that, not an
    approximation.

    Per batch: one key-keyed fold over the batch's sorted in-row
    arrays, initialized from each key's stored accumulator (a
    broadcast-sized left join against the latest state). The store is
    an append-only per-batch delta ``(key, n_obs, last_v, ewma,
    batch_id)``; the reader takes each key's row from its latest
    batch. At-least-once replays recompute from every other batch and
    append identical rows, which that pick collapses.
    """
    from bloomy_etl_spark.operators.timeseries import ewma_last

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        stored = _read_or_empty(
            batch.sparkSession, state_dir,
            f"{key_col} long, n_obs long, last_v long, ewma long, "
            "batch_id long",
        )
        prior = _latest(
            stored.filter(F.col("batch_id") != batch_id), [key_col]
        ).select(key_col, F.col("n_obs").alias("__pn"),
                 F.col("ewma").alias("__ps"))
        seq = batch.groupBy(key_col).agg(
            F.array_sort(
                F.collect_list(F.struct(ts_col, order_col, val_col))
            ).alias("__seq")
        )
        m = F.lit(alpha_den - 1).cast("long")
        d = F.lit(alpha_den).cast("long")

        def _step(acc, e):
            v = e[val_col]
            num = m * acc + v
            return F.when(acc < 0, v).otherwise(
                ((num - num % d) / d).cast("long")
            )

        init = F.coalesce(F.col("__ps"), F.lit(-1).cast("long"))
        out = seq.join(prior, key_col, "left").select(
            key_col,
            (F.coalesce(F.col("__pn"), F.lit(0))
             + F.size("__seq")).cast("long").alias("n_obs"),
            F.element_at(F.col("__seq"), -1)[val_col].alias("last_v"),
            F.aggregate(F.col("__seq"), init, _step).alias("ewma"),
        )
        _append(out, batch_id, state_dir)

    return _run_batches(events_stream, checkpoint_dir, process_batch)


def read_ewma_state(spark: SparkSession, state_dir: str,
                    key_col: str = "user_id") -> DataFrame:
    """Each key's latest ``(key, n_obs, last_v, ewma)`` from the
    delta store."""
    return _latest(spark.read.parquet(state_dir), [key_col]).select(
        key_col, "n_obs", "last_v", "ewma"
    )


def streaming_cusum_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    drift: int = 700_000,
    threshold: int = 3_000_000,
    enc: int = 10 ** 12,
    key_col: str = "user_id",
    ts_col: str = "eus",
    order_col: str = "event_id",
    val_col: str = "v",
):
    """Live CUSUM burst monitoring
    (:func:`bloomy_etl_spark.operators.timeseries.cusum_alerts` on a
    stream): per-key alert counts and the residual accumulator stay
    current as events arrive — the use-case CUSUM exists for.  The
    packed-int64 recurrence composes EXACTLY across batches (folding
    batch B from A's final packed state equals folding A∥B — the
    recurrence only ever reads the running state), so under the
    ordered-arrival contract the streaming state is BIT-IDENTICAL to
    the batch operator over the union; the equivalence test pins that.

    Per batch: one key-keyed fold over the batch's sorted in-row
    arrays, seeded from each key's stored ``n_alerts·enc + resid``.
    Durable store/replay semantics are the EWMA ingest's: append-only
    per-batch deltas, the reader takes each key's latest batch, replays
    rewrite identical rows.
    """
    if threshold >= enc:
        raise ValueError("threshold must be < enc (state packing)")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        stored = _read_or_empty(
            batch.sparkSession, state_dir,
            f"{key_col} long, n_obs long, n_alerts long, resid long, "
            "batch_id long",
        )
        prior = _latest(
            stored.filter(F.col("batch_id") != batch_id), [key_col]
        ).select(
            key_col,
            F.col("n_obs").alias("__pn"),
            (F.col("n_alerts") * F.lit(enc) + F.col("resid")).alias("__ps"),
        )
        seq = batch.groupBy(key_col).agg(
            F.array_sort(
                F.collect_list(F.struct(ts_col, order_col, val_col))
            ).alias("__seq")
        )
        k = F.lit(drift).cast("long")
        h = F.lit(threshold).cast("long")
        m = F.lit(enc).cast("long")

        def _step(acc, e):
            s = acc % m
            t = F.greatest(s + e[val_col] - k, F.lit(0).cast("long"))
            return F.when(t >= h, acc - s + m).otherwise(acc - s + t)

        init = F.coalesce(F.col("__ps"), F.lit(0).cast("long"))
        state = F.aggregate(F.col("__seq"), init, _step)
        out = (
            seq.join(prior, key_col, "left")
            .select(
                key_col,
                (F.coalesce(F.col("__pn"), F.lit(0))
                 + F.size("__seq")).cast("long").alias("n_obs"),
                state.alias("__st"),
            )
            .select(
                key_col,
                "n_obs",
                F.expr(f"__st DIV CAST({enc} AS BIGINT)").alias("n_alerts"),
                (F.col("__st") % F.lit(enc)).alias("resid"),
            )
        )
        _append(out, batch_id, state_dir)

    return _run_batches(events_stream, checkpoint_dir, process_batch)


def read_cusum_state(spark: SparkSession, state_dir: str,
                     key_col: str = "user_id") -> DataFrame:
    """Each key's latest ``(key, n_obs, n_alerts, resid)`` from the
    delta store."""
    return _latest(spark.read.parquet(state_dir), [key_col]).select(
        key_col, "n_obs", "n_alerts", "resid"
    )


def streaming_scd2_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    ts_col: str = "eus",
    order_col: str = "event_id",
    attr_col: str = "state",
):
    """Live SCD2 dimension maintenance
    (:func:`bloomy_etl_spark.operators.history.scd2_compact` on a
    stream): validity intervals stay current as the change log
    arrives, without ever re-reading prior log history.  Each batch
    compacts ITSELF (the batch operator), then merges against each
    key's OPEN run only: same attribute across the boundary → the
    open run extends (the case independent per-batch compaction gets
    wrong); different → the open run closes at the batch's first
    timestamp and versions continue from it.  Under ordered arrival
    the reader's view is BIT-IDENTICAL to ``scd2_compact`` over the
    full log — the equivalence test pins that.

    Store: append-only run rows keyed (key, version, batch_id);
    closed historical runs are never rewritten — a batch appends only
    its own runs plus at most one closing update per key.  Replays
    append identical rows; the reader collapses per (key, version) by
    latest batch.
    """
    from bloomy_etl_spark.operators.history import scd2_compact

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        stored = _read_or_empty(
            batch.sparkSession, state_dir,
            f"{key_col} long, version long, {attr_col} string, "
            "valid_from long, valid_to long, n_rows long, batch_id long",
        )
        prior = _latest(
            stored.filter(F.col("batch_id") != batch_id),
            [key_col, "version"],
        )
        open_run = prior.filter(F.col("valid_to").isNull()).select(
            key_col,
            F.col("version").alias("__over"),
            F.col(attr_col).alias("__ostate"),
            F.col("valid_from").alias("__ofrom"),
            F.col("n_rows").alias("__on"),
        )
        bruns = scd2_compact(
            batch, key_col=key_col, ts_col=ts_col,
            order_col=order_col, attr_col=attr_col,
        ).withColumnRenamed("version", "__bver")
        first = bruns.filter(F.col("__bver") == 1).join(
            open_run, key_col, "left"
        )
        merged = F.col("__ostate") == F.col(attr_col)
        offs = first.select(
            key_col,
            F.when(F.col("__over").isNull(), F.lit(0).cast("long"))
            .when(merged, F.col("__over") - 1)
            .otherwise(F.col("__over"))
            .alias("__off"),
            F.coalesce(merged, F.lit(False)).alias("__merged"),
            F.col("__ofrom"),
            F.col("__on"),
            F.col("__over"),
            F.col("valid_from").alias("__bfrom"),
            F.col("__ostate"),
        )
        is_m1 = (F.col("__bver") == 1) & F.col("__merged")
        out_runs = bruns.join(offs, key_col).select(
            F.col(key_col),
            (F.col("__bver") + F.col("__off")).cast("long").alias("version"),
            F.col(attr_col),
            F.when(is_m1, F.col("__ofrom"))
            .otherwise(F.col("valid_from")).alias("valid_from"),
            F.col("valid_to"),
            F.when(is_m1, F.col("__on") + F.col("n_rows"))
            .otherwise(F.col("n_rows")).cast("long").alias("n_rows"),
        )
        closed = offs.filter(
            (~F.col("__merged")) & F.col("__over").isNotNull()
        ).select(
            F.col(key_col),
            F.col("__over").cast("long").alias("version"),
            F.col("__ostate").alias(attr_col),
            F.col("__ofrom").alias("valid_from"),
            F.col("__bfrom").alias("valid_to"),
            F.col("__on").cast("long").alias("n_rows"),
        )
        _append(out_runs.unionByName(closed), batch_id, state_dir)

    return _run_batches(events_stream, checkpoint_dir, process_batch)


def read_scd2_state(spark: SparkSession, state_dir: str,
                    key_col: str = "user_id") -> DataFrame:
    """The current interval table from the run store: latest row per
    (key, version)."""
    return _latest(
        spark.read.parquet(state_dir), [key_col, "version"]
    ).drop("batch_id")


def streaming_duel_ingest(
    duels_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    winner: str = "winner",
    loser: str = "loser",
):
    """Live preference-leaderboard maintenance: duel outcomes stream
    in, the durable state is the directional count table
    (:func:`bloomy_etl_spark.operators.preference.duel_counts` per
    batch, appended as deltas), and the leaderboard is re-fit on read
    with ``bradley_terry_from_counts`` over the merged counts.  Counts
    are plain sums — CONFLUENT, so arrival order is provably
    irrelevant (the q148 connected-components argument) and the
    streamed fit is bit-identical to the batch fit over the union by
    construction; the equivalence test still pins it end-to-end.

    Per-batch cost is one hash-agg of the batch + an append; the fit
    itself runs on the item-pair table at read time (bounded by the
    item domain, not by duel history).  Replays append identical
    deltas; the reader collapses per (batch_id, i, j).
    """
    from bloomy_etl_spark.operators.preference import duel_counts

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        _append(duel_counts(batch, winner, loser), batch_id, state_dir)

    return _run_batches(duels_stream, checkpoint_dir, process_batch)


def read_duel_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged directional counts from the delta store — replay
    duplicates collapse per (batch_id, i, j) before summation."""
    st = spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", "i", "j"]
    )
    return st.groupBy("i", "j").agg(F.sum("n").cast("long").alias("n"))


def streaming_zonemap_ingest(
    rows_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    x_col: str = "xb",
    y_col: str = "yb",
    order_col: str = "event_id",
    rows_per_file: int = 500,
    bits: int = 8,
):
    """Incremental data-layout maintenance: between OPTIMIZE runs a
    lake keeps ingesting — each micro-batch gets its OWN Z-ordered
    file set (``operators/zorder.py``), and the durable state is the
    zone-map index over every file written so far.  Readers prune with
    the same min/max tests as after a full rewrite; what degrades with
    batch count is only HOW MANY files overlap a predicate (batches
    overlap in z-space), which is exactly the signal
    :func:`compaction_candidates` turns into an OPTIMIZE trigger —
    the real lakehouse write path, end to end.

    Per batch: one batch-local exact z-rank (the two-phase scan) + one
    file-grain agg; the appended state is O(files), never row grain.
    Zone maps of disjoint batches are independent, so replays append
    identical rows and the reader collapses per (batch_id, file_id).
    """

    from bloomy_etl_spark.operators.zorder import zone_maps, zorder_files

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        laid = zorder_files(
            batch, x_col, y_col, order_col,
            bits=bits, rows_per_file=rows_per_file,
        )
        _append(zone_maps(laid, x_col, y_col), batch_id, state_dir)

    return _run_batches(rows_stream, checkpoint_dir, process_batch)


def read_zonemap_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live zone-map index: one row per (batch_id, file_id),
    replay duplicates collapsed."""
    return spark.read.parquet(state_dir).dropDuplicates(
        ["batch_id", "file_id"]
    )


def compaction_candidates(zonemaps: DataFrame, min_files: int = 2,
                          bits: int = 8) -> DataFrame:
    """Z-ranges whose data is scattered across ≥ ``min_files`` files —
    the OPTIMIZE trigger: a query touching that range opens every one
    of them, so co-locating the range pays.  Ranges are the aligned
    256-wide z-blocks (``z >> 8`` at the default bits); the candidate
    list is range-grain, tiny by construction."""
    zr = zonemaps.select(
        F.col("batch_id"), F.col("file_id"),
        F.shiftright(F.col("z_min"), bits).alias("r_lo"),
        F.shiftright(F.col("z_max"), bits).alias("r_hi"),
    ).select(
        "batch_id", "file_id",
        F.explode(F.sequence("r_lo", "r_hi")).alias("z_range"),
    )
    return (
        zr.groupBy("z_range")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"))
        .filter(F.col("n_files") >= min_files)
    )


def streaming_attribution_ingest(
    events_stream: DataFrame,
    facts_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    lookback_us: int = 7 * 86_400_000_000,
):
    """Streaming FACT ENRICHMENT (a different ingest shape from the
    state-fold family): purchases are attributed to the user's most
    recent view/click AS THEY ARRIVE — q162's packed-MAX LOCF run per
    batch, seeded from each user's durable last-touch state.  Because
    the packed value ``eus·10+code`` is MONOTONE under ordered
    arrival, the cross-batch merge is a plain ``greatest`` with the
    stored state — so the emitted fact stream is BIT-IDENTICAL to the
    batch attribution over the union, and an emitted fact is final
    (never revised), which is what makes it safe to feed downstream
    aggregates incrementally.

    Two durable stores: an append-only attributed-purchase FACT log
    (collapse per (batch_id, purchase_id) on read) and a per-user
    last-touch state delta (latest batch wins — the touch value is
    monotone, so replays and late reads agree).
    """

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        prior = (
            _read_or_empty(batch.sparkSession, state_dir,
                           "user_id long, lt long, batch_id long")
            .filter(F.col("batch_id") != batch_id)
            .groupBy("user_id")
            .agg(F.max("lt").alias("__plt"))
        )
        code = (
            F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .otherwise(None)
            .cast("long")
        )
        w = Window.partitionBy("user_id").orderBy(
            F.col("eus").asc(), F.col("event_id").asc()
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tagged = (
            batch.withColumn("__blt", F.max(F.col("eus") * 10 + code).over(w))
            .join(prior, "user_id", "left")
            .withColumn("__lt", F.greatest("__blt", "__plt"))
        )
        t_eus = F.expr("__lt DIV 10")
        in_w = F.col("__lt").isNotNull() & (
            F.col("eus") - t_eus <= F.lit(lookback_us)
        )
        facts = tagged.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("eus").alias("purchase_eus"),
            F.when(in_w, t_eus).alias("touch_eus"),
            F.when(
                in_w,
                F.when(F.col("__lt") % 10 == 2, "click").otherwise("view"),
            ).otherwise("direct").alias("channel"),
            F.when(in_w, F.col("eus") - t_eus).cast("long").alias("lag_us"),
        )
        _append(facts, batch_id, facts_dir)
        _append(tagged.groupBy("user_id").agg(F.max("__lt").alias("lt")),
                batch_id, state_dir)

    return _run_batches(events_stream, checkpoint_dir, process_batch)


def read_attributed_facts(spark: SparkSession, facts_dir: str) -> DataFrame:
    """The attributed-purchase fact log, replay duplicates collapsed
    per (batch_id, purchase_id)."""
    return (
        spark.read.parquet(facts_dir)
        .dropDuplicates(["batch_id", "purchase_id"])
        .drop("batch_id")
    )


def streaming_active_ingest(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Live engagement state: the durable store is per-batch DISTINCT
    (day, user) activity deltas — set union is CONFLUENT (any arrival
    order, any slicing), so every rolling-engagement readout (DAU,
    trailing-window WAU, stickiness — q168) recomputed from the merged
    store is bit-identical to the batch answer over the union.  The
    active-pair grain is bounded by days × users regardless of event
    volume, so per-batch appends are domain-sized, never event-sized.
    Replays append identical rows; the reader collapses per
    (batch_id, day, user)."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        _append(batch.select("day", "user_id").distinct(), batch_id,
                state_dir)

    return _run_batches(events_stream, checkpoint_dir, process_batch)


def read_active_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged distinct (day, user) activity from the delta store."""
    return (
        spark.read.parquet(state_dir)
        .select("day", "user_id")
        .distinct()
    )


def streaming_cc_ingest(
    edges_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    i_col: str = "i",
    j_col: str = "j",
):
    """Incremental connected components over a stream of graph edges —
    the maintenance half of the q42 dedup-cluster resolver: as new
    near-dup pairs arrive, cluster labels are updated WITHOUT
    re-reading prior edges.

    State per batch: a full ``(node, label)`` snapshot (label = min
    reachable node, q42's canonical form) written to
    ``state_dir/b{batch_id}``. Each batch runs
    ``connected_components(converge=True)`` over the NEW edges unioned
    with the prior snapshot read back AS STAR EDGES (node → label):
    the star graph preserves connectivity exactly and compresses every
    prior component to diameter ≤ 2, so convergence cost per batch is
    bounded by the BATCH graph's structure, not the accumulated
    history. Because CC is confluent (min-label over any edge
    partition order reaches the same fixpoint), the final state equals
    the one-shot batch answer for ANY arrival order — asserted in
    tests, and the property that makes incremental maintenance sound.

    Crash/replay: a retried batch rewrites the SAME snapshot dir with
    mode("overwrite") and identical deterministic contents (prior
    snapshots are never touched), so at-least-once delivery is
    idempotent. Snapshots are an audit trail; readers take the latest.
    """
    import re

    from bloomy_etl_spark.operators.dedup import connected_components

    def _latest_before(batch_id: int) -> str | None:
        if not os.path.isdir(state_dir):
            return None
        best = None
        for d in os.listdir(state_dir):
            m = re.fullmatch(r"b(\d+)", d)
            if m and int(m.group(1)) < batch_id:
                if best is None or int(m.group(1)) > best:
                    best = int(m.group(1))
        return None if best is None else os.path.join(state_dir, f"b{best}")

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        edges = batch.select(F.col(i_col).alias("i"),
                             F.col(j_col).alias("j"))
        prior = _latest_before(batch_id)
        if prior is not None:
            star = spark.read.parquet(prior).select(
                F.col("node").alias("i"), F.col("label").alias("j")
            ).filter(F.col("i") != F.col("j"))
            edges = edges.unionByName(star)
        cc = connected_components(edges, converge=True)
        cc.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"b{batch_id}")
        )

    return _run_batches(edges_stream, checkpoint_dir, process_batch)


def read_cc_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Latest (node, label) snapshot written by
    :func:`streaming_cc_ingest`."""
    import re

    ids = [int(m.group(1)) for d in os.listdir(state_dir)
           if (m := re.fullmatch(r"b(\d+)", d))]
    if not ids:
        raise FileNotFoundError(f"no cc snapshots under {state_dir}")
    return spark.read.parquet(os.path.join(state_dir, f"b{max(ids)}"))
