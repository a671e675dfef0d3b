"""Bounded-state sketches: count-min (frequency), HLL (distinct
count), KMV/theta (distinct count WITH set operations) — for streams
and shuffles too wide to count exactly.

At 100 TB, ``groupBy(token).count()`` over raw n-grams shuffles a row
per distinct key — fine for the top-k heap (``corpus.top_ngrams``), but
a *frequency oracle* (answer "how often does X occur" for arbitrary X,
later, without the corpus) needs bounded state. The CM sketch (Cormode
& Muthukrishnan 2005) is the standard answer: a d×w counter matrix,
item increments one counter per row at ``h_i(x) mod w``; the estimate
``min_i counter[i][h_i(x)]`` never under-counts and over-counts by at
most ``ε·N`` with probability ``1−δ`` for ``w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉``.

Spark shape: building the sketch is ONE aggregation keyed by (row,
bucket) — at most d·w result rows regardless of corpus size, with
map-side partial counts doing almost all the work (the whole point:
shuffle volume is bounded by the sketch size, not the key cardinality).
Estimation joins candidate keys against the tiny sketch (broadcast).
Counters are integers and the hash is the engine-portable md5 int, so a
DuckDB oracle replays both build and probe bit-exactly (q65).

Sketches built on disjoint corpus slices merge by cell-wise addition —
the property that makes CMS work for incremental ingest (add today's
sketch to the store) and distributed build (partial aggregation IS the
merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.text import md5_int


def _bucket(item, row: int, width: int):
    """Row ``row``'s bucket for an item: portable md5 of the salted key.
    Distinct salts per row give the d independent-enough hash functions
    the CMS analysis needs."""
    return F.pmod(
        md5_int(F.concat(F.lit(f"cms{row}:"), item.cast("string"))),
        F.lit(width),
    )


def cms_build(items: DataFrame, item_col: str, depth: int = 4,
              width: int = 256) -> DataFrame:
    """Build the sketch: one row per NON-ZERO cell (row, bucket, cnt).
    d·w bounded output; one shuffle whose volume is the sketch size."""
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    item = F.col(item_col)
    cells = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(item, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(
        F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(sketch: DataFrame, keys: DataFrame, item_col: str,
                 depth: int = 4, width: int = 256) -> DataFrame:
    """Point estimates for ``keys``: join each key's d cells against the
    sketch (broadcast — the sketch is at most d·w rows) and take the
    row-wise minimum. Missing cells count 0 (the key never hashed
    there). Adds an ``est`` column; guarantees ``est >= true count``.
    """
    item = F.col(item_col)
    probes = keys.select(
        item_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"),
                        _bucket(item, r, width).alias("bucket"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c"),
    ).select(item_col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return joined.groupBy(item_col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).alias("est")
    )


# ---------------------------------------------------------------------------
# Portable register-level HLL (Flajolet et al. 2007).
#
# Spark's own DataSketches HLL (``hll_sketch_agg``) keeps its sketch
# bytes library-internal — no cross-engine oracle can replay them.
# This variant keeps the REGISTERS themselves as rows
# (keys…, bucket, r): bucket = low-p bits of the portable md5 int,
# r = max over the group's items of (leading zeros of the remaining
# W = 32−p hash bits) + 1. Everything is integer arithmetic on the
# md5_int both engines compute identically (the rank comes from
# ``length(bin(w))`` — Spark and DuckDB both render binary without
# leading zeros), so build AND merge are driver-hash-gateable exactly
# (t2:q119). Same bounded-state shape as the CMS: one hash aggregation,
# ≤ m result rows per group, map-side partials do the work; merging two
# register tables is a bucket-wise MAX — the same monoid the streaming
# ingest and cross-slice rollups use.
# ---------------------------------------------------------------------------
def hll_registers(df: DataFrame, keys: list[str], item_col: str,
                  m: int = 64) -> DataFrame:
    """Per-group HLL register table (keys…, bucket, r) over the
    engine-portable md5 hash. ``m`` (a power of two ≤ 2^16) is the
    register count; absent (bucket) rows mean register 0."""
    p = m.bit_length() - 1
    if m < 2 or (1 << p) != m or p > 16:
        raise ValueError(f"m must be a power of two in [2, 65536], got {m}")
    w_bits = 32 - p
    h = md5_int(F.concat(F.lit("hllr:"), F.col(item_col).cast("string")))
    w = F.floor(h / m).cast("bigint")
    rank = F.when(
        w > 0, F.lit(w_bits) - F.length(F.bin(w)) + 1
    ).otherwise(F.lit(w_bits + 1))
    keyed = df.select(
        *keys, F.pmod(h, F.lit(m)).alias("bucket"), rank.alias("rank")
    )
    return (
        keyed.groupBy(*keys, "bucket")
        .agg(F.max("rank").cast("int").alias("r"))
    )


def hll_registers_merge(regs: DataFrame, keys: list[str]) -> DataFrame:
    """Merge register tables DOWN to ``keys`` (e.g. per-day → per-month,
    per-type → corpus): bucket-wise max — associative, idempotent,
    replay-safe (the at-least-once property the streaming ingests
    rely on)."""
    return (
        regs.groupBy(*keys, "bucket")
        .agg(F.max("r").cast("int").alias("r"))
    )


def hll_registers_estimate(regs: DataFrame, keys: list[str],
                           m: int = 64) -> DataFrame:
    """Register table → (keys…, n_distinct double): the HLL harmonic
    estimator α_m·m²/Σ2^(−r) with the small-range linear-counting
    correction (V empty registers → m·ln(m/V) when est ≤ 2.5m). Floats
    and ln make this the UNIT-VERIFIED tier (accuracy vs exact distinct,
    tests/test_sketches.py); the gated artifact is the register table
    itself."""
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1 + 1.079 / m))
    grouped = regs.groupBy(*keys) if keys else regs.groupBy()
    agg = grouped.agg(
        F.sum(F.pow(F.lit(0.5), F.col("r"))).alias("_s"),
        F.count(F.lit(1)).alias("_nb"),
    )
    s_all = F.col("_s") + (F.lit(m) - F.col("_nb"))  # absent buckets: 2^0
    raw = F.lit(alpha * m * m) / s_all
    v = F.lit(m) - F.col("_nb")
    est = F.when(
        (v > 0) & (raw <= 2.5 * m), F.lit(float(m)) * F.log(F.lit(m) / v)
    ).otherwise(raw)
    return agg.select(*keys, est.alias("n_distinct"))


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k, the theta-sketch family).
#
# HLL unions but cannot INTERSECT: registers carry no membership, so
# |A∩B| via inclusion-exclusion inherits the error of three estimates
# and collapses for small overlaps. The KMV sketch (Bar-Yossef et al.
# 2002; Beyer et al. "On Synopses for Distinct-Value Estimation under
# Multiset Operations", SIGMOD'07) keeps the k smallest hash values of
# the distinct items — a uniform sample of the hash space that supports
# union (k-min of the merged arrays), INTERSECTION and Jaccard (the
# fraction of the union sketch's values present in both inputs), and is
# EXACT whenever a group's distinct count is below k (the sketch then
# IS the distinct hash set). That exact-below-k regime is what the
# declared query (t2:q79) pins against a COUNT(DISTINCT) oracle — the
# same exact-path-for-oracle / sketch-path-for-scale split as q45's
# percentiles; the k < n estimator regime is unit-bounded
# (err ≲ 2/√k, tests/test_sketches.py).
#
# Spark shape: one distinct on (keys, hash) — dedup is unavoidable for
# distinct-value semantics and spills safely — then a bounded row_number
# window keeps ≤ k rows per group before the collect_list, so no
# unbounded array ever materializes (the naive
# slice(sort(collect_set(h))) holds a group's WHOLE distinct set in one
# aggregation buffer; this never holds more than k). Merges are in-row
# array ops on ≤ k-element arrays; estimates are pure projections.
# ---------------------------------------------------------------------------

_TWO63 = 9.223372036854775808e18  # 2^63 as double
_TWO64 = 1.8446744073709552e19   # 2^64 as double


def _item_hash(item_col: str):
    """Signed-int64 item hash; ascending signed order == ascending
    unsigned order after the +2^63 shift used by the estimator, so
    sorted arrays and `u = (h + 2^63)/2^64` agree about "smallest"."""
    return F.xxhash64(F.col(item_col))


def kmv_build(df: DataFrame, keys: list[str], item_col: str,
              k: int = 1024) -> DataFrame:
    """Per-group KMV sketch: ``kmv`` = sorted array of the ``k``
    smallest distinct item hashes (all of them when the group has fewer
    than ``k`` distinct items — the exact regime). NULL items are
    skipped, matching ``COUNT(DISTINCT)``.

    ``keys = []`` builds one global sketch; to avoid ranking every
    distinct hash through a single task it partials over 64 salted
    subgroups and merges them in-row (union of KMVs IS a KMV).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from pyspark.sql.window import Window

    d = (
        df.filter(F.col(item_col).isNotNull())
        .select(*keys, _item_hash(item_col).alias("__h"))
        .distinct()
    )
    part_keys = keys if keys else ["__sub"]
    if not keys:
        d = d.withColumn("__sub", F.pmod(F.col("__h"), F.lit(64)))
    w = Window.partitionBy(*part_keys).orderBy("__h")
    ranked = d.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    if keys:
        return ranked.groupBy(*keys).agg(
            F.array_sort(F.collect_list("__h")).alias("kmv")
        )
    return ranked.groupBy().agg(
        F.slice(F.array_sort(F.collect_list("__h")), 1, k).alias("kmv")
    )


def kmv_merge_col(a, b, k: int):
    """Column-level union of two KMV arrays (either may be NULL):
    distinct-merge then keep the k smallest — again a valid KMV of the
    underlying set union."""
    empty = F.array().cast("array<bigint>")
    return F.slice(
        F.array_sort(
            F.array_distinct(
                F.concat(F.coalesce(a, empty), F.coalesce(b, empty))
            )
        ),
        1,
        k,
    )


def kmv_estimate_col(kmv, k: int):
    """Distinct-count estimate (double) from a KMV array column.

    Below k the sketch is the full distinct hash set → exact count.
    At capacity the kth smallest normalized hash ``u_k`` estimates the
    sampling fraction: ``(k-1)/u_k`` (the classical unbiased bottom-k
    estimator)."""
    sz = F.size(kmv)
    u_k = (F.element_at(kmv, k).cast("double") + F.lit(_TWO63)) / F.lit(_TWO64)
    return F.when(sz < k, sz.cast("double")).otherwise(F.lit(k - 1) / u_k)


def kmv_overlap_cols(a, b, k: int) -> dict:
    """Set-operation estimates for two KMV array columns, as a dict of
    named Columns: ``est_a``, ``est_b``, ``est_union``, ``est_inter``,
    ``jaccard``.

    Intersection follows Beyer et al.: build the union sketch U (k-min
    of the merge), count ρ = |{h ∈ U : h ∈ A ∧ h ∈ B}|, and scale
    ``ρ/|U| · est(U)``; ``jaccard = ρ/|U|``. When both groups are below
    k every quantity is exact."""
    u = kmv_merge_col(a, b, k)
    ku = F.size(u)
    rho = F.size(F.array_intersect(F.array_intersect(u, a), b))
    est_u = kmv_estimate_col(u, k)
    return {
        "est_a": kmv_estimate_col(a, k),
        "est_b": kmv_estimate_col(b, k),
        "est_union": est_u,
        "est_inter": F.when(ku > 0, rho / ku * est_u).otherwise(F.lit(0.0)),
        "jaccard": F.when(ku > 0, rho / ku).otherwise(F.lit(0.0)),
    }


# ---------------------------------------------------------------------------
# Mergeable equi-width histogram (bounded-state quantiles).
#
# CMS answers frequency, HLL/KMV answer distinct counts — the remaining
# aggregate that plain sums cannot re-aggregate is the QUANTILE:
# median-of-parts is not the median, and Spark's percentile_approx
# state is not exposed as a storable column. The classical mergeable
# answer is the fixed-range equi-width histogram: per group, an
# ``n_bins`` array of counts over a caller-declared value range
# ``[lo, hi)`` plus exact under/overflow counters and observed min/max.
# Merging is element-wise addition (a monoid, so map-side partial
# aggregation IS the merge), and a quantile estimate reads the
# cumulative walk with linear interpolation inside the landing bin —
# rank-exact at bin granularity, value error ≤ one bin width
# ((hi-lo)/n_bins) for in-range data (unit-bounded in
# tests/test_sketches.py; out-of-range quantiles clamp to the exact
# observed min/max, which the sketch tracks precisely).
#
# Spark shape: build is a two-level aggregation — (keys, bin) counts
# first (map-side combine does the heavy lifting; shuffle volume is
# bounded by groups × (n_bins+2), NOT by row count), then one tiny
# per-key assembly into the array. Merge folds ≤ slice-count arrays
# in-row; estimates are pure projections. Same durable-table posture as
# the CMS/HLL stores: write the per-batch sketch, merge at read.
# ---------------------------------------------------------------------------

_HIST_STATE = ("hist", "n_under", "n_over", "vmin", "vmax", "n")


def hist_bin_col(v, lo: float, hi: float, n_bins: int):
    """Bin index Column for a double value: −1 underflow, ``n_bins``
    overflow, else ``floor((v−lo)/width)`` clamped to the last bin.
    THE single definition of the binning — shared by :func:`hist_build`
    and the matview percentile state (`plans/matview.py`); both feed
    :func:`hist_est_col`, so their bin assignment must never diverge."""
    width = (hi - lo) / n_bins
    return (
        F.when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(n_bins))
        .otherwise(F.least(F.lit(n_bins - 1),
                           F.floor((v - F.lit(lo)) / F.lit(width))))
    ).cast("int")


def hist_build(df: DataFrame, keys: list[str], value_col: str,
               lo: float, hi: float, n_bins: int = 128) -> DataFrame:
    """Per-group histogram sketch of ``value_col`` over ``[lo, hi)``:
    (keys…, hist array<long>[n_bins], n_under, n_over, vmin, vmax, n).
    NULL values are skipped (SQL aggregate semantics); values below
    ``lo`` / at-or-above ``hi`` land in the exact under/overflow
    counters, so the caller's range guess degrades the resolution of
    the tails, never the correctness of counts. ``n`` = all non-null
    observations including the clamped tails."""
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    if not 1 <= n_bins <= 4096:
        raise ValueError(f"n_bins must be in [1, 4096], got {n_bins}")
    v = F.col(value_col).cast("double")
    bin_ = hist_bin_col(v, lo, hi, n_bins)
    binned = df.filter(v.isNotNull()).select(
        *keys, v.alias("__v"), bin_.alias("__bin")
    )
    lvl1 = binned.groupBy(*keys, "__bin").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min("__v").alias("__mn"),
        F.max("__v").alias("__mx"),
    )
    g = lvl1.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__bin"), F.col("__c")))
        ).alias("__m"),
        F.min("__mn").alias("vmin"),
        F.max("__mx").alias("vmax"),
        F.sum("__c").alias("n"),
    )
    return g.select(
        *keys,
        F.expr(
            f"transform(sequence(0, {n_bins - 1}), i -> coalesce(__m[i], 0L))"
        ).alias("hist"),
        F.coalesce(F.expr("__m[-1]"), F.lit(0).cast("long")).alias("n_under"),
        F.coalesce(F.expr(f"__m[{n_bins}]"), F.lit(0).cast("long")).alias("n_over"),
        "vmin", "vmax", "n",
    )


def hist_merge(*sketches: DataFrame) -> DataFrame:
    """Merge any number of per-group histogram tables (monoid reduce,
    like ``hll_merge``): counts add element-wise, tails add, min/max
    combine. All inputs must share ``n_bins`` AND the ``[lo, hi)`` the
    caller built them with — a bin-count mismatch fails loudly at
    execution (runtime assert), but a same-size different-range merge is
    semantically wrong and undetectable from the state alone; the range
    is the caller's contract, exactly like ``k`` for the KMV ops."""
    if not sketches:
        raise ValueError("no sketches given")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    keys = [c for c in u.columns if c not in _HIST_STATE]
    g = (u.groupBy(*keys) if keys else u.groupBy()).agg(
        F.collect_list("hist").alias("__hs"),
        F.sum("n_under").alias("n_under"),
        F.sum("n_over").alias("n_over"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("n").alias("n"),
    )
    sizes_ok = F.expr("forall(__hs, h -> size(h) = size(__hs[0]))")
    fold = F.aggregate(
        F.col("__hs"),
        F.expr("transform(__hs[0], x -> 0L)"),
        lambda acc, h: F.zip_with(acc, h, lambda a, b: a + b),
    )
    # the when(assert…) wrapper forces the size check to survive column
    # pruning: assert_true returns NULL iff the condition held
    checked = F.when(
        F.assert_true(sizes_ok, F.lit("hist_merge: mismatched n_bins")).isNull(),
        fold,
    )
    return g.select(*keys, checked.alias("hist"),
                    "n_under", "n_over", "vmin", "vmax", "n")


def hist_cum_col(hist):
    """Cumulative-count array for a histogram column (1-based:
    ``cum[i]`` = count of the first ``i`` bins). Precompute this ONCE
    per row (``withColumn``) before calling :func:`hist_est_col` — the
    estimator references it repeatedly and inlining the O(n_bins²) fold
    into each reference would cube the per-row cost."""
    return F.transform(
        F.sequence(F.lit(1), F.size(hist)),
        lambda i: F.aggregate(
            F.slice(hist, F.lit(1), i), F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
    )


def hist_est_col(q: float, hist, cum, n_under, n_over, vmin, vmax, n,
                 lo: float, hi: float):
    """Quantile-estimate Column over histogram-state columns — shared by
    :func:`hist_quantile` and the matview ``approx_percentile`` measure
    (`plans/matview.py`), so both read the state with identical
    semantics.

    Rank convention: the estimate for ``q`` is the value whose
    cumulative count first reaches ``q·n``. Ranks that land in the
    underflow (resp. overflow) tail return the exact observed ``vmin``
    (``vmax``) — the sketch knows tail counts exactly but not tail
    shapes. In-range estimates interpolate linearly inside the landing
    bin and clamp to [vmin, vmax]; value error ≤ (hi-lo)/n_bins."""
    width = F.lit(float(hi - lo)) / F.size(hist)
    r = F.lit(float(q)) * n.cast("double")
    in_bins = (n - n_over).cast("double")  # ranks ≤ this sit in bins/under
    b = F.element_at(
        F.filter(
            F.sequence(F.lit(0), F.size(hist) - 1),
            lambda i: (
                n_under + F.element_at(cum, (i + 1).cast("int"))
            ).cast("double") >= r,
        ),
        1,
    )
    prev = F.when(b == 0, F.lit(0).cast("long")).otherwise(
        F.element_at(cum, b.cast("int"))
    )
    inbin = r - n_under.cast("double") - prev.cast("double")
    cnt = F.element_at(hist, (b + 1).cast("int")).cast("double")
    interp = F.lit(float(lo)) + width * (b.cast("double") + inbin / cnt)
    return (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(r <= n_under.cast("double"), vmin)
        .when(r > in_bins, vmax)
        .otherwise(F.least(F.greatest(interp, vmin), vmax))
    )


def hist_quantile(sketch: DataFrame, qs: list[float],
                  lo: float, hi: float) -> DataFrame:
    """Sketch table → (keys…, q, est) — one row per requested quantile
    per group, computed entirely in-row (pure projection, no shuffle).
    Estimate semantics: :func:`hist_est_col`."""
    if not qs:
        raise ValueError("no quantiles requested")
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile out of [0,1]: {q}")
    keys = [c for c in sketch.columns if c not in _HIST_STATE]
    base = sketch.withColumn("__cum", hist_cum_col(F.col("hist")))

    def est_for(q: float):
        est = hist_est_col(
            q, F.col("hist"), F.col("__cum"), F.col("n_under"),
            F.col("n_over"), F.col("vmin"), F.col("vmax"), F.col("n"),
            lo, hi,
        )
        return F.struct(F.lit(float(q)).alias("q"), est.alias("est"))

    packed = F.array(*[est_for(q) for q in qs])
    return base.select(*keys, F.explode(packed).alias("__e")).select(
        *keys, F.col("__e.q").alias("q"), F.col("__e.est").alias("est")
    )


# --------------------------------------------------------------------------
# Misra-Gries frequent items: the DETERMINISTIC bounded-state counterpart
# to the CM sketch above. An MG summary with capacity c undercounts any
# item by at most N/(c+1) (Misra & Gries 1982), and summaries of disjoint
# slices MERGE with the same bound (Agarwal et al. 2012, "Mergeable
# Summaries": add counters, subtract the (c+1)-th largest, drop <= 0) —
# so per-partition summaries + one merge give a candidate set that
# PROVABLY contains every item with global frequency >= N/k whenever
# c >= k. A second exact pass recounts only the candidates, making the
# two-phase output EXACT: at 100 TB with billions of distinct keys the
# full-domain hash-agg shuffles a row per key, while this shuffles
# O(partitions * c) candidate rows plus the recount of a tiny
# broadcast-pruned subset. CMS answers point queries probabilistically;
# MG enumerates the frequent set deterministically.
# --------------------------------------------------------------------------
def mg_summary(df: DataFrame, item_col: str, *, capacity: int = 256,
               with_part_totals: bool = False) -> DataFrame:
    """Per-partition mergeable Misra-Gries summaries.

    Returns ``(item_col, mg_wt)`` — the union of every partition's
    summary (≤ capacity rows each, so the result is bounded by
    partitions × capacity regardless of data size). Arrow-batched:
    each batch is reduced with a vectorized ``value_counts`` (an exact
    summary of the batch) and merged into the running partition
    summary with the Agarwal et al. decrement, so no Python loop ever
    touches individual rows.

    ``with_part_totals=True`` appends ``(part_id, n_part)`` — the
    partition index and its exact row count — so a consumer (the
    streaming ingest) can recover the stream's total item count from
    the summary store alone, without rescanning the data.  Because a
    near-uniform partition can legitimately evict EVERY counter (all
    values ≤ the (capacity+1)-th largest), each partition also emits
    one sentinel row (``item = NULL, mg_wt = 0``) so its ``n_part`` is
    never lost; candidate readers drop ``mg_wt = 0`` rows.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    import pandas as pd
    from pyspark import TaskContext

    field = df.schema[item_col]
    spark_type = field.dataType.simpleString()
    totals_ddl = ", part_id int, n_part long" if with_part_totals else ""

    def gen(batches):
        acc = None
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            vc = pdf[item_col].value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > capacity:
                kth = acc.nlargest(capacity + 1).iloc[-1]
                acc = acc[acc > kth] - kth
        if acc is None or acc.empty:
            out = pd.DataFrame({item_col: pd.Series([], dtype=object),
                                "mg_wt": pd.Series([], dtype="int64")})
        else:
            out = pd.DataFrame(
                {item_col: pd.Series(acc.index.to_numpy(), dtype=object),
                 "mg_wt": acc.to_numpy().astype("int64")})
        if with_part_totals:
            # sentinel row: totals survive even a fully-evicted summary
            out = pd.concat(
                [out, pd.DataFrame({item_col: pd.Series([None],
                                                        dtype=object),
                                    "mg_wt": [0]})],
                ignore_index=True,
            )
            ctx = TaskContext.get()
            out["part_id"] = ctx.partitionId() if ctx is not None else -1
            out["n_part"] = n_part
        yield out

    return df.select(item_col).mapInPandas(
        gen, schema=f"{item_col} {spark_type}, mg_wt long{totals_ddl}"
    )


def frequent_items_exact(df: DataFrame, item_col: str, *, k: int,
                         capacity: int | None = None) -> DataFrame:
    """EXACT φ = 1/k frequent items via MG candidates + recount.

    Phase 1 (bounded state): per-partition MG summaries with
    ``capacity >= k`` — their union is a candidate superset of every
    item with frequency ≥ N/k (merge bound above). Phase 2 (exact):
    broadcast the candidate set, recount only matching rows, keep
    ``count * k >= N``. Output ``(item_col, n_items)`` is exactly the
    plain GROUP BY ... HAVING answer — the driver oracle proves the
    pruning lossless, the same pattern as q113's PPJoin-vs-brute-force
    gate.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    capacity = max(capacity or 2 * k, k)
    cands = (
        mg_summary(df, item_col, capacity=capacity)
        .select(item_col)
        .distinct()
    )
    total = df.agg(F.count(F.lit(1)).alias("__n"))
    return (
        df.join(F.broadcast(cands), item_col)
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("n_items"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_items") * F.lit(k) >= F.col("__n"))
        .select(item_col, "n_items")
    )
