"""Scale-oriented join strategies Spark lacks natively: binned range
joins, salted skew joins, Bloom-reduced semi joins, and SymSpell fuzzy
joins.

**Binned range join.** Spark plans a pure range predicate (``p.v BETWEEN
i.lo AND i.hi`` with no equi-key) as BroadcastNestedLoopJoin — O(|P|·|I|)
comparisons, the classic 100 TB cliff (commercial engines special-case
this; open-source Spark does not). ``binned_range_join`` rewrites it as
an EQUI join: each interval is exploded to the integer bins it overlaps,
each point maps to exactly one bin, the join key is the bin, and the
original predicate survives as a residual filter. Work drops to
O(|P| + |I|·b + |candidate pairs|) where b = avg bins per interval —
choose ``bin_width`` near the typical interval length so b ≈ 2. The
shape matches the bucketed candidate generation used across the dedup
stack (``operators/dedup.py``): explode to buckets, equi-join, verify.

**Salted skew join.** A shuffle join on a key where one value holds a
large share of rows serializes that key's partition onto one task (AQE's
skew-join split helps the SORT side but both sides of one hot key still
meet in one stream). ``salted_join`` spreads the hot side by a
deterministic salt ``pmod(xxhash64(entire row), n_salts)`` and replicates
the other side once per salt — turning 1 straggler task into ``n_salts``
even tasks at the cost of ``n_salts×`` duplication of the (small) other
side. This is the standard manual remedy when the small side is still
too big to broadcast.

Both preserve exact join semantics (verified against plain-join oracles,
t2:q70/q71) and both are plan-tested: no BroadcastNestedLoopJoin /
CartesianProduct for the range join, no broadcast for the salted join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bloomy_etl_spark.session import pin


def _has_map_type(dt) -> bool:
    """True if the (possibly nested) type contains a MapType — the one
    Spark type that cannot be a grouping/dedup key."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_map_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_map_type(f.dataType) for f in dt.fields)
    return False


def binned_range_join(points: DataFrame, intervals: DataFrame,
                      point_col: str, lo_col: str, hi_col: str,
                      bin_width: int, how: str = "inner") -> DataFrame:
    """Join each point row to every interval row with
    ``lo <= point <= hi``, as a bin-keyed EQUI join.

    ``point_col``/``lo_col``/``hi_col`` must be integer-valued (cast
    dates to day numbers first). Returns all columns of both inputs
    (the helper bin column is dropped). ``bin_width`` trades explosion
    factor (intervals produce ``(hi-lo)/bin_width + 1`` rows) against
    candidate precision; pick it near the typical interval span.

    Scale shape: intervals explode map-side (no shuffle to build),
    then ONE hash-partitioned equi join on the bin key; the range
    predicate filters candidates inside the join. Bins inherit the
    data's distribution — a pathologically popular bin is exactly the
    skew case ``salted_join`` handles, and AQE's skew split applies
    since this IS a plain equi join after the rewrite.
    """
    if bin_width < 1:
        raise ValueError(f"bin_width must be >= 1, got {bin_width}")
    if how not in ("inner", "left_semi"):
        raise ValueError(f"how must be 'inner' or 'left_semi', got {how!r}")
    shared = set(points.columns) & set(intervals.columns)
    if shared:
        raise ValueError(
            f"points and intervals share column names {sorted(shared)}; "
            "rename one side — the joined output keeps both sides' columns"
        )
    p_bin = F.floor(F.col(point_col) / bin_width)
    binned_intervals = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bin_width),
                F.floor(F.col(hi_col) / bin_width),
            )
        ),
    )
    pts = points.withColumn("__bin", p_bin)
    if how == "left_semi":
        # True leftsemi semantics: every MATCHING left row survives
        # exactly once, INCLUDING duplicate rows. Row identity is
        # tracked as VALUE + MULTIPLICITY, never a per-row id:
        # monotonically_increasing_id is nondeterministic under
        # partial-stage recomputation (executor loss, speculative
        # retry), which can duplicate or drop rows through the dedup.
        # Here: count duplicates per distinct row value (``__bin`` is a
        # function of the value, so the group key IS row equality),
        # semi-join the distinct values, then re-expand each surviving
        # value to its original multiplicity. Every step is a
        # deterministic function of the data. Cost vs the id-stamp
        # plan: one extra hash aggregation of ``points`` — and the
        # bin join then moves distinct values only, which at corpus
        # scale usually SHRINKS the join shuffle.
        #
        # Schemas with a non-groupable column (MapType) can't take the
        # value-identity path; they fall back to an id stamp pinned by
        # an EAGER localCheckpoint, which materializes the ids before
        # the join so recomputation can't reassign them.
        if any(_has_map_type(f.dataType) for f in points.schema.fields):
            stamped = pin(pts.withColumn(
                "__rid", F.monotonically_increasing_id()
            ), eager=True)
            out = (
                stamped.join(binned_intervals, on=["__bin"], how="inner")
                .filter(
                    (F.col(point_col) >= F.col(lo_col))
                    & (F.col(point_col) <= F.col(hi_col))
                )
                .select("__rid", *points.columns)
                .dropDuplicates(["__rid"])
            )
            return out.drop("__rid")
        cols = points.columns
        cnt = pts.groupBy("__bin", *cols).agg(F.count(F.lit(1)).alias("__n"))
        matched = (
            cnt.join(binned_intervals, on=["__bin"], how="inner")
            .filter(
                (F.col(point_col) >= F.col(lo_col))
                & (F.col(point_col) <= F.col(hi_col))
            )
            # one row per distinct left value; __n rides along (unique
            # per value by construction of the count aggregate)
            .dropDuplicates(cols)
        )
        return (
            matched.withColumn(
                "__i", F.explode(F.sequence(F.lit(1), F.col("__n")))
            )
            .select(*cols)
        )
    joined = pts.join(binned_intervals, on=["__bin"], how=how)
    return joined.filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    ).drop("__bin")


def salted_join(big: DataFrame, small: DataFrame, on: str | list[str],
                n_salts: int, how: str = "inner") -> DataFrame:
    """Equi-join robust to heavy key skew on ``big``.

    ``big`` rows get a deterministic salt in ``[0, n_salts)`` derived
    from the WHOLE row (``xxhash64`` over all columns — rows of the hot
    key spread evenly without needing a distinguishing id column);
    ``small`` is replicated once per salt value map-side. The join key
    becomes ``(on…, salt)``, so one hot key's rows land on ``n_salts``
    tasks instead of one.

    Exact-duplicate rows in ``big`` share a salt — harmless for
    correctness (they are interchangeable) and they only concentrate if
    one exact row dominates, which no salt scheme can spread.

    Cost: ``n_salts×`` duplication of ``small`` through the shuffle —
    use when ``small`` exceeds the broadcast threshold but a hot key
    would otherwise straggle. Supported ``how``: inner / left (left
    keeps every ``big`` row exactly once when unmatched).
    """
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    replicated_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    out = salted_big.join(replicated_small, on=[*keys, "__salt"], how=how)
    return out.drop("__salt")


def scd2_asof_enrich(facts: DataFrame, dim: DataFrame, on: str | list[str],
                     ts_col: str, *, eff_col: str = "eff_ts",
                     end_col: str = "end_ts", how: str = "left") -> DataFrame:
    """Temporal (as-of) enrichment against an SCD2 dimension: each fact
    row picks up the dimension version whose validity window
    ``[eff_col, end_col)`` contains the fact's ``ts_col`` (open version:
    NULL ``end_col``).

    Because ``sinks.layout.scd2_apply`` guarantees per-key validity
    windows that PARTITION time (disjoint, chained; zero-width windows
    self-exclude), the validity predicate matches AT MOST one version
    per fact — so this is a plain equi join on the key with a residual
    range condition: one shuffle per side, per-key fanout bounded by
    the (short) version-chain length, and no post-join window/dedup
    pass. ``how='left'`` keeps facts predating the first version with
    NULL attributes; ``'inner'`` drops them.

    Output: all fact columns + dimension columns minus the join keys
    (attribute-name collisions are the caller's to rename).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    cond = None
    for k in keys:
        c = facts[k] == dim[k]
        cond = c if cond is None else cond & c
    ts = facts[ts_col]
    cond = (
        cond
        & (dim[eff_col] <= ts)
        & (dim[end_col].isNull() | (ts < dim[end_col]))
    )
    out = facts.join(dim, cond, how)
    for k in keys:
        out = out.drop(dim[k])
    return out


def bloom_semi_join(big: DataFrame, small: DataFrame, on: str | list[str],
                    m_bits: int = 1 << 20, n_hashes: int = 5,
                    prefilter_only: bool = False) -> DataFrame:
    """Semi join with a Bloom-filter pre-filter on the big side — the
    runtime-filter pattern (Trino/Snowflake "dynamic filtering"; Spark's
    own InjectRuntimeFilter, whose ``bloom_filter_agg`` is not in the
    public function registry) as an explicit operator.

    Why: a plain ``left_semi`` between two above-broadcast-threshold
    tables shuffles ALL of ``big``. Here the small side's key set is
    first folded into an ``m_bits`` Bloom filter and every non-matching
    ``big`` row (minus false positives) is dropped MAP-SIDE, before the
    exchange — shuffle volume becomes O(matches + FP) instead of O(big).

    Scale discipline — how the filter is built matters as much as using
    one: key positions are computed JVM-side (double hashing
    ``pos_j = pmod(h1 + j·h2, m)`` over two ``xxhash64`` streams), then
    folded with ``bit_or`` into ``m/64`` bitmap words, so the driver
    receives O(m/64) rows NO MATTER how many keys the small side has
    (collecting the key set itself — the shortcut
    ``corpus._bloom_hits`` takes for benchmark sets — is exactly what
    does not survive a 10⁹-key dimension). The probe is one
    Arrow-batched pandas UDF over the precomputed mod-m-reduced
    (h1, h2) columns: both hashes live in [0, m), every intermediate
    stays far below 2⁶³ (ANSI-overflow-safe), and numpy's
    positive-divisor ``%`` equals the JVM's ``pmod`` — build and probe
    agree on every position.

    Correctness never depends on the filter: survivors still pass
    through a real ``left_semi`` (oracle t2:q78 is the plain semi
    join). ``prefilter_only=True`` skips that and returns the
    may-contain superset — the mode used to prune a fact table before a
    subsequent full join computes its own equality anyway.

    Bench transparency: folding the bitmap runs a small Spark job when
    the plan is BUILT (same eager-artifact pattern as q54's centroids /
    q62's merge table).
    """
    if m_bits < 64 or m_bits % 64:
        raise ValueError(f"m_bits must be a multiple of 64, got {m_bits}")
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    keys = [on] if isinstance(on, str) else list(on)

    def hashes() -> tuple[Column, Column]:
        # Pre-reduced mod m: (h1 + j·h2) mod m ≡ ((h1 mod m) + j·(h2 mod m))
        # mod m, and the reduced form never leaves [0, n_hashes·m) — safe
        # under ANSI overflow checking (Spark 4 default) with no behavior
        # fork between JVM build and numpy probe.
        cols = [F.col(c) for c in keys]
        return (
            F.pmod(F.xxhash64(*cols), F.lit(m_bits)),
            F.pmod(F.xxhash64(F.lit("bloom2"), *cols), F.lit(m_bits)),
        )

    h1, h2 = hashes()
    positions = small.select(
        F.explode(
            F.array(
                *[
                    F.pmod(h1 + F.lit(j).cast("long") * h2, F.lit(m_bits))
                    for j in range(n_hashes)
                ]
            )
        ).alias("pos")
    )
    words = (
        positions.groupBy(
            F.shiftrightunsigned(F.col("pos"), 6).alias("word")
        )
        .agg(F.expr("bit_or(shiftleft(1L, CAST(pos % 64 AS INT)))").alias("bits"))
        .collect()
    )
    bitmap = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in words:
        bitmap[int(r["word"])] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    bc = big.sparkSession.sparkContext.broadcast(bitmap)
    m = m_bits
    nh = n_hashes

    @F.pandas_udf("boolean")
    def might_contain(s1: pd.Series, s2: pd.Series) -> pd.Series:
        bm = bc.value
        a = s1.to_numpy(dtype=np.int64, na_value=0)  # already in [0, m)
        b = s2.to_numpy(dtype=np.int64, na_value=0)
        ok = np.ones(len(a), dtype=bool)
        for j in range(nh):
            pos = (a + np.int64(j) * b) % np.int64(m)
            w = (pos >> 6).astype(np.int64)
            bit = (pos & 63).astype(np.uint64)
            ok &= ((bm[w] >> bit) & np.uint64(1)).astype(bool)
        return pd.Series(ok)

    bh1, bh2 = hashes()
    pruned = (
        big.withColumn("__bh1", bh1)
        .withColumn("__bh2", bh2)
        .filter(might_contain(F.col("__bh1"), F.col("__bh2")))
        .drop("__bh1", "__bh2")
    )
    if prefilter_only:
        return pruned
    return pruned.join(small.select(*keys), on=keys, how="left_semi")


def _deletion_variants(col: Column, k: int) -> Column:
    """All strings reachable from ``col`` by deleting up to ``k``
    characters (the SymSpell neighborhood), built as in-row array
    expressions — no UDF, no explosion until the caller explodes.
    Variant count is O(len^k); intended for SHORT strings (names,
    titles, codes), which is exactly the fuzzy-matching domain."""
    def one_del(v: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.length(v)),
            lambda i: F.concat(
                v.substr(F.lit(1), i - F.lit(1)),
                v.substr(i + F.lit(1), F.length(v)),
            ),
        )

    vs = F.array(col)
    for _ in range(k):
        vs = F.array_distinct(
            F.array_union(vs, F.flatten(F.transform(vs, one_del)))
        )
    return vs


def fuzzy_value_pairs(df: DataFrame, col: str, k: int = 2,
                      max_len: int = 64) -> DataFrame:
    """All pairs of DISTINCT ``col`` values within Levenshtein distance
    ``k``: ``(a, b, dist)`` with a < b.

    The naive form is a quadratic theta join with a levenshtein
    predicate — O(|V|²) edit-distance evaluations (measured: 100 s in a
    vectorized engine at just 20k rows). This uses the symmetric-delete
    (SymSpell) bound instead: ``lev(a,b) <= k`` implies the up-to-k
    deletion neighborhoods intersect (each alignment edit costs at most
    one deletion on each side), so candidates = distinct values sharing
    a deletion variant — an EQUI join on the variant string — and
    levenshtein runs only on candidates.

    Scale shape: the distinct-value vocabulary is extracted first (at
    corpus scale |V| ≪ rows — 64 vs 20k on the part fixture), variants
    are generated in-row, and the only shuffles are the distinct and the
    variant-keyed join. Verified value-exact against the quadratic
    DuckDB oracle (t2:q74).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    vocab = df.select(F.col(col).cast("string").alias("val")).filter(
        F.col("val").isNotNull()
    ).distinct()
    # Variant count is O(len^k): a single document-length value slipped
    # into a name/title column would explode one task. The vocabulary is
    # tiny by contract, so the guard is a cheap driver-side check that
    # FAILS LOUDLY instead of silently excluding (an excluded value could
    # never match, which would be a wrong answer, not a guard).
    n_long = vocab.filter(F.length("val") > max_len).count()
    if n_long:
        raise ValueError(
            f"{n_long} value(s) longer than max_len={max_len}; fuzzy "
            "matching by deletion neighborhoods targets short strings — "
            "raise max_len deliberately if the O(len^k) variant cost is "
            "acceptable"
        )
    variants = vocab.select(
        "val", F.explode(_deletion_variants(F.col("val"), k)).alias("var")
    )
    a = variants.select(F.col("val").alias("a"), "var")
    b = variants.select(F.col("val").alias("b"), "var")
    cand = (
        a.join(b, on="var")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    return cand.withColumn("dist", F.levenshtein("a", "b")).filter(
        F.col("dist") <= k
    )
