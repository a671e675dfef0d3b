"""Property-based tests (SURVEY.md §5.2.3): clip idempotence/bounds,
mask monotonicity, merge permutation-invariance, skew-safe pair
generation vs brute force, n-gram Jaccard vs brute force.

Hypothesis drives the data; each example is one small local Spark job,
so max_examples stays modest and deadlines are off (JVM scheduling
jitter would otherwise flake)."""

from __future__ import annotations

import itertools
import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bloomy_etl_spark.functions.indices import (
    DEFAULT_QUALITY,
    QualityThresholds,
    clip,
    with_indices,
    with_masks,
)
from bloomy_etl_spark.operators.dedup import bucket_pairs, ngram_jaccard_pairs
from bloomy_etl_spark.operators.merge import merge_all

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

finite = st.floats(
    min_value=-50.0, max_value=50.0, allow_nan=False, allow_infinity=False
)


@given(vals=st.lists(finite, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_clip_idempotent_and_bounded(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = df.select(
        clip(F.col("v"), -1.0, 1.0).alias("c1"),
        clip(clip(F.col("v"), -1.0, 1.0), -1.0, 1.0).alias("c2"),
        "v",
    ).collect()
    for r in out:
        assert -1.0 <= r["c1"] <= 1.0
        assert r["c1"] == r["c2"], "clip must be idempotent"
        if -1.0 <= r["v"] <= 1.0:
            assert r["c1"] == r["v"], "in-range values pass through"


band = st.one_of(st.none(), st.integers(min_value=-500, max_value=12000))
pixel = st.tuples(
    band, band, band, st.one_of(st.none(), st.integers(min_value=0, max_value=255))
)


@given(pixels=st.lists(pixel, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_mask_monotone_and_is_component_or(spark, pixels):
    """Adding a mask component never increases the valid count, and the
    combined mask is exactly the OR of its components (F11)."""
    df = spark.createDataFrame(
        [(float(r) if r is not None else None,
          float(n) if n is not None else None,
          float(b) if b is not None else None,
          f) for r, n, b, f in pixels],
        "red double, nir double, blue double, fmask int",
    )
    no_haze = QualityThresholds(blue_haze=float("1e18"))  # haze disabled
    rows = with_masks(df).collect()
    relaxed = with_masks(df, no_haze).collect()
    comp = ["outside", "cloud_shadow", "anomaly_low", "anomaly_high", "haze",
            "invalid_ndvi"]
    for r in rows:
        assert r["mask"] == any(r[c] for c in comp)
    n_valid = sum(not r["mask"] for r in rows)
    n_valid_relaxed = sum(not r["mask"] for r in relaxed)
    assert n_valid <= n_valid_relaxed


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["T01", "T02"]),               # tile_id
            st.integers(min_value=0, max_value=2),         # day
            st.integers(min_value=0, max_value=1),         # intra-day hour
            st.integers(min_value=0, max_value=2),         # y
            st.integers(min_value=0, max_value=2),         # x
            st.one_of(st.none(), finite),                  # ndvi
        ),
        min_size=1,
        max_size=25,
    ),
    seed=st.randoms(use_true_random=False),
)
@settings(**SETTINGS)
def test_merge_all_permutation_invariant(spark, rows, seed):
    """merge_all output must not depend on input row order — the reference
    sorts its dataset list explicitly (core/merger.py:25,69,104); the
    relational form must be order-free by construction."""
    def df_of(rs):
        data = [
            (t, f"2024-06-{d + 1:02d} {10 + h}:00:00", y, x, v,
             v / 2 if v is not None else None)
            for t, d, h, y, x, v in rs
        ]
        return spark.createDataFrame(
            data, "tile_id string, time string, y int, x int, ndvi double, evi double"
        ).withColumn("time", F.col("time").cast("timestamp"))

    shuffled = list(rows)
    seed.shuffle(shuffled)

    def canon(df):
        out = []
        for r in merge_all(df).collect():
            out.append(
                (str(r["time"]), r["y"], r["x"],
                 None if r["ndvi"] is None else round(r["ndvi"], 9),
                 None if r["evi"] is None else round(r["evi"], 9),
                 r["num_granules_merged"])
            )
        return sorted(out, key=str)

    assert canon(df_of(rows)) == canon(df_of(shuffled))


def _window_merge(good_px, merge_same_day=True, carry=()):
    """The same-day merge as formulated before the date-level columns
    moved to the granule list: a per-pixel ``collect_set`` of the times,
    then a window over every merged pixel row. Kept here as the oracle
    the cheaper formulation must equal bit for bit. That holds while each
    task holds fewer groups than the ObjectHashAggregate's sort-based
    fallback threshold (128): past it, the fallback reorders this side's
    float sums by an ulp."""
    from pyspark.sql import Window

    spatial = good_px.repartition("y", "x").groupBy("time", "y", "x").agg(
        F.avg("ndvi").alias("ndvi"),
        F.avg("evi").alias("evi"),
        F.concat_ws("+", F.array_sort(F.collect_set("tile_id"))).alias("tile_id"),
        F.count(F.lit(1)).alias("num_tiles_merged"),
        *[F.max(c).alias(c) for c in carry],
    )
    if not merge_same_day:
        return spatial
    per_date = spatial.groupBy(F.to_date("time").alias("date"), "y", "x").agg(
        F.avg("ndvi").alias("ndvi"),
        F.avg("evi").alias("evi"),
        F.collect_set("time").alias("_ts"),
        *[F.max(c).alias(c) for c in carry],
    )
    all_ts = F.array_sort(F.array_distinct(
        F.flatten(F.collect_set("_ts").over(Window.partitionBy("date")))
    ))
    return per_date.select(
        "y", "x", "ndvi", "evi", all_ts.alias("_all_ts"), *carry
    ).select(
        F.timestamp_micros((
            F.aggregate(
                F.transform("_all_ts", lambda t: F.unix_micros(t).cast("double")),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ) / F.size("_all_ts")
        ).cast("long")).alias("time"),
        "y", "x", "ndvi", "evi",
        F.size("_all_ts").alias("num_granules_merged"),
        *carry,
    )


def _random_raw_pixels(spark, seed):
    """Seeded raw pixels over three tiles and five days. T1 and T2 share
    the 10:xx timestamp every day; T1 adds a 14:xx granule on day 2 and
    on some other days; T3's 16:xx granule on day 2 is entirely
    cloud-masked (valid_px 0)."""
    import datetime
    import random

    rng = random.Random(seed)
    rows = []
    for day in range(1, 6):
        granules = [("T1", 10), ("T2", 10)]
        if day == 2 or rng.random() < 0.6:
            granules.append(("T1", 14))
        if day == 2:
            granules.append(("T3", 16))
        minute = {h: rng.choice([0, 7, 31]) for h in (10, 14, 16)}
        for tile, hour in granules:
            t = datetime.datetime(2024, 6, day, hour, minute[hour])
            for y, x in itertools.product(range(3), range(3)):
                red = rng.uniform(200.0, 3000.0)
                nir = red * rng.uniform(1.0, 3.0)
                blue = rng.uniform(100.0, 1400.0)
                if tile == "T3":
                    fmask = 2
                else:
                    fmask = rng.choice([0, 0, 0, 0, 2])
                if rng.random() < 0.05:
                    red = None
                rows.append((tile, t, y, x, red, nir, blue, fmask))
    return spark.createDataFrame(
        rows,
        "tile_id string, time timestamp, y int, x int, red double, "
        "nir double, blue double, fmask int",
    )


_NO_VALID_MIN = QualityThresholds(valid_pixels_min=0.0, valid_pct_min=0.0)

PIPELINE_CASES = {
    "default": {},
    "valid_px_zero_kept": {"q": _NO_VALID_MIN},
    "no_quality_filter": {"disable_quality_filter": True},
    "kept_day_count": {"carry_kept_day_count": True},
    "no_same_day_merge": {"merge_same_day": False},
}


@pytest.mark.parametrize("case", sorted(PIPELINE_CASES))
def test_pipeline_cube_equals_window_merge(spark, case):
    """run_pipeline's cube equals the window formulation over the same
    kept pixels: identical merged time, granule count, ndvi and evi.
    Two tiles sharing a timestamp count once; a kept granule with no
    unmasked pixel is not counted."""
    from pyspark.sql import Window

    from bloomy_etl_spark.pipeline import run_pipeline

    kw = PIPELINE_CASES[case]
    res = run_pipeline(_random_raw_pixels(spark, seed=17), detect=False, **kw)
    kept = res.kept_stats.select("tile_id", "time")
    carry = ()
    if kw.get("carry_kept_day_count"):
        kept = kept.withColumn(
            "n_kept_granules",
            F.count(F.lit(1)).over(Window.partitionBy(F.to_date("time"))),
        )
        carry = ("n_kept_granules",)
    good = res.pixels.filter(~F.col("mask")).join(
        F.broadcast(kept), ["tile_id", "time"], "inner"
    ).select("tile_id", "time", "y", "x", "ndvi", "evi", *carry)
    want = _window_merge(good, kw.get("merge_same_day", True), carry)
    if case == "valid_px_zero_kept":
        empty = res.kept_stats.filter(F.col("valid_px") == 0).count()
        assert empty == 1, "the all-masked granule must be kept in this case"
    cols = want.columns
    got_rows = sorted(map(tuple, res.cube.select(*cols).collect()), key=repr)
    want_rows = sorted(map(tuple, want.collect()), key=repr)
    assert got_rows and got_rows == want_rows
    if kw.get("merge_same_day", True):
        # T1/T2 share 10:xx (counted once) and T3's all-masked 16:xx is
        # not counted, so day 2 merges exactly its 10:xx and 14:xx
        day2 = res.cube.filter(F.dayofmonth("time") == 2)
        assert {r["num_granules_merged"] for r in day2.collect()} == {2}


def test_merge_all_equals_window_merge(spark):
    """merge_all on its own (q23, q25) attaches the date-level columns
    from a broadcast aggregate of the input's times; the cube equals the
    window formulation's bit for bit."""
    px = with_indices(with_masks(_random_raw_pixels(spark, seed=5)))
    good = px.filter(~F.col("mask")).select("tile_id", "time", "y", "x", "ndvi", "evi")
    got = merge_all(good)
    want = _window_merge(good)
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, want.collect()), key=repr
    )


@given(
    n_members=st.integers(min_value=2, max_value=120),
    cap=st.integers(min_value=2, max_value=16),
)
@settings(**SETTINGS)
def test_bucket_pairs_exhaustive_no_dup(spark, n_members, cap):
    """The skew-safe chunked path must emit exactly the C(n,2) i<j pairs —
    no gaps, no duplicates — for any bucket size and chunk cap."""
    members = list(range(n_members))
    df = spark.createDataFrame([(members,)], "ms array<int>")
    got = sorted(
        (r["a"], r["b"]) for r in bucket_pairs(df, cap=cap).collect()
    )
    want = sorted(itertools.combinations(members, 2))
    assert got == want


words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])


@given(
    docs=st.lists(
        st.lists(words, min_size=3, max_size=8), min_size=2, max_size=8
    ),
    threshold=st.sampled_from([0.1, 0.5, 0.9]),
)
@settings(**SETTINGS)
def test_ngram_jaccard_matches_bruteforce(spark, docs, threshold):
    n = 2
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["i"], r["j"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, n=n, threshold=threshold).collect()
    }
    shingles = [
        {" ".join(ws[k:k + n]) for k in range(len(ws) - n + 1)} for ws in docs
    ]
    want = {}
    for i, j in itertools.combinations(range(len(docs)), 2):
        inter = len(shingles[i] & shingles[j])
        if inter == 0:
            continue
        jac = inter / len(shingles[i] | shingles[j])
        if jac >= threshold:
            want[(i, j)] = jac
    assert set(got) == set(want)
    for k, v in want.items():
        assert math.isclose(got[k], v, rel_tol=1e-9)


@given(vals=st.lists(st.one_of(st.none(), finite), min_size=1, max_size=20))
@settings(**SETTINGS)
def test_masked_indices_never_out_of_range(spark, vals):
    """After with_indices, every non-NULL ndvi ∈ [-1,1] and evi ∈ [-3,3]
    regardless of band values (P4+P5 composition)."""
    data = [
        (v, None if v is None else v * 3 + 50.0, 10.0, 0) for v in vals
    ]
    df = spark.createDataFrame(
        data, "red double, nir double, blue double, fmask int"
    )
    out = with_indices(with_masks(df)).collect()
    for r in out:
        if r["ndvi"] is not None:
            assert -1.0 <= r["ndvi"] <= 1.0
        if r["evi"] is not None:
            assert -3.0 <= r["evi"] <= 3.0


def test_bucket_pairs_carry_passthrough(spark):
    """``carry`` columns must ride along unchanged on BOTH expansion paths
    (in-row small buckets and the chunked hot-bucket path)."""
    df = spark.createDataFrame(
        [(7, list(range(3))), (9, list(range(10)))], "key int, ms array<int>"
    )
    rows = bucket_pairs(df, cap=4, carry=("key",)).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault(r["key"], []).append((r["a"], r["b"]))
    assert sorted(by_key[7]) == sorted(itertools.combinations(range(3), 2))
    assert sorted(by_key[9]) == sorted(itertools.combinations(range(10), 2))


def _pairs_per_task(pairs):
    return {
        r["pid"]: r["n"]
        for r in pairs.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_bucket_pairs_one_task_per_chunk_pair(spark, monkeypatch):
    """A hot bucket's chunk-pair rows get one task each up to
    BUCKET_PAIR_MAX_TASKS; above it they share that many tasks, each
    holding at most ceil(rows / limit) of them, and the pairs are the
    same either way."""
    from bloomy_etl_spark.operators import dedup

    cap, members = 8, list(range(80))  # k = 10 chunks → 55 chunk-pair rows
    df = spark.createDataFrame([(members,)], "ms array<int>")
    want = sorted(itertools.combinations(members, 2))

    pairs = dedup.bucket_pairs(df, cap=cap)
    per_task = _pairs_per_task(pairs)
    assert len(per_task) == 55
    assert max(per_task.values()) <= cap * cap
    assert sorted((r["a"], r["b"]) for r in pairs.collect()) == want

    monkeypatch.setattr(dedup, "BUCKET_PAIR_MAX_TASKS", 4)
    pairs = dedup.bucket_pairs(df, cap=cap)
    per_task = _pairs_per_task(pairs)
    assert len(per_task) == 4
    assert max(per_task.values()) <= math.ceil(55 / 4) * cap * cap
    assert sorted((r["a"], r["b"]) for r in pairs.collect()) == want


def test_bucket_pairs_computes_its_input_once(spark):
    """The sizing count is observed by the job that pins the buckets and
    the expansion reads that pin, so the caller's lineage (here a Python
    UDF) runs once, not once for sizing and again for the pairs."""
    calls = spark.sparkContext.accumulator(0)

    def member(i):
        calls.add(1)
        return i

    buckets = (
        spark.range(100)
        .select((F.col("id") % 2).alias("key"),
                F.udf(member, "long")("id").alias("m"))
        .groupBy("key")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
    )
    pairs = bucket_pairs(buckets, cap=8, carry=("key",))
    assert pairs.count() == 2 * math.comb(50, 2)
    assert calls.value == 100


def test_word_shingles_edges(spark):
    """Shingling edge semantics: short docs collapse to one joined-token
    shingle; exactly-n docs give one shingle; repeats dedupe but keep
    first-occurrence order."""
    from bloomy_etl_spark.functions.text import word_shingles

    df = spark.createDataFrame(
        [("one",), ("two words",), ("a b c",), ("x y x y x y",)], "text string"
    )
    got = [r[0] for r in df.select(word_shingles(F.col("text"), 3)).collect()]
    assert got == [
        ["one"],
        ["two words"],
        ["a b c"],
        ["x y x", "y x y"],
    ]


# --------------------------------------------------------------------------
# corpus-assembly properties: sessionize vs a pure-Python reference,
# packing conservation under arbitrary token profiles
# --------------------------------------------------------------------------

event_times = st.lists(
    st.integers(min_value=0, max_value=3_000_000),  # µs offsets in ~50 min
    min_size=1,
    max_size=25,
)


@given(
    times_by_user=st.dictionaries(
        st.integers(min_value=1, max_value=4), event_times, min_size=1, max_size=4
    ),
    gap_s_h=st.integers(min_value=1, max_value=2),
)
@settings(**SETTINGS)
def test_sessionize_matches_python_reference(spark, times_by_user, gap_s_h):
    """sessionize == the obvious sequential scan: sort each user's event
    times, break when the delta exceeds the gap strictly. The gap is
    whole SECONDS — sessionize's contract is gap_s: int, and a fractional
    float gap would round (gap_s*1e6) away from the integer reference at
    exact-gap boundaries."""
    import datetime

    from bloomy_etl_spark.operators.corpus import sessionize

    gap_us = gap_s_h * 1_000_000
    base = datetime.datetime(2024, 1, 1)
    rows, want = [], {}
    eid = 0
    for user, offs in times_by_user.items():
        seq = 0
        prev = None
        for off in sorted(offs):
            # event ids ordered within (user, ts) so ties are deterministic
            if prev is None or off - prev > gap_us:
                seq += 1
            rows.append((user, base + datetime.timedelta(microseconds=off), eid))
            want[eid] = seq
            prev = off
            eid += 1
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long")
    gap_s = gap_s_h
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, gap_s=gap_s).collect()
    }
    assert got == want


@given(
    toks=st.lists(st.integers(min_value=1, max_value=5000), min_size=1, max_size=60),
    budget=st.integers(min_value=1, max_value=4096),
)
@settings(**SETTINGS)
def test_pack_sequences_matches_python_reference(spark, toks, budget):
    """pack_sequences == the sequential first-fit-with-overflow packer:
    doc i opens in bin floor(sum(tokens before i) / budget)."""
    from collections import defaultdict

    from bloomy_etl_spark.operators.corpus import pack_sequences

    # build texts whose bpe_ish_token_count == the requested token count:
    # 'a' * (4 * n) has no punctuation and one word -> max(1, ceil(len/4)) = n
    rows = [("x", i, "a" * (4 * n)) for i, n in enumerate(toks)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    got = {
        (r["bin_id"]): (r["n_docs"], r["bin_tokens"])
        for r in pack_sequences(df, budget=budget).collect()
    }
    bins = defaultdict(lambda: [0, 0])
    cum = 0
    for n in toks:
        b = cum // budget
        bins[b][0] += 1
        bins[b][1] += n
        cum += n
    want = {b: tuple(v) for b, v in bins.items()}
    assert got == want


words = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=1, max_size=120
)


@given(ws=words, window=st.integers(4, 60), stride_frac=st.integers(1, 4))
@settings(**SETTINGS)
def test_chunking_covers_every_token_exactly(spark, ws, window, stride_frac):
    """Chunk windows tile the token range: first starts at 0, last ends at
    n_tok, consecutive starts advance by exactly the stride, and every
    chunk's length is in (0, window]."""
    from bloomy_etl_spark.operators.corpus import chunk_documents

    stride = max(1, window // stride_frac)
    docs = spark.createDataFrame([(1, " ".join(ws))], "doc_id long, text string")
    rows = sorted(
        chunk_documents(docs, window=window, stride=stride).collect(),
        key=lambda r: r["chunk_idx"],
    )
    n_tok = rows[0]["n_tok"]
    assert rows[0]["chunk_start"] == 0
    assert rows[-1]["chunk_start"] + rows[-1]["chunk_len"] == n_tok
    for prev, nxt in zip(rows, rows[1:]):
        assert nxt["chunk_start"] - prev["chunk_start"] == stride
    for r in rows:
        assert 0 < r["chunk_len"] <= window
    # chunk count formula: 1 + ceil(max(0, n_tok - window) / stride)
    want = 1 + max(0, -(-(max(n_tok - window, 0)) // stride))
    assert len(rows) == want


@given(
    sizes=st.lists(st.integers(1, 40), min_size=2, max_size=5),
    alpha=st.floats(0.1, 1.0, allow_nan=False),
)
@settings(**SETTINGS)
def test_mixture_rates_flatten_monotonically(spark, sizes, alpha):
    """Larger groups never get a larger keep rate, the smallest group's
    rate is exactly 1, and alpha=1 would keep everything."""
    from bloomy_etl_spark.operators.corpus import mixture_sample

    rows = [
        (g * 1000 + i, "txt", f"g{g}")
        for g, n in enumerate(sizes)
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    rates = {
        r["lang"]: r["keep_rate"]
        for r in mixture_sample(docs, group_col="lang", alpha=alpha)
        .select("lang", "keep_rate")
        .distinct()
        .collect()
    }
    by_size = sorted(range(len(sizes)), key=lambda g: sizes[g])
    assert rates[f"g{by_size[0]}"] == 1.0
    for a, b in zip(by_size, by_size[1:]):
        assert rates[f"g{a}"] >= rates[f"g{b}"] - 1e-9


@given(
    s=st.text(
        alphabet=st.characters(min_codepoint=0, max_codepoint=0x7F),
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_normalize_text_idempotent(spark, s):
    """normalize(normalize(x)) == normalize(x) for any ASCII input — the
    cleanup pass must be a projection onto its own fixed points."""
    from bloomy_etl_spark.functions.text import normalize_text

    df = spark.createDataFrame([(s,)], "t string")
    row = df.select(
        normalize_text(F.col("t")).alias("once"),
        normalize_text(normalize_text(F.col("t"))).alias("twice"),
    ).first()
    assert row["once"] == row["twice"]


# ---------------------------------------------------------------------------
# SymSpell completeness (operators/joins.py::fuzzy_value_pairs, q74):
# the deletion-neighborhood equi join must find EXACTLY the pairs the
# quadratic levenshtein join finds — completeness is the mathematical
# claim (lev(a,b) <= k ⇒ the up-to-k deletion neighborhoods intersect),
# soundness comes from the explicit verify step.
# ---------------------------------------------------------------------------
def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    vals=st.lists(
        st.text(alphabet="abc ", min_size=0, max_size=7),
        min_size=2,
        max_size=12,
    ),
    k=st.integers(min_value=1, max_value=2),
)
@settings(**SETTINGS)
def test_fuzzy_pairs_match_quadratic_reference(spark, vals, k):
    from bloomy_etl_spark.operators.joins import fuzzy_value_pairs

    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        (r["a"], r["b"], r["dist"])
        for r in fuzzy_value_pairs(df, "s", k=k).collect()
    }
    uniq = sorted(set(vals))
    want = {
        (a, b, _lev(a, b))
        for a, b in itertools.combinations(uniq, 2)
        if _lev(a, b) <= k
    }
    assert got == want


_span_words = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"])


@given(
    docs=st.lists(
        st.lists(_span_words, min_size=1, max_size=10), min_size=2, max_size=8
    ),
    span=st.sampled_from([2, 3]),
    min_spans=st.sampled_from([1, 2]),
)
@settings(**SETTINGS)
def test_shared_span_pairs_matches_bruteforce(spark, docs, span, min_spans):
    """The r6 fingerprint path (blake2b + NumPy window combine) must
    agree with a Python-set string ground truth, including the whole-doc
    fallback for docs shorter than ``span`` tokens."""
    from bloomy_etl_spark.operators.dedup import shared_span_pairs

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r["i"], r["j"]): r["n_shared"]
        for r in shared_span_pairs(
            df, span=span, min_spans=min_spans
        ).collect()
    }
    spans = [
        {" ".join(ws[k:k + span]) for k in range(len(ws) - span + 1)}
        if len(ws) >= span else {" ".join(ws)}
        for ws in docs
    ]
    want = {}
    for i, j in itertools.combinations(range(len(docs)), 2):
        n_shared = len(spans[i] & spans[j])
        if n_shared >= min_spans:
            want[(i, j)] = n_shared
    assert got == want


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1,
                   max_size=8),
    budget=st.integers(min_value=1, max_value=120),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_hamilton_apportionment_invariants(spark, sizes, budget):
    """stratified_budget_sample under arbitrary group shapes: the
    sample total is exactly min(budget, corpus); every group is within
    1 of its exact proportional quota (the Hamilton guarantee) whenever
    the budget fits; no group exceeds its population."""
    from bloomy_etl_spark.operators.corpus import stratified_budget_sample

    rows, off = [], 0
    for gi, n in enumerate(sizes):
        rows += [(off + i, f"g{gi}") for i in range(n)]
        off += n
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    total = len(rows)
    out = stratified_budget_sample(docs, budget).collect()
    assert len(out) == min(budget, total)
    per = {}
    for r in out:
        per[r["source"]] = per.get(r["source"], 0) + 1
    for gi, n in enumerate(sizes):
        got = per.get(f"g{gi}", 0)
        assert got <= n
        if budget <= total:
            exact = budget * n / total
            assert abs(got - exact) <= 1, (sizes, budget, gi, got, exact)


@given(
    events=st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(-100, 100)),
        min_size=1, max_size=120,
    ),
    span=st.integers(1, 500),
)
# a point exactly ``span`` before a later one stays in its frame; random
# draws rarely land on that boundary, so it is pinned here
@example(events=[(0, 1), (5, 2), (5, 4), (11, 8)], span=5)
@settings(max_examples=200, deadline=None)
def test_trail_step_matches_bruteforce(events, span):
    """streaming trailing-range transition ≡ the O(n²) definition:
    frame at t = all points with eus in [t−span, t], in arrival order
    (event-time order per the operator's contract). Runs the frame
    function both stateful APIs use, one single-row micro-batch per
    point, carrying the key's buffers across batches as their state
    does."""
    import pandas as pd

    from bloomy_etl_spark.streaming.stateful import _make_trail_frames

    frames = _make_trail_frames(span)
    events = sorted(events)  # the ordering contract
    eus_buf, v_buf = [], []
    for i, (t, v) in enumerate(events):
        batch = pd.DataFrame({"event_id": [i], "eus": [t], "v_e4": [v]})
        out = frames(eus_buf, v_buf, batch)
        assert out["event_id"] == [i]
        frame = [(tt, vv) for tt, vv in events[: i + 1] if tt >= t - span]
        assert out["n_1h"] == [len(frame)]
        assert out["sum_v_e4"] == [sum(vv for _, vv in frame)]
        # state bound: nothing outside the span is retained
        assert all(tt >= t - span for tt in eus_buf)


@given(
    counts=st.lists(st.integers(1, 10_000), min_size=1, max_size=12),
    budget=st.integers(1, 5_000),
    alpha=st.integers(1, 4),
)
@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_temperature_quotas_hamilton_invariants(spark, counts, budget, alpha):
    """Hamilton apportionment invariants at every α: allocations sum to
    the budget exactly, and each group's seat count is within 1 of its
    real-valued share (the no-float-drift guarantee)."""
    from bloomy_etl_spark.operators.corpus import temperature_quotas

    rows = [(f"g{i:02d}", j) for i, n in enumerate(counts) for j in range(n)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    out = temperature_quotas(df, budget=budget, alpha_quarters=alpha).collect()
    assert sum(r["alloc"] for r in out) == budget
    wsum = sum(r["w_e6"] for r in out)
    for r in out:
        exact = budget * r["w_e6"] / wsum
        assert exact - 1 < r["alloc"] < exact + 1
