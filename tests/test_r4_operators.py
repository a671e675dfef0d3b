"""Operator-level semantics for the round-4 additions: domain capping,
corpus-LM scoring, shared-substring dedup, and BPE training."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from bloomy_etl_spark.operators import corpus as C
from bloomy_etl_spark.operators.bpe import (
    bpe_merge_table,
    bpe_segment,
    bpe_train,
    word_frequencies,
)
from bloomy_etl_spark.operators.dedup import shared_span_pairs

from tests.conftest import SF_ORACLE


class TestDomainCap:
    def test_cap_enforced_and_deterministic(self, spark):
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        out = C.domain_cap(docs, cap=5).cache()
        per = out.filter("kept").groupBy("source").count()
        assert per.filter(F.col("count") > 5).count() == 0
        # every row is ranked, none dropped
        assert out.count() == docs.count()
        # determinism under repartitioning: identical kept set
        a = {r["doc_id"] for r in out.filter("kept").collect()}
        b = {
            r["doc_id"]
            for r in C.domain_cap(docs.repartition(7), cap=5)
            .filter("kept")
            .collect()
        }
        assert a == b
        out.unpersist()
        with pytest.raises(ValueError):
            C.domain_cap(docs, cap=0)

    def test_prefilter_keeps_identical_set(self, spark):
        """The scale prefilter must select the SAME kept documents as the
        exact path (rank order preserved under the hash cutoff)."""
        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        exact = {r["doc_id"] for r in C.domain_cap(docs, cap=5).filter("kept").collect()}
        pre = {
            r["doc_id"]
            for r in C.domain_cap(docs, cap=5, prefilter_margin=2.0)
            .filter("kept")
            .collect()
        }
        assert exact == pre


class TestBigramLmScore:
    def test_matches_python_reference(self, spark):
        """avg_logprob equals the hand-computed add-one-smoothed
        unigram-conditional bigram logprob mean on a tiny corpus."""
        rows = [
            (1, "the cat sat"),
            (2, "the cat ran"),
            (3, "a dog sat"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in C.bigram_lm_score(df).collect()}

        toks = {i: t.split() for i, t in rows}
        bigrams = {i: list(zip(ws, ws[1:])) for i, ws in toks.items()}
        from collections import Counter

        bc = Counter(bg for bgs in bigrams.values() for bg in bgs)
        uc = Counter(w for ws in toks.values() for w in ws)
        v = len(uc)
        for i, bgs in bigrams.items():
            ref = sum(
                math.log((bc[bg] + 1.0) / (uc[bg[0]] + float(v))) for bg in bgs
            ) / len(bgs)
            assert out[i]["avg_logprob"] == pytest.approx(ref, rel=1e-12)
            assert out[i]["n_bigrams"] == len(bgs)
            assert out[i]["sum_freq"] == sum(bc[bg] for bg in bgs)
            assert out[i]["n_rare"] == sum(1 for bg in bgs if bc[bg] == 1)
        # 'the cat' appears twice -> doc 1 and 2 score higher (less rare)
        # than the all-hapax doc 3
        assert out[1]["avg_logprob"] > out[3]["avg_logprob"]


class TestSharedSpans:
    def test_copied_passage_detected(self, spark):
        passage = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        rows = [
            (1, f"unique one two three {passage} four five"),
            (2, f"completely different words here {passage} tail tokens"),
            (3, "no overlap at all in this document body text"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {(r["i"], r["j"]): r["n_shared"]
                 for r in shared_span_pairs(df, span=8).collect()}
        assert pairs == {(1, 2): 1}

    def test_jaccard_blind_span_caught(self, spark):
        """Two long docs sharing ONE 8-token passage have tiny Jaccard —
        exactly the case this operator exists for."""
        from bloomy_etl_spark.operators.dedup import ngram_jaccard_pairs

        passage = " ".join(f"p{i}" for i in range(8))
        a = " ".join(f"a{i}" for i in range(60)) + " " + passage
        b = " ".join(f"b{i}" for i in range(60)) + " " + passage
        df = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )
        jac = ngram_jaccard_pairs(df, threshold=0.8).collect()
        assert jac == []  # invisible to the 0.8-Jaccard gate
        spans = shared_span_pairs(df, span=8).collect()
        assert len(spans) == 1 and spans[0]["n_shared"] == 1

    def test_min_spans_and_stop_span_cap(self, spark):
        boiler = " ".join(f"x{i}" for i in range(8))
        # per-doc context fully distinct so ONLY the boilerplate window
        # is shared (a common context word would add a second span)
        rows = [(i, f"a{i} b{i} c{i} {boiler} d{i}") for i in range(1, 6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # the boilerplate span links all C(5,2)=10 pairs
        assert shared_span_pairs(df, span=8).count() == 10
        # ...and the stop-span cap removes it entirely
        assert shared_span_pairs(df, span=8, max_doc_freq=3).count() == 0
        # min_spans=2 filters single-span pairs
        assert shared_span_pairs(df, span=8, min_spans=2).count() == 0


def _ref_winnow(text: str, k: int = 5, w: int = 4) -> set[int]:
    """Pure-Python winnowing reference (Schleimer et al. §4: min hash
    per window, value-based selection, distinct selected set)."""
    import hashlib
    import re

    toks = re.split(r"[ \t\n\r\f\v]+", text)
    if len(toks) >= k:
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    else:
        grams = [" ".join(toks)]
    hs = [
        int.from_bytes(hashlib.md5(g.encode()).digest()[:8], "big")
        for g in grams
    ]
    if len(hs) >= w:
        return {min(hs[p:p + w]) for p in range(len(hs) - w + 1)}
    return {min(hs)}


class TestWinnowing:
    def test_copied_passage_guarantee(self, spark):
        """Any shared k+w−1 = 8-token passage must yield ≥1 shared
        selected fingerprint — the winnowing catch guarantee."""
        from bloomy_etl_spark.operators.dedup import winnow_fingerprint_pairs

        passage = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (1, f"unique one two three {passage} four five"),
            (2, f"completely different words here {passage} tail tokens"),
            (3, "no overlap at all in this document body text"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = {(r["i"], r["j"]): r["n_shared"]
                 for r in winnow_fingerprint_pairs(df, k=5, window=4).collect()}
        assert set(pairs) == {(1, 2)} and pairs[(1, 2)] >= 1

    def test_matches_python_reference(self, spark):
        """Operator pair counts == |sel_i ∩ sel_j| of the pure-Python
        winnow on every doc pair (selection-set equality, not just
        nonemptiness)."""
        from bloomy_etl_spark.operators.dedup import winnow_fingerprint_pairs

        boiler = " ".join(f"x{i}" for i in range(9))
        rows = [
            (i, f"a{i} b{i} {boiler} c{i} " + " ".join(
                f"w{(i * 7 + j) % 13}" for j in range(20)))
            for i in range(1, 7)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r["i"], r["j"]): r["n_shared"]
               for r in winnow_fingerprint_pairs(df, k=5, window=4).collect()}
        sel = {i: _ref_winnow(t) for i, t in rows}
        want = {}
        for i, _ in rows:
            for j, _ in rows:
                if i < j and sel[i] & sel[j]:
                    want[(i, j)] = len(sel[i] & sel[j])
        assert got == want and len(want) >= 1

    def test_density_subsamples_grams(self, spark):
        """Winnowing must select strictly fewer fingerprints than the
        full gram index on a long document (expected density 2/(w+1)),
        and every selected fingerprint is one of the doc's gram hashes."""
        import hashlib

        from bloomy_etl_spark.operators.dedup import _winnow_fp_batches
        import pandas as pd

        text = " ".join(f"t{(i * 31) % 101}x{i % 7}" for i in range(300))
        out = pd.concat(list(_winnow_fp_batches(5, 4)(
            iter([pd.DataFrame({"doc_id": [1], "text": [text]})])
        )))
        n_grams = 300 - 5 + 1
        toks = text.split(" ")
        gram_hashes = {
            int.from_bytes(
                hashlib.md5(" ".join(toks[i:i + 5]).encode()).digest()[:8],
                "big",
            )
            for i in range(n_grams)
        }
        sel = {x & ((1 << 64) - 1) for x in out["fp"]}
        assert sel <= gram_hashes
        # density: distinct-selected ≤ window-min count ≈ 2n/(w+1) —
        # allow slack (distinctness only shrinks it)
        assert len(sel) < n_grams * 0.6

    def test_stop_fingerprint_cap(self, spark):
        from bloomy_etl_spark.operators.dedup import winnow_fingerprint_pairs

        boiler = " ".join(f"x{i}" for i in range(8))
        rows = [(i, f"a{i} b{i} c{i} {boiler} d{i}") for i in range(1, 6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        assert winnow_fingerprint_pairs(df, k=5, window=4).count() == 10
        # the cap drops the corpus-wide boilerplate fingerprint; windows
        # straddling doc-specific context can still select a boiler gram
        # for a SUBSET of docs (selection is value-dependent per doc),
        # so capped output shrinks but need not vanish ...
        assert winnow_fingerprint_pairs(
            df, k=5, window=4, max_doc_freq=3
        ).count() < 10
        # ... while a cap below any shared posting's size removes all
        assert winnow_fingerprint_pairs(
            df, k=5, window=4, max_doc_freq=1
        ).count() == 0


class TestBpe:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "low low low low low lower lower newest newest"),
            (2, "newest newest newest newest widest widest widest"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_word_frequencies_filters_and_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "ab ab 123 c-d ab")], "doc_id long, text string"
        )
        wf = {r["w"]: r["cnt"] for r in word_frequencies(df).collect()}
        assert wf == {"ab": 3}  # non-alphabetic tokens excluded

    def test_merges_match_hand_computed(self, spark, corpus):
        """Sennrich's worked example shape: the most frequent adjacent
        char pair merges first; weighted by word frequency."""
        merges, vocab = bpe_train(corpus, rounds=3)
        # word counts: low:5 lower:2 newest:6 widest:3
        # round 1 pair counts: (e,s)=9, (s,t)=9, (e,w)=6, (n,e)=6, ...
        # tie (e,s)/(s,t) at 9 -> lexicographic: (e,s)
        m1 = merges[0]
        assert (m1["lhs"], m1["rhs"], m1["pair_count"]) == ("e", "s", 9)
        # round 2: (es,t)=9 is now the top pair
        m2 = merges[1]
        assert (m2["lhs"], m2["rhs"], m2["merged"]) == ("es", "t", "est")
        assert m2["pair_count"] == 9
        # round 3: (l,o) and (o,w) both 7 (low:5 + lower:2) beat the
        # est-family pairs at 6; tie breaks lexicographically -> (l,o)
        m3 = merges[2]
        assert (m3["lhs"], m3["rhs"], m3["pair_count"]) == ("l", "o", 7)
        # final vocab reps still well-formed delimited symbols
        reps = {r["w"]: r["rep"] for r in vocab.collect()}
        assert reps["newest"].endswith("<est>")

    def test_greedy_overlap_rule(self, spark):
        """'aaaa' under merge (a,a): greedy leftmost non-overlap gives
        [aa, aa] — the replace-based merge must not chain overlaps."""
        df = spark.createDataFrame(
            [(1, "aaaa aaaa aa")], "doc_id long, text string"
        )
        merges, vocab = bpe_train(df, rounds=1)
        assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "a")
        # aaaa -> <aa><aa>; aa -> <aa>
        reps = {r["w"]: r["rep"] for r in vocab.collect()}
        assert reps["aaaa"] == "<aa><aa>"
        assert reps["aa"] == "<aa>"

    def test_merge_table_and_segment(self, spark, corpus):
        mt = bpe_merge_table(corpus, rounds=3)
        assert [r["round"] for r in mt.collect()] == [1, 2, 3]
        merges, _ = bpe_train(corpus, rounds=3)
        seg = {r["doc_id"]: r for r in bpe_segment(corpus, merges).collect()}
        # merging only ever shrinks: bpe_tokens <= char_tokens
        for r in seg.values():
            assert r["bpe_tokens"] <= r["char_tokens"]
            assert 0 < r["compression"] <= 1.0
        with pytest.raises(ValueError):
            bpe_train(corpus, rounds=0)


class TestHtmlToText:
    def _one(self, spark, html: str) -> str:
        from bloomy_etl_spark.functions.text import html_to_text

        df = spark.createDataFrame([(html,)], "h string")
        return df.select(html_to_text(F.col("h")).alias("t")).first()["t"]

    def test_scripts_styles_and_tags_stripped(self, spark):
        html = ("<html><head><style>p{x:1}</style>"
                "<SCRIPT>if (1<2) alert('x');\nmore();</SCRIPT></head>"
                "<body><h1>Title</h1><p>hello <b>world</b></p>"
                "<!-- a comment --></body></html>")
        assert self._one(spark, html) == "Title hello world"

    def test_entity_order_no_double_decode(self, spark):
        # the author wrote the literal string "&lt;" — it must decode to
        # "<" exactly once, and "&amp;lt;" to the literal "&lt;"
        assert self._one(spark, "<p>a &amp; b</p>") == "a & b"
        assert self._one(spark, "<p>&amp;lt;</p>") == "&lt;"
        assert self._one(spark, "<p>x&nbsp;y &quot;z&quot;</p>") == 'x y "z"'

    def test_malformed_degrades_not_errors(self, spark):
        # unclosed tag: stripped to the text that follows; never an error
        assert self._one(spark, "<p>ok <broken") == "ok <broken"
        assert self._one(spark, "plain text, no markup") == "plain text, no markup"


class TestBpeProperty:
    def test_matches_python_reference_on_random_corpora(self, spark):
        """bpe_train == the sequential Sennrich reference (pair counting,
        lexicographic ties, greedy leftmost non-overlapping merge) on a
        battery of small random corpora. Deterministic seeds, no
        hypothesis-Spark interop needed."""
        import random

        from collections import Counter

        def ref_bpe(words: dict[str, int], rounds: int):
            reps = {w: [*w] for w in words}
            merges = []
            for r in range(1, rounds + 1):
                pc = Counter()
                for w, syms in reps.items():
                    for a, b in zip(syms, syms[1:]):
                        pc[(a, b)] += words[w]
                if not pc:
                    break
                # max count, ties lexicographic on (lhs, rhs)
                best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
                (a, b), c = best
                merges.append((r, a, b, a + b, c))
                for w, syms in reps.items():
                    out, i = [], 0
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            out.append(a + b)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    reps[w] = out
            return merges

        rng = random.Random(42)
        alphabet = "abc"
        for trial in range(6):
            n_words = rng.randint(2, 8)
            words = {}
            for _ in range(n_words):
                w = "".join(rng.choice(alphabet)
                            for _ in range(rng.randint(1, 6)))
                words[w] = words.get(w, 0) + rng.randint(1, 5)
            text = " ".join(
                w for w, c in sorted(words.items()) for _ in range(c)
            )
            df = spark.createDataFrame([(1, text)], "doc_id long, text string")
            got, _ = bpe_train(df, rounds=4)
            want = ref_bpe(words, 4)
            got_t = [(m["round"], m["lhs"], m["rhs"], m["merged"],
                      m["pair_count"]) for m in got]
            assert got_t == want, (trial, words, got_t, want)


class TestEmptyInputs:
    """Operators must degrade to empty results (or a documented raise)
    on empty corpora — a daily partition CAN be empty at 100 TB."""

    @pytest.fixture(scope="class")
    def empty_docs(self, spark):
        return spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string, n_chars long"
        )

    def test_dedup_and_spans_empty(self, spark, empty_docs):
        from bloomy_etl_spark.operators import dedup as D

        assert D.exact_duplicates(empty_docs).count() == 0
        assert D.ngram_jaccard_pairs(empty_docs).count() == 0
        assert shared_span_pairs(empty_docs, span=8).count() == 0

    def test_corpus_ops_empty(self, spark, empty_docs):
        assert C.domain_cap(empty_docs, cap=5).count() == 0
        assert C.pack_sequences(empty_docs).count() == 0
        assert C.pack_sequences(empty_docs, n_shards=4).count() == 0
        assert C.bigram_lm_score(empty_docs).count() == 0
        assert C.mixture_sample(empty_docs).count() == 0
        assert C.assign_split(empty_docs).count() == 0
        # documented raises on empty: blend has no binding group
        with pytest.raises(ValueError):
            C.blend_to_target(empty_docs, {"en": 1.0})

    def test_bpe_empty(self, spark, empty_docs):
        merges, vocab = bpe_train(empty_docs, rounds=2)
        assert merges == [] and vocab.count() == 0
        assert bpe_merge_table(empty_docs, rounds=2).count() == 0


class TestCountMinSketch:
    def test_one_sided_error_and_collisions(self, spark):
        """A deliberately narrow sketch (4x8) over a 100-word vocabulary
        MUST collide: estimates never under-count, and at least one key
        over-counts (proving the min-over-rows path is real)."""
        from bloomy_etl_spark.operators.sketches import cms_build, cms_estimate
        from bloomy_etl_spark.sources.tables import load_table
        from bloomy_etl_spark.functions.text import tokens

        docs = load_table(spark, SF_ORACLE, "documents")
        words = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        sketch = cms_build(words, "w", depth=4, width=8)
        exact = words.groupBy("w").agg(F.count(F.lit(1)).alias("exact"))
        est = cms_estimate(sketch, exact.select("w"), "w", depth=4, width=8)
        joined = exact.join(est, "w").collect()
        assert all(r["est"] >= r["exact"] for r in joined)
        assert any(r["est"] > r["exact"] for r in joined)
        # sketch state is bounded by d*w regardless of corpus size
        assert sketch.count() <= 4 * 8

    def test_disjoint_slice_merge_equals_full_build(self, spark):
        """Sketches of disjoint slices add cell-wise to the sketch of
        the whole corpus: the merge an incremental caller performs."""
        from bloomy_etl_spark.operators.sketches import cms_build
        from bloomy_etl_spark.sources.tables import load_table
        from bloomy_etl_spark.functions.text import tokens

        docs = load_table(spark, SF_ORACLE, "documents")
        words = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
        full = cms_build(words, "w", width=64)
        a = cms_build(words.filter(F.col("doc_id") % 2 == 0), "w", width=64)
        b = cms_build(words.filter(F.col("doc_id") % 2 == 1), "w", width=64)
        merged = a.unionByName(b).groupBy("row", "bucket").agg(
            F.sum("cnt").alias("cnt"))
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, full.collect())
        )

    def test_bad_args(self, spark):
        from bloomy_etl_spark.operators.sketches import cms_build

        df = spark.createDataFrame([("x",)], "w string")
        with pytest.raises(ValueError):
            cms_build(df, "w", depth=0)


class TestWeightedSample:
    def test_matches_python_reference_and_determinism(self, spark):
        """Same A-ES keys as a sequential Python reference using the
        identical salted-hash uniform; stable under repartitioning."""
        import hashlib

        from bloomy_etl_spark.sources.tables import load_table

        docs = load_table(spark, SF_ORACLE, "documents")
        got = [r["doc_id"] for r in
               C.weighted_sample(docs, k=10, weight_col="n_chars").collect()]

        rows = docs.select("doc_id", "n_chars").collect()

        def key(doc_id, w):
            h = int(hashlib.md5(f"wsample:{doc_id}".encode()).hexdigest()[:8], 16)
            u = ((h % 1_000_000) + 0.5) / 1_000_000.0
            return u ** (1.0 / w)

        want = [d for d, _ in sorted(
            ((r["doc_id"], key(r["doc_id"], r["n_chars"])) for r in rows),
            key=lambda t: (-t[1], t[0]),
        )[:10]]
        assert got == want
        again = [r["doc_id"] for r in
                 C.weighted_sample(docs.repartition(9), k=10,
                                   weight_col="n_chars").collect()]
        assert got == again

    def test_weight_proportionality(self, spark):
        """A doc with overwhelming weight must make the sample; zero /
        NULL weights are excluded."""
        rows = [(i, 1.0) for i in range(100)] + [(1000, 1e9), (2000, 0.0),
                                                 (3000, None)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = {r["doc_id"] for r in C.weighted_sample(df, k=5, weight_col="w").collect()}
        assert 1000 in got and 2000 not in got and 3000 not in got
        with pytest.raises(ValueError):
            C.weighted_sample(df, k=0, weight_col="w")


class TestRetrievalScoring:
    def test_bm25_matches_python_reference(self, spark):
        import math

        rows = [
            (1, "spark query fast fast table"),
            (2, "slow table table table scan"),
            (3, "unrelated words entirely here"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        terms = ["fast", "table", "query"]
        got = {r["doc_id"]: r["bm25"]
               for r in C.bm25_score(df, terms).collect()}

        toks = {i: t.split() for i, t in rows}
        n = len(rows)
        avgdl = sum(len(ws) for ws in toks.values()) / n
        dfc = {t: sum(1 for ws in toks.values() if t in ws) for t in terms}
        k1, b = 1.2, 0.75

        def score(i):
            s = 0.0
            for t in terms:
                tf = toks[i].count(t)
                if tf == 0:
                    continue
                idf = math.log((n - dfc[t] + 0.5) / (dfc[t] + 0.5) + 1.0)
                dl = len(toks[i])
                s += idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
            return s

        for i in (1, 2):
            assert got[i] == pytest.approx(score(i), rel=1e-12)
        assert 3 not in got  # no query-term hits -> no row
        # doc 1 hits more distinct rare terms than the table-stuffed doc 2
        assert got[1] > got[2]
        with pytest.raises(ValueError):
            C.bm25_score(df, [])
        with pytest.raises(ValueError):
            C.tfidf_score(df, [])


class TestDistributionDrift:
    def test_new_group_and_empty_ref(self, spark):
        ref = spark.createDataFrame([(i, "en") for i in range(8)]
                                    + [(9, "de")], "doc_id long, lang string")
        new = spark.createDataFrame([(i, "en") for i in range(4)]
                                    + [(5, "fr")], "doc_id long, lang string")
        out = {r["lang"]: r for r in C.distribution_drift(ref, new).collect()}
        # fr exists only in new: flagged, chi2 undefined
        assert out["fr"]["is_new"] and out["fr"]["chi2_contrib"] is None
        # de vanished: observed 0 against a positive expectation
        assert out["de"]["new_n"] == 0 and out["de"]["chi2_contrib"] > 0
        # en expected = 5 * 8/9
        assert out["en"]["expected"] == pytest.approx(5 * 8 / 9, abs=1e-4)
        empty = spark.createDataFrame([], "doc_id long, lang string")
        with pytest.raises(ValueError):
            C.distribution_drift(empty, new)
