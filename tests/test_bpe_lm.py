"""BPE merge training (exact twin vs a pure-Python reference) and
unigram-surprisal scoring."""

import collections

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import bpe as B
from tidb_cdc_spark.functions import lm as L


def ref_bpe(texts: list[str], n_merges: int, min_pair_count: int = 2):
    """Reference BPE (Sennrich ACL'16, the textbook dict version):
    same tokenization (lower, whitespace), same EOW marker, same tie
    order (count desc, then (left, right) asc), same non-overlapping
    left-to-right merge application."""
    vocab = collections.Counter()
    for t in texts:
        for w in (t or "").lower().split():
            vocab[w] += 1
    syms = {w: list(w) + [B.EOW] for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs = collections.Counter()
        for w, c in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        if c < min_pair_count:
            break
        merges.append((l, r, l + r, c))
        for w in vocab:
            s = syms[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest wide",
    "low and newer and wide",
]


@pytest.mark.slow  # slow tier: reference-merge-sequence battery
class TestBpeTrain:
    def test_merge_sequence_matches_reference_exactly(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TEXTS)), "doc_id long, text string"
        )
        got = [
            (r.left, r.right, r.merged, r.pair_count)
            for r in B.bpe_train(docs, n_merges=12).orderBy("rank").collect()
        ]
        want = ref_bpe(TEXTS, 12)
        assert got == want and len(got) > 5

    def test_merge_sequence_matches_reference_on_testdata(self, spark):
        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text")
        )
        texts = [r.text for r in docs.collect()]
        got = [
            (r.left, r.right, r.merged, r.pair_count)
            for r in B.bpe_train(docs, n_merges=8).orderBy("rank").collect()
        ]
        assert got == ref_bpe(texts, 8)

    def test_early_stop_below_min_count(self, spark):
        docs = spark.createDataFrame(
            [(0, "ab cd ef")], "doc_id long, text string"
        )
        # every pair occurs once < min_pair_count=2 -> zero merges
        assert B.bpe_train(docs, n_merges=5).count() == 0

    def test_overlapping_pair_counting(self, spark):
        docs = spark.createDataFrame(
            [(0, "aaaa aaaa aaaa")], "doc_id long, text string"
        )
        merges = B.bpe_train(docs, n_merges=1).collect()
        assert (merges[0].left, merges[0].right) == ("a", "a")
        # COUNTING counts overlapping adjacencies (textbook get_stats):
        # 3 per "aaaa" × 3 occurrences
        assert merges[0].pair_count == 9


class TestUnigramSurprisal:
    def test_values_match_hand_computation(self, spark):
        docs = spark.createDataFrame(
            [(0, "a a b"), (1, "b c")], "doc_id long, text string"
        )
        # counts: a=2, b=2, c=1; N=5 -> floor_log2(5)=2
        # bits: a -> 2-1=1, b -> 2-1=1, c -> 2-0=2
        out = {r.doc_id: r for r in L.unigram_surprisal(docs).collect()}
        assert out[0].n_tokens == 3 and out[0].sum_bits == 1 + 1 + 1
        assert out[1].n_tokens == 2 and out[1].sum_bits == 1 + 2
        assert out[1].mean_mbits == 3 * 1_000_000 // 2

    def test_rare_vocab_scores_higher(self, spark):
        rows = [(i, "the the the common words here") for i in range(20)]
        rows.append((99, "zyxwvut qponmlk jihgfed"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r.mean_mbits for r in L.unigram_surprisal(docs).collect()}
        assert out[99] > out[0]

    def test_zero_token_docs_drop(self, spark):
        docs = spark.createDataFrame(
            [(0, "some text"), (1, "   "), (2, "")], "doc_id long, text string"
        )
        assert {r.doc_id for r in L.unigram_surprisal(docs).collect()} == {0}


class TestBigramSurprisal:
    def test_hand_computed_example(self, spark):
        import math

        from tidb_cdc_spark.functions.lm import bigram_surprisal

        # corpus: "a b a b" and "a c"
        # unigrams: a=3, b=2, c=1; bigrams: (a,b)=2, (b,a)=1, (a,c)=1
        docs = spark.createDataFrame(
            [(0, "a b a b"), (1, "a c")], "doc_id long, text string"
        )
        out = bigram_surprisal(docs).toPandas().set_index("doc_id")

        def bits(c1, c12):
            return int(math.log2(c1)) - int(math.log2(c12))

        # doc 0: bigrams (a,b)x2 + (b,a)x1
        d0 = 2 * bits(3, 2) + 1 * bits(2, 1)
        assert out.loc[0, "n_bigrams"] == 3
        assert out.loc[0, "sum_bits"] == d0
        assert out.loc[0, "mean_mbits"] == d0 * 1_000_000 // 3
        # doc 1: one bigram (a,c): bits(3,1)=1
        assert out.loc[1, "n_bigrams"] == 1
        assert out.loc[1, "sum_bits"] == bits(3, 1)

    def test_single_token_doc_drops(self, spark):
        from tidb_cdc_spark.functions.lm import bigram_surprisal

        docs = spark.createDataFrame(
            [(0, "solo"), (1, "two tokens")], "doc_id long, text string"
        )
        out = bigram_surprisal(docs).toPandas()
        assert set(out.doc_id) == {1}

    def test_word_salad_scores_above_natural_order(self, spark):
        from tidb_cdc_spark.functions.lm import bigram_surprisal

        # corpus dominated by the phrase "the quick fox"; a doc with
        # the same WORDS in scrambled order has rarer bigrams ⇒ more
        # conditional bits despite identical unigram profile
        base = [(i, "the quick fox") for i in range(20)]
        docs = spark.createDataFrame(
            base + [(100, "fox the quick")], "doc_id long, text string"
        )
        out = bigram_surprisal(docs).toPandas().set_index("doc_id")
        assert out.loc[100, "mean_mbits"] > out.loc[0, "mean_mbits"]


class TestSurprisalBuckets:
    def test_equal_thirds_total_order_and_head_is_fluent(self, spark):
        from tidb_cdc_spark.functions.lm import surprisal_buckets

        # 12 docs over a SHARED 10-word vocabulary (the conditional
        # measure scores common-words-in-uncommon-ORDER; unique-token
        # gibberish has c1 = c12 = 1 ⇒ 0 bits and reads as fluent):
        # 4 fluent (one sequence repeated), 4 middling (fluent runs +
        # one shuffled run), 4 salad (only shuffled runs, distinct
        # stride permutation per doc) — bucket sizes must be exactly
        # equal (12 div 3) and the bands must match the construction
        W = [f"w{i}" for i in range(10)]
        fluent = " ".join(W) + " "
        rows = []
        for i in range(4):
            rows.append((i, fluent * 5))
        for i in range(4, 8):
            stride = [W[(j * (i - 1)) % 10] for j in range(10)]
            rows.append((i, fluent * 2 + " ".join(stride)))
        for i in range(8, 12):
            stride = [W[(j * (i - 4)) % 10] for j in range(10)]
            rows.append(
                (i, " ".join(stride) + " " + " ".join(stride[::-1]))
            )
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = surprisal_buckets(docs, n_buckets=3).collect()
        assert sorted(r.rank for r in out) == list(range(1, 13))
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r.bucket, []).append(r.doc_id)
        assert {b: len(v) for b, v in by_bucket.items()} == {0: 4, 1: 4, 2: 4}
        assert set(by_bucket[0]) == {0, 1, 2, 3}    # head = fluent
        assert set(by_bucket[2]) == {8, 9, 10, 11}  # tail = shuffled

    def test_matches_single_window_reference(self, spark):
        """The banded two-level rank must equal the naive global
        row_number formula exactly (the DuckDB oracle's form)."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from tidb_cdc_spark.functions.lm import (
            bigram_surprisal,
            surprisal_buckets,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        got = {
            (r.doc_id, r.rank, r.bucket)
            for r in surprisal_buckets(docs, n_buckets=3).collect()
        }
        s = bigram_surprisal(docs)
        n = s.count()
        w = Window.orderBy("mean_mbits", "doc_id")
        ref = {
            (r.doc_id, r.rank, r.bucket)
            for r in s.withColumn(
                "rank", F.row_number().over(w).cast("long")
            )
            .withColumn(
                "bucket",
                F.expr(f"CAST(((rank - 1) * 3) DIV {n}L AS INT)"),
            )
            .select("doc_id", "rank", "bucket")
            .collect()
        }
        assert got == ref

    def test_empty_corpus(self, spark):
        from tidb_cdc_spark.functions.lm import surprisal_buckets

        out = surprisal_buckets(
            spark.createDataFrame([], "doc_id long, text string")
        )
        assert out.count() == 0


class TestCollocations:
    def test_matches_pure_python_and_planted_mwe(self, spark):
        """'san francisco' always co-occurs (planted MWE) — it must
        out-PMI the incidental pairs; scores match a dict twin."""
        from tidb_cdc_spark.functions.lm import collocations

        rows = [
            (i, "san francisco is a city and the fog is a thing " * 2)
            for i in range(4)
        ] + [
            # the function words appear in OTHER contexts too, so
            # their pairs are less exclusive than the planted MWE
            (10 + i, "the cat and a dog is so big on top the end and on it so")
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [
            (r.w1, r.w2, r.c12, r.pmi_bits)
            for r in collocations(df, min_count=3, k=50).collect()
        ]

        # dict twin
        toks = [t for _, x in rows for t in x.lower().split()]
        from collections import Counter

        uc = Counter(toks)
        bc = Counter()
        for _, x in rows:
            tl = x.lower().split()
            for a, b in zip(tl, tl[1:]):
                bc[(a, b)] += 1
        n = sum(bc.values())
        fl = lambda v: len(bin(v)) - 2  # noqa: E731
        expect = sorted(
            (
                (w1, w2, c, fl(c) + fl(n) - fl(uc[w1]) - fl(uc[w2]))
                for (w1, w2), c in bc.items()
                if c >= 3
            ),
            key=lambda t: (-t[3], t[0], t[1]),
        )[:50]
        assert got == expect
        # whole-bit PMI ties all maximally-exclusive pairs; the
        # planted MWE must sit in that top band and beat every
        # function-word pair
        by_pair = {(w1, w2): p for w1, w2, _c, p in got}
        top_bits = got[0][3]
        assert by_pair[("san", "francisco")] == top_bits
        for pair in (("is", "a"), ("and", "the"), ("a", "city")):
            if pair in by_pair:
                assert by_pair[pair] < top_bits

    def test_min_count_floor_drops_one_offs(self, spark):
        from tidb_cdc_spark.functions.lm import collocations

        df = spark.createDataFrame(
            [(0, "rare pair here"), (1, "other words only")],
            "doc_id long, text string",
        )
        assert collocations(df, min_count=2, k=10).count() == 0
