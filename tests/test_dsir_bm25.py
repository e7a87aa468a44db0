"""DSIR importance resampling, BM25 retrieval, and token entropy —
planted-contrast properties plus pure-Python integer twins (the
oracle mirror in test_queries_oracle.py covers the DuckDB side)."""

import hashlib
import math

import pytest

from pyspark.sql import functions as F


def _mk_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ------------------------------------------------------------ DSIR
def test_dsir_planted_contrast(spark):
    """Docs written in the target domain's vocabulary must outweigh
    docs from a disjoint vocabulary — the op's whole point."""
    from tidb_cdc_spark.functions.dsir import dsir_weights

    target_like = [(i, "alpha beta gamma delta " * 5) for i in range(4)]
    salad = [(i, "zig zag quux blort " * 5) for i in range(4, 8)]
    raw = _mk_docs(spark, target_like + salad)
    tgt = _mk_docs(spark, [(100, "alpha beta gamma delta " * 10)])
    w = {r["doc_id"]: r["weight_bits"] for r in dsir_weights(raw, tgt).collect()}
    assert min(w[i] for i in range(4)) > max(w[i] for i in range(4, 8))


def test_dsir_weights_match_pure_python(spark):
    """Bit-exact twin: recompute buckets (md5), Laplace whole-bit
    log-ratios, and weights in pure Python."""
    from tidb_cdc_spark.functions.dsir import dsir_weights

    dim = 16
    rows = [
        (0, "a b c a"),
        (1, "b b d"),
        (2, "e f"),
        (3, "a a a a a"),
    ]
    raw = _mk_docs(spark, rows)
    tgt = _mk_docs(spark, [(9, "a b a b c")])

    def bucket(term):
        h = hashlib.md5(term.encode()).hexdigest()
        return int(h[:8], 16) % dim

    def counts(docs):
        c = {}
        for _, text in docs:
            for t in text.lower().split():
                b = bucket(t)
                c[b] = c.get(b, 0) + 1
        return c

    def fl2len(n):
        return len(bin(n)) - 2  # Python bin() prefixes '0b'

    cr, ct = counts(rows), counts([(9, "a b a b c")])
    nr, nt = sum(cr.values()), sum(ct.values())
    bits = {
        b: (fl2len(nr + dim) - fl2len(cr[b] + 1))
        - (fl2len(nt + dim) - fl2len(ct.get(b, 0) + 1))
        for b in cr
    }
    expect = {}
    for did, text in rows:
        toks = text.lower().split()
        expect[did] = sum(bits[bucket(t)] for t in toks)
    got = {
        r["doc_id"]: r["weight_bits"]
        for r in dsir_weights(raw, tgt, dim=dim).collect()
    }
    assert got == expect


def test_dsir_select_fraction_and_order(spark):
    from tidb_cdc_spark.functions.dsir import dsir_select

    rows = [(i, ("alpha " * (i + 1)) + "omega") for i in range(8)]
    raw = _mk_docs(spark, rows)
    tgt = _mk_docs(spark, [(9, "alpha alpha alpha")])
    out = dsir_select(raw, tgt, keep_ppm=250_000).orderBy("rank").collect()
    assert [r["rank"] for r in out] == list(range(1, 9))
    # ranks follow (weight DESC, id ASC) total order
    w = [(r["weight_bits"], -r["doc_id"]) for r in out]
    assert w == sorted(w, reverse=True)
    assert sum(r["selected"] for r in out) == 2  # 25% of 8


def test_dsir_select_empty(spark):
    from tidb_cdc_spark.functions.dsir import dsir_select

    raw = _mk_docs(spark, []).filter(F.lit(False))
    tgt = _mk_docs(spark, [(0, "a")])
    assert dsir_select(raw, tgt).count() == 0


# ------------------------------------------------------------ BM25
def _bm25_pure(rows, queries, k=5):
    """Pure-Python integer twin of functions/bm25.py."""
    tf, dl = {}, {}
    for did, text in rows:
        toks = text.lower().split()
        dl[did] = len(toks)
        for t in toks:
            tf[(did, t)] = tf.get((did, t), 0) + 1
    df = {}
    for (_, t), _c in tf.items():
        df[t] = df.get(t, 0) + 1
    nd = len(dl)
    avgdl = max(sum(dl.values()) // nd, 1)

    def fl2len(n):
        return len(bin(n)) - 2

    out = {}
    for qid, qtext in queries:
        seen = dict.fromkeys(qtext.lower().split())
        for t in seen:
            if t not in df:
                continue
            idf = fl2len(nd) - fl2len(df[t])
            for did in dl:
                if (did, t) not in tf or did == qid:
                    continue
                c = min(tf[(did, t)], 1_000_000)
                a = min(avgdl, 100_000)
                d = min(dl[did], 10**15)
                mu = idf * (
                    (1_000_000 * 44 * c * a)
                    // (20 * c * a + 6 * a + 18 * d)
                )
                out[(qid, did)] = out.get((qid, did), 0) + mu
    ranked = {}
    byq = {}
    for (qid, did), s in out.items():
        byq.setdefault(qid, []).append((-s, did))
    for qid, lst in byq.items():
        for rank, (_negs, did) in enumerate(sorted(lst)[:k], 1):
            ranked[(qid, did)] = (out[(qid, did)], rank)
    return ranked


def test_bm25_matches_pure_python(spark):
    from tidb_cdc_spark.functions.bm25 import bm25_topk

    rows = [
        (0, "spark join agg window"),
        (1, "spark spark spark filter"),
        (2, "join window order sort"),
        (3, "quux blort zig"),
        (4, "spark join window agg sort filter"),
    ]
    docs = _mk_docs(spark, rows)
    q = docs.filter(F.col("doc_id") < 2).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["score_mu"], r["rank"])
        for r in bm25_topk(docs, q, k=5, exclude_self=True).collect()
    }
    expect = _bm25_pure(rows, [(0, rows[0][1]), (1, rows[1][1])], k=5)
    assert got == expect


def test_bm25_idf_favors_rare_terms(spark):
    """A doc matching the query's RARE term must outrank a doc
    matching only the ubiquitous term — the idf property the
    degenerate overlap ranker (rag_hybrid_rrf) lacks."""
    from tidb_cdc_spark.functions.bm25 import bm25_topk

    rows = [(i, "common filler words here") for i in range(6)]
    rows += [(6, "common rareterm"), (7, "common common common")]
    docs = _mk_docs(spark, rows)
    q = spark.createDataFrame(
        [(99, "rareterm common")], "query_id long, text string"
    )
    out = bm25_topk(docs, q, k=2).collect()
    assert out[0]["doc_id"] == 6 and out[0]["rank"] == 1


def test_bm25_length_normalization(spark):
    """Same tf, longer doc → lower score (the b·dl/avgdl penalty)."""
    from tidb_cdc_spark.functions.bm25 import bm25_scores

    # enough filler docs that the whole-bit idf of "needle" is > 0
    # (len(bin(8)) − len(bin(2)) = 2; a 3-doc corpus quantizes to 0)
    rows = [
        (0, "needle a b"),
        (1, "needle " + "pad " * 40),
    ] + [(i, "x y z w") for i in range(2, 8)]
    docs = _mk_docs(spark, rows)
    q = spark.createDataFrame([(9, "needle")], "query_id long, text string")
    s = {r["doc_id"]: r["score_mu"] for r in bm25_scores(docs, q).collect()}
    assert s[0] > s[1] > 0
    assert set(s) == {0, 1}  # filler docs share no query term


# --------------------------------------------------- token entropy
def test_token_entropy_exact_and_ordering(spark):
    from tidb_cdc_spark.functions.lm import token_entropy

    docs = _mk_docs(
        spark,
        [
            (0, "a a a a a a a a"),  # zero entropy
            (1, "a b c d e f g h"),  # max: fl2(8)-fl2(1)=3 bits/token
            (2, "a a a a b b c d"),
            (3, ""),  # drops
        ],
    )
    out = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    assert 3 not in out
    assert out[0]["mean_mbits"] == 0 and out[0]["n_terms"] == 1
    assert out[1]["mean_mbits"] == 3_000_000 and out[1]["n_terms"] == 8
    # exact hand computation for doc 2: n=8 → len(bin)=4;
    # tf=4 → 4*(4-3)=4 bits; tf=2 → 2*(4-2)=4; tf=1 → 1*(4-1)=3 ×2
    assert out[2]["sum_bits"] == 4 + 4 + 3 + 3
    assert out[2]["mean_mbits"] == (14 * 1_000_000) // 8


@pytest.mark.parametrize("n", [1, 2, 7, 32])
def test_token_entropy_bounds(spark, n):
    """0 ≤ mean bits ≤ len(bin(n)) for any token multiset."""
    from tidb_cdc_spark.functions.lm import token_entropy

    text = " ".join(f"t{i % 3}" for i in range(n))
    out = token_entropy(_mk_docs(spark, [(0, text)])).collect()[0]
    assert out["n_tokens"] == n
    assert 0 <= out["mean_mbits"] <= (len(bin(n)) - 2) * 1_000_000


def test_bm25_degenerate_repeated_token_doc_no_overflow(spark):
    """r7 advice (low): a multi-million-repetition single-token doc
    drove the unclamped µ-numerator past int64 (tf·avgdl ≳ 10¹⁰) and
    ANSI mode raised ARITHMETIC_OVERFLOW, failing the whole query.
    The TF_CAP/AVGDL_CAP clamps must score it finitely — and still
    agree with the pure-Python twin, which mirrors the clamps."""
    from tidb_cdc_spark.functions.bm25 import bm25_topk

    giant = "z " * 1_200_000  # tf(z)=1.2e6 pushes avgdl to ~4e5
    rows = [
        (0, "z needle hay"),
        (1, giant.strip()),
        (2, "needle hay stack"),
    ]
    docs = _mk_docs(spark, rows)
    q = spark.createDataFrame([(9, "z needle")], "query_id long, text string")
    got = {
        (r["query_id"], r["doc_id"]): (r["score_mu"], r["rank"])
        for r in bm25_topk(docs, q, k=3).collect()
    }
    expect = _bm25_pure(rows, [(9, "z needle")], k=3)
    assert got == expect
    assert all(s >= 0 for s, _ in got.values())
