"""n-gram containment pairs (functions/dedup.py::
ngram_containment_pairs): directed subset detection semantics."""

from pyspark.sql import functions as F

from tidb_cdc_spark.functions.dedup import ngram_containment_pairs


def _pairs(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r.id_a, r.id_b): r
        for r in ngram_containment_pairs(df, **kw).collect()
    }


def test_full_quote_has_containment_one_but_low_jaccard(spark):
    quote = " ".join(f"q{i}" for i in range(10))
    host = " ".join(f"h{i}" for i in range(200)) + " " + quote
    got = _pairs(spark, [(1, quote), (2, host)], min_containment=0.9)
    r = got[(1, 2)]
    # every one of the quote's 6 5-gram shingles appears in the host
    assert r.cont_a_in_b == 1.0
    assert r.n_a == 6 and r.common == 6
    # but the symmetric overlap is tiny — Jaccard would miss this pair
    assert r.common / (r.n_a + r.n_b - r.common) < 0.05
    assert r.cont_b_in_a < 0.05


def test_no_pair_below_threshold_either_direction(spark):
    a = " ".join(f"a{i}" for i in range(30))
    b = " ".join(f"a{i}" for i in range(15)) + " " + " ".join(
        f"b{i}" for i in range(30)
    )
    # a's shingles: 26; shared prefix gives b only 11 of them
    got = _pairs(spark, [(1, a), (2, b)], min_containment=0.9)
    assert (1, 2) not in got
    got = _pairs(spark, [(1, a), (2, b)], min_containment=0.3)
    assert got[(1, 2)].common == 11


def test_short_doc_whole_shingle_branch(spark):
    # n < k docs form ONE whole-doc shingle; an exact short dup pairs
    # at containment 1.0 both ways, a different short doc pairs with
    # nothing
    got = _pairs(
        spark,
        [(1, "tiny doc here"), (2, "tiny doc here"), (3, "other words")],
    )
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.n_a == r.n_b == r.common == 1
    assert r.cont_a_in_b == 1.0 and r.cont_b_in_a == 1.0


def test_empty_docs_pair_via_sentinel_shingle(spark):
    """Family convention (shingle_hash_rows): empty/whitespace-only
    docs carry the empty-string sentinel shingle and pair as exact
    duplicates — containment must agree with minhash/simhash/Jaccard
    here, not silently drop them."""
    got = _pairs(spark, [(1, ""), (2, "   "), (3, "real words here")])
    assert set(got) == {(1, 2)}
    r = got[(1, 2)]
    assert r.n_a == r.n_b == r.common == 1
    assert r.cont_a_in_b == 1.0 and r.cont_b_in_a == 1.0


def test_tab_newline_only_docs_hit_the_sentinel_too(spark):
    """The sentinel predicate must match the TOKENIZER's whitespace
    class (Java \\s), not trim()'s ASCII-space-only class: a doc of
    tabs/newlines/form-feeds tokenizes to zero tokens and must emit
    the same empty-string sentinel as '' — the oracle's n=0 branch
    does (trim-based filtering once emitted NO row)."""
    got = _pairs(spark, [(1, "\t\n"), (2, " \r\n\t "), (3, ""), (4, "w x y z q")])
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    for key in got:
        r = got[key]
        assert r.n_a == r.n_b == r.common == 1
        assert r.cont_a_in_b == 1.0 and r.cont_b_in_a == 1.0


def test_shingles_match_column_form(spark):
    """shingle_string_rows must emit exactly shingles(text, k) as a
    row set — the shared-helper contract both the containment op and
    the oracle rely on."""
    from tidb_cdc_spark.functions.text import shingle_string_rows, shingles

    rows = [
        (1, "a b c d e f g"),
        (2, "x y"),
        (3, ""),
        (4, "one two three four five"),
        (5, "\t \n"),  # tokenizer-whitespace-only: sentinel in both forms
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r._id, r._sh)
        for r in shingle_string_rows(df, k=5).collect()
    }
    expected = {
        (r.doc_id, s)
        for r in df.select("doc_id", shingles(F.col("text"), 5).alias("_s")).collect()
        for s in r._s
    }
    assert got == expected


def test_viral_shingle_cap_prunes_before_join(spark):
    # one shingle shared by every doc would alone create C(n,2) join
    # rows; with max_doc_freq=2 it is dropped and set sizes recount
    boiler = "x1 x2 x3 x4 x5"
    rows = [(i, f"u{i}a u{i}b u{i}c u{i}d u{i}e " + boiler) for i in range(4)]
    got = _pairs(spark, rows, min_containment=0.1, max_doc_freq=2)
    assert got == {}  # only the viral shingle was shared
    got = _pairs(spark, rows, min_containment=0.1, max_doc_freq=None)
    assert len(got) == 6  # uncapped: all C(4,2) pairs via the boiler


def test_plan_stays_jvm_side(spark):
    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = (
        ngram_containment_pairs(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan


def test_xxh64_key_mode_row_identical_to_md5(spark):
    """The xxh64 shingle keying used by the
    rows-only composed pipeline (``dedup_containment_repr``) must
    produce IDENTICAL rows to the md5 keying — every output column
    depends only on shingle-set identity, never on key values. The
    probe corpus exercises every branch: full windows, n<k whole-doc
    shingles, the empty/whitespace sentinel, exact dups, a subset
    pair, and a viral shingle under a tight cap."""
    boiler = "v1 v2 v3 v4 v5"
    quote = " ".join(f"q{i}" for i in range(10))
    host = " ".join(f"h{i}" for i in range(40)) + " " + quote
    rows = [
        (1, quote),
        (2, host),
        (3, "tiny doc"),
        (4, "tiny doc"),
        (5, ""),
        (6, " \t\n "),
        (7, f"a1 a2 a3 a4 a5 a6 {boiler}"),
        (8, f"b1 b2 b3 b4 b5 b6 {boiler}"),
        (9, f"c1 c2 c3 c4 c5 c6 {boiler}"),
        (10, None),
    ]
    for kw in (
        dict(min_containment=0.1, max_doc_freq=2),
        dict(min_containment=0.9),
        dict(min_containment=0.0, max_doc_freq=None),
    ):
        md5_rows = sorted(
            map(tuple, _pairs(spark, rows, **kw).values())
        )
        xxh_rows = sorted(
            map(tuple, _pairs(spark, rows, shingle_key="xxh64", **kw).values())
        )
        assert md5_rows == xxh_rows


def test_xxh64_key_mode_on_real_corpus(spark):
    """The two keyings also agree row-for-row on the sf0.001
    documents corpus (real text: mixed lengths, duplicates)."""
    from tests.conftest import SF_SMOKE
    from tidb_cdc_spark.session import read_table

    d = read_table(spark, SF_SMOKE, "documents")
    a = sorted(
        map(tuple, ngram_containment_pairs(d).collect())
    )
    b = sorted(
        map(tuple, ngram_containment_pairs(d, shingle_key="xxh64").collect())
    )
    assert a == b and len(a) > 0
