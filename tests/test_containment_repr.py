"""Composed near-dup-collapse → containment pipeline
(queries/dedup.py::dedup_containment_repr): equivalence, family-
blowup removal, and cross-family subset PRESERVATION on synthetic
corpora where the expected answer is computable exactly (the raw
op's 100× caveat said "collapse families first"; this pins that the
collapse keeps the pairs the op exists to find)."""

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.dedup import ngram_containment_pairs
from tidb_cdc_spark.queries.dedup import _repr_docs

#: unique-token body generator — 40 tokens per family, no overlap
#: across families, so exact-duplicate family structure is the ONLY
#: near-dup relation and min-id-per-text-group is the expected
#: representative set


def _family_corpus(spark, family_sizes, wrapped=None):
    """``len(family_sizes)`` exact-duplicate families. ``wrapped``:
    optional list of (subset_family, extra_tokens) — appends ONE doc
    whose text embeds family ``subset_family``'s body inside
    ``extra_tokens`` unique filler tokens (a quotation/wrapper doc:
    containment(body→wrapper) = 1.0, Jaccard ≈ 36/(36+extra) — far
    below both the 0.9 containment threshold symmetric Jaccard would
    need and LSH's collapse regime when extra is large)."""
    rows = []
    i = 0
    bodies = {}
    for f, size in enumerate(family_sizes):
        body = " ".join(f"fam{f}tok{j}" for j in range(40))
        bodies[f] = body
        for _ in range(size):
            rows.append((i, body))
            i += 1
    for w, (src, extra) in enumerate(wrapped or []):
        filler = " ".join(f"wrap{w}x{j}" for j in range(extra))
        rows.append((i, f"{filler} {bodies[src]}"))
        i += 1
    return spark.createDataFrame(
        rows, "doc_id long, text string"
    ).repartition(8)


def _pairs(df):
    return sorted(tuple(r) for r in df.select("id_a", "id_b").collect())


def test_composed_equals_raw_over_expected_reps(spark):
    """With only exact-duplicate families, the composed pipeline must
    EQUAL the raw op over the min-id-per-text-group document set."""
    d = _family_corpus(spark, [5, 3, 2], wrapped=[(0, 160)])
    expected_ids = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    expected = ngram_containment_pairs(d.join(expected_ids.select("doc_id"), "doc_id"))
    composed = ngram_containment_pairs(_repr_docs(d))
    assert _pairs(composed) == _pairs(expected)


def test_family_pairs_removed_cross_family_subset_kept(spark):
    """The heart of the composition: a 25-member exact-dup family
    emits C(25,2) raw within-family pairs; the composed pipeline
    emits NONE of them while PRESERVING the cross-family wrapper pair
    (family 1's body quoted inside 160 tokens of filler — exactly
    the subset relation containment exists to catch and symmetric
    Jaccard structurally misses)."""
    d = _family_corpus(spark, [25, 1], wrapped=[(1, 160)])
    # ids: family0 = 0..24, family1 = {25}, wrapper = 26
    raw = ngram_containment_pairs(d)
    raw_pairs = _pairs(raw)
    within = [(a, b) for (a, b) in raw_pairs if a < 25 and b < 25]
    assert len(within) == 25 * 24 // 2
    assert (25, 26) in raw_pairs

    composed = ngram_containment_pairs(_repr_docs(d))
    got = _pairs(composed)
    assert got == [(25, 26)]  # family collapsed, subset pair kept
    row = composed.collect()[0]
    assert row.cont_a_in_b == 1.0  # body fully contained in wrapper
    # and the wrapper is NOT a near-dup of the body (low Jaccard):
    # raw Jaccard = common/(n_a+n_b-common) stays far under 0.9
    jac = row.common / (row.n_a + row.n_b - row.common)
    assert jac < 0.5


@pytest.mark.slow  # slow tier
def test_pair_output_linear_not_quadratic_in_family_size(spark):
    """Pair-row counts, the unit the 100× curve measured: raw output
    grows quadratically with family size; composed output is flat."""
    sizes = (10, 20)
    raw_within, composed_counts = [], []
    for size in sizes:
        d = _family_corpus(spark, [size, 1], wrapped=[(1, 160)])
        raw = ngram_containment_pairs(d)
        # count ONLY within-family pairs (ids < size) so the constant
        # cross-family rows don't blur the growth law
        raw_within.append(
            raw.filter((F.col("id_a") < size) & (F.col("id_b") < size)).count()
        )
        composed_counts.append(
            ngram_containment_pairs(_repr_docs(d)).count()
        )
    # exact-duplicate family ⇒ every member pair has containment 1.0:
    # exactly C(size, 2) within-family rows — quadratic by formula
    assert raw_within == [
        s * (s - 1) // 2 for s in sizes
    ]  # 45 → 190: 2× family = ~4× pairs
    assert composed_counts == [1, 1]  # flat: only the wrapper pair


def test_no_pair_touches_a_non_representative(spark):
    d = _family_corpus(spark, [6, 6], wrapped=[(0, 160), (1, 200)])
    reps = {r.doc_id for r in _repr_docs(d).select("doc_id").collect()}
    for a, b in _pairs(ngram_containment_pairs(_repr_docs(d))):
        assert a in reps and b in reps
