"""Composed near-dup-collapse → winnow pipeline (queries/dedup.py):
equivalence and family-blowup-removal contracts on synthetic corpora
where the expected answer is computable exactly in the test."""

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import clusters as C
from tidb_cdc_spark.functions import dedup as D
from tidb_cdc_spark.functions.winnow import winnow_overlap
from tidb_cdc_spark.queries.dedup import _WK, _WW, _repr_docs

BOILER = "this content is licensed under the creative commons attribution share alike terms"


def _corpus(spark, family_sizes, distinct_with_boiler=2):
    """Synthetic corpus: ``len(family_sizes)`` exact-duplicate
    families (each member the same long unique text + the shared
    BOILER suffix) and ``distinct_with_boiler`` singleton docs whose
    bodies are unique but also end with BOILER.  Every near-dup
    relation is an EXACT duplicate, so the expected representative
    set is computable with plain groupBy in the test."""
    rows = []
    i = 0
    for f, size in enumerate(family_sizes):
        body = " ".join(f"family{f}tok{j}" for j in range(40))
        for _ in range(size):
            rows.append((i, f"{body} {BOILER}"))
            i += 1
    for s in range(distinct_with_boiler):
        body = " ".join(f"single{s}w{j}" for j in range(40))
        rows.append((i, f"{body} {BOILER}"))
        i += 1
    return spark.createDataFrame(rows, "doc_id long, text string").repartition(8)


def _pairs(df):
    return sorted(tuple(r) for r in df.select("id_a", "id_b").collect())


def test_repr_set_is_min_id_per_exact_family(spark):
    d = _corpus(spark, [4, 3, 1])
    reps = _repr_docs(d)
    got = sorted(r.doc_id for r in reps.select("doc_id").collect())
    # min id per exact-text group: families are ids 0-3, 4-6, 7;
    # singletons 8, 9
    expected = sorted(
        r[0]
        for r in d.groupBy("text").agg(F.min("doc_id")).select("min(doc_id)").collect()
    )
    assert got == expected == [0, 4, 7, 8, 9]


def test_composed_equals_winnow_over_expected_reps(spark):
    """With only exact-duplicate families, the composed pipeline's
    output must EQUAL winnow_overlap over the min-id-per-text-group
    document set — the test computes that set independently."""
    d = _corpus(spark, [5, 2, 2], distinct_with_boiler=3)
    expected_ids = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    expected = winnow_overlap(
        d.join(expected_ids, "doc_id"), k=_WK, w=_WW, min_shared=1
    )
    composed = winnow_overlap(_repr_docs(d), k=_WK, w=_WW, min_shared=1)
    assert _pairs(composed) == _pairs(expected)
    # the shared boilerplate is ≥ w+k−1 tokens, so every rep pair
    # must surface — C(n_reps, 2) pairs over reps {0,5,7,9,10,11}
    n_reps = 6
    assert len(_pairs(composed)) == n_reps * (n_reps - 1) // 2


def test_family_blowup_removed_cross_family_kept(spark):
    """A 30-member exact-dup family makes the naive winnow emit
    ≥ C(30,2) within-family pairs; the composed pipeline emits NONE
    of them while keeping every cross-family boilerplate pair."""
    d = _corpus(spark, [30, 1], distinct_with_boiler=1)
    naive = _pairs(winnow_overlap(d, k=_WK, w=_WW, min_shared=1))
    composed = _pairs(winnow_overlap(_repr_docs(d), k=_WK, w=_WW, min_shared=1))
    within = [(a, b) for (a, b) in naive if a < 30 and b < 30]
    assert len(within) == 30 * 29 // 2
    assert composed == [(0, 30), (0, 31), (30, 31)]
    # linear-vs-quadratic at the pair level: 3 rows vs 438
    assert len(naive) == len(within) + 2 * 30 + 1


def test_no_pair_touches_a_non_representative(spark):
    d = _corpus(spark, [6, 6, 6])
    reps = set(
        r.doc_id for r in _repr_docs(d).select("doc_id").collect()
    )
    for a, b in _pairs(winnow_overlap(_repr_docs(d), k=_WK, w=_WW, min_shared=1)):
        assert a in reps and b in reps


def test_star_pairs_connectivity_matches_clique(spark):
    """The star pair generator must yield the same connected
    components as the clique generator on this corpus (the
    equivalence the pipeline relies on)."""
    d = _corpus(spark, [4, 3, 2])
    star = D.minhash_lsh_star_pairs(d).select("id_a", "id_b")
    clique = D.minhash_lsh_pairs(d).select("id_a", "id_b")
    cc_s = {
        (r.id, r.cluster_id)
        for r in C.connected_components(star).collect()
    }
    cc_c = {
        (r.id, r.cluster_id)
        for r in C.connected_components(clique).collect()
    }
    assert cc_s == cc_c
