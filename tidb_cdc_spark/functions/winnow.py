"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03;
the MOSS algorithm): from the rolling k-token shingle hashes of a
document, select the minimum hash of every w-wide window (ties →
rightmost). The selected set is a position-robust fingerprint with
the winnowing GUARANTEE: any substring shared by two documents of at
least w + k − 1 tokens produces at least one shared fingerprint —
detection is structural, not probabilistic — while storing only
~2/(w+1) of the shingles.

This complements the other dedup signals: `repeated_spans` reports
WHICH spans repeat (corpus-wide, every span), MinHash/SimHash score
whole-document similarity; winnowing gives a compact per-document
fingerprint set for pairwise local-overlap detection (quotation,
partial plagiarism, shared boilerplate localization).

Cross-engine exactness: the shingle hash is the md5 bucket hash
(functions/sampling.py — reproducible in any engine, unlike
xxhash64), and the rightmost-min selection is encoded in ONE integer
window-min: key = h·2³¹ + (2³¹−1−pos), so MIN(key) picks the
smallest hash and, among ties, the largest position. h < 2³² and
pos < 2³¹ keep the key inside a BIGINT. The whole pipeline is
integral and order-independent ⇒ the DuckDB oracle reproduces it
bit-for-bit (queries/dedup.py).

Scale shape: tokenize/shingle/hash is codegen clustered on doc_id
(one partitionBy(doc) window pass — same shape as the shingle
pipeline), fingerprints are DISTINCT (doc, fp) rows ≈ 2n/(w+1); the
overlap join is an equi-join on fp with a document-frequency cap
(the `ngram_jaccard_pairs.max_doc_freq` viral-boilerplate guard) so
a fingerprint shared by the whole corpus cannot go quadratic.

Short documents (fewer than k tokens) contribute their single
all-token shingle at position 0 — the repo-wide short-doc
convention (functions/quality.shingle_string_rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_cdc_spark.functions.sampling import hash_bucket

_POS_SPACE = 1 << 31  # pos encoder: key = h * 2^31 + (2^31-1-pos)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DISTINCT (doc_id, fp) winnowed fingerprints (fp = 32-bit
    shingle-hash value selected by some window).

    Only COMPLETE w-wide windows select (window starts at shingle
    positions 0 .. n_shingles − w) — partial tail windows would make
    the last shingle of every document an unconditional fingerprint,
    pairing unrelated documents on short shared suffixes and
    breaking the ~2/(w+1) density bound. A document with fewer than
    w shingles keeps its single all-shingle window (global min),
    the paper's degenerate case.
    """
    from tidb_cdc_spark.functions.quality import positional_string_shingles

    sh = positional_string_shingles(docs, id_col, text_col, k).select(
        "doc_id", "pos", hash_bucket(F.col("_g")).alias("h")
    )
    key = F.col("h") * F.lit(_POS_SPACE) + (
        F.lit(_POS_SPACE - 1) - F.col("pos")
    )
    dw = Window.partitionBy("doc_id")
    fw = dw.orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    return (
        sh.select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(dw).alias("_n"),
            F.min(key).over(fw).alias("_wkey"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("_n") - w, F.lit(0)))
        .select("doc_id", F.expr(f"_wkey div {_POS_SPACE}").alias("fp"))
        .distinct()
    )


def winnow_cap_report(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    max_doc_freq: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row audit of what ``winnow_overlap``'s ``max_doc_freq``
    boilerplate cap EXCLUDES: ``(capped_fps, affected_docs,
    total_fps, max_df)``. Silent truncation reads as full coverage
    (the repo's no-silent-caps rule, COVERAGE.md) — a crawl run
    reads this row next to the pair list to see how much shared
    boilerplate was ruled out of overlap detection, and for which
    slice of the corpus the structural guarantee is weakened.
    Fully integral (counts over md5-hash fingerprints) ⇒ bit-exact
    DuckDB oracle. Cost: the same fingerprint + doc-frequency pass
    the overlap join already runs — the viral list is tiny at any
    scale, so the affected-docs join is a broadcast semi-join."""
    from tidb_cdc_spark.session import materialize

    fp = materialize(winnow_fingerprints(docs, k, w, id_col, text_col))
    freq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    stats = freq.agg(
        F.count(
            F.when(F.col("_df") > max_doc_freq, F.lit(1))
        ).alias("capped_fps"),
        F.count(F.lit(1)).alias("total_fps"),
        F.coalesce(F.max("_df"), F.lit(0)).alias("max_df"),
    )
    viral = freq.filter(F.col("_df") > max_doc_freq).select("fp")
    affected = (
        fp.join(F.broadcast(viral), "fp", "left_semi")
        .agg(F.count_distinct("doc_id").alias("affected_docs"))
    )
    return stats.crossJoin(affected).select(
        "capped_fps", "affected_docs", "total_fps", "max_df"
    )


def winnow_overlap(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 1,
    max_doc_freq: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, shared): document pairs sharing ≥ ``min_shared``
    winnowed fingerprints. The structural guarantee — every pair
    sharing a ≥ (w+k−1)-token substring surfaces (provided its
    fingerprints survive the ``max_doc_freq`` boilerplate cap) —
    holds only at the default ``min_shared=1``: an exactly-
    (w+k−1)-token shared run guarantees exactly ONE complete shared
    window, hence one shared fingerprint. Raise ``min_shared`` to
    trade that guarantee for precision on longer overlaps."""
    from tidb_cdc_spark.session import materialize

    fp = materialize(winnow_fingerprints(docs, k, w, id_col, text_col))
    # broadcast the OVER-cap (viral) list — tiny at any scale — and
    # anti-join; broadcasting the kept side would be data-sized
    viral = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("fp")
    )
    kept = fp.join(F.broadcast(viral), "fp", "left_anti")
    a = kept.select(F.col("doc_id").alias("id_a"), "fp")
    b = kept.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
