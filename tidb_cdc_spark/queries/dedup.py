"""Deduplication queries: exact, MinHash/SimHash/n-gram, embedding
and semantic (SemDeDup) near-dup detection, duplicate clusters,
repeated-span detection and removal, winnowing, containment and
train/eval contamination screens.

Oracle strategy: the LSH/k-means operators cannot have a DuckDB
oracle for their raw pair output (banding and k-means are not
SQL-expressible), so they are declared rows-only and each gets an
``*_audit`` twin. An audit plants a deterministic structure — an EXACT
copy of each probe row at ``id + max(id) + 1`` — and emits per-probe
booleans that are TRUE by algorithm structure, not by luck: an exact
text copy has the identical shingle multiset ⇒ identical MinHash
signature, SimHash (Hamming 0) and n-gram set (Jaccard 1.0), and is
edge-connected to its original in the cluster graph. DuckDB's side is
the planted-id spine with constant TRUEs; the booleans are computed
from the operator's actual output, never assumed.

The composed near-dup-collapse → winnow pipeline collapses near-dup
families first (star-LSH pairs → connected components → min-id
representatives), then winnows only the representatives, which keeps
winnowing's pair output linear in family size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import clusters as C
from tidb_cdc_spark.functions import dedup as D
from tidb_cdc_spark.functions import quality as Q
from tidb_cdc_spark.functions import semdedup as SD
from tidb_cdc_spark.functions import text as T
from tidb_cdc_spark.functions.dedup import ngram_containment_pairs
from tidb_cdc_spark.functions.feature_hash import hashed_tf_dense
from tidb_cdc_spark.functions.quality import span_dedup_rewrite
from tidb_cdc_spark.functions.sampling import hash_bucket
from tidb_cdc_spark.functions.text import shingle_string_rows, token_count, tokens
from tidb_cdc_spark.functions.winnow import winnow_cap_report as wcr
from tidb_cdc_spark.functions.winnow import winnow_overlap
from tidb_cdc_spark.queries.corpus import _DIM, _docs, _md5_bucket_sql, _planting_offset
from tidb_cdc_spark.queries.embeddings import _N_VECS, _embs, _embs_with_copies
from tidb_cdc_spark.session import materialize


# ------------------------------------------------------ exact dedup
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint; hash-groupBy on a
    64-bit key (16 B/row shuffle regardless of doc size)."""
    return D.exact_dedup(_docs(spark, sf_dir)).orderBy("doc_id")


_DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
FROM documents
GROUP BY trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))
ORDER BY doc_id
"""


def dedup_exact_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup clusters with QUALITY-AWARE representative choice:
    within each identical-text group keep the copy from the
    preferred (lexicographically smallest) source, ties → lowest
    doc_id — the canonical-copy selection every crawl pipeline does
    (prefer the cleaner mirror, not an arbitrary row). Emits only
    real dup clusters (n_dups > 1).

    Plan: TWO-STAGE aggregate. Stage 1 groups by (fingerprint,
    source) with plain min/count — fixed-width buffers, pure
    whole-stage-codegen HashAggregate with map-side combine, and it
    does ALL the data-sized reduction (shuffle ∝ distinct
    (fp, source), ~30 B/row). Stage 2 reduces those tiny rows per
    fingerprint with ``min(struct(source, doc_id))`` — struct
    buffers force a SortAggregate, which is why it runs on the
    REDUCED rows, never the corpus (a single-stage
    ``min_by(x, struct(...))`` would sort-aggregate 100 TB; the
    count(distinct source) rewrite would add an expand on top).
    n_sources falls out of stage 2 as a plain count.
    """
    d = _docs(spark, sf_dir)
    per_source = (
        d.withColumn("_fp", D.fingerprint(F.col("text")))
        .groupBy("_fp", "source")
        .agg(
            F.min("doc_id").alias("_min_id"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    # NULL-source handling pinned to match ANSI/DuckDB: an explicit
    # leading null flag makes null sources sort LAST (Spark's struct
    # min would otherwise sort the null field FIRST and elect a
    # null-provenance copy), and n_sources counts non-null sources
    # only (= COUNT(DISTINCT source) semantics, which ignores NULL).
    return (
        per_source.groupBy("_fp")
        .agg(
            F.min(
                F.struct(
                    F.col("source").isNull().alias("_null_last"),
                    F.col("source").alias("source"),
                    F.col("_min_id").alias("_min_id"),
                )
            ).alias("_k"),
            F.sum("_n").alias("n_dups"),
            F.count("source").alias("n_sources"),
        )
        .filter(F.col("n_dups") > 1)
        .select(
            F.col("_k._min_id").alias("kept_doc_id"),
            F.col("_k.source").alias("kept_source"),
            "n_dups",
            "n_sources",
        )
        .orderBy("kept_doc_id")
    )


_KEEP_BEST_SQL = """
WITH g AS (
  SELECT trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
         doc_id, source
  FROM documents
), r AS (
  SELECT fp, doc_id, source,
         row_number() OVER (PARTITION BY fp
                            ORDER BY (source IS NULL), source, doc_id) AS rn
  FROM g
), s AS (
  SELECT fp, COUNT(*) AS n_dups, COUNT(DISTINCT source) AS n_sources
  FROM g GROUP BY fp
)
SELECT r.doc_id AS kept_doc_id, r.source AS kept_source,
       s.n_dups, s.n_sources
FROM r JOIN s USING (fp)
WHERE r.rn = 1 AND s.n_dups > 1
ORDER BY kept_doc_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate near-dup pairs on documents."""
    return D.minhash_lsh_pairs(_docs(spark, sf_dir)).orderBy("id_a", "id_b")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming≤3 near-dup pairs on documents."""
    return D.simhash_pairs(_docs(spark, sf_dir)).orderBy("id_a", "id_b")


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.8 pairs (inverted-index join)."""
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), min_jaccard=0.8).orderBy(
        "id_a", "id_b"
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.95, LSH-bucketed).

    The synthetic embeddings are mutually near-orthogonal (max
    pairwise cosine ≈ 0.51), so the operator is demonstrated on
    planted duplicates: scaled copies (id + 1e6) of the first 50
    vectors. Scaling preserves cosine exactly AND the hyperplane
    signature (sign of every dot product unchanged), so the expected
    result is deterministically the 50 planted pairs — an in-query
    self-check of both bucketing recall and the verify threshold."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)).alias(
            "embedding"
        ),
    )
    return D.embedding_near_dup_pairs(e.unionByName(planted)).orderBy(
        "id_a", "id_b"
    )


_N_DOCS = 20  # docs 0.._N_DOCS-1 get planted copies


def _docs_with_copies(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    d = _docs(spark, sf_dir)
    off = _planting_offset(d, "doc_id")
    copies = d.filter(F.col("doc_id") < _N_DOCS).select(
        (F.col("doc_id") + off).alias("doc_id"),
        *[c for c in d.columns if c != "doc_id"],
    )
    return d.unionByName(copies.select(*d.columns)), off


def _planted_pair_report(
    pairs: DataFrame,
    spine: DataFrame,
    value_flag: Column,
    flag_name: str,
    off: int,
) -> DataFrame:
    """(doc_id, found, <flag>) for each planted doc: ``found`` iff the
    (orig, orig+off) pair is in ``pairs``; ``flag`` from the pair's
    value column (FALSE when not found)."""
    hit = (
        pairs.filter(F.col("id_b") == F.col("id_a") + F.lit(off))
        .filter(F.col("id_a") < _N_DOCS)
        .select(F.col("id_a").alias("doc_id"), value_flag.alias("_flag"))
    )
    return (
        spine.join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_flag").isNotNull().alias("found"),
            F.coalesce(F.col("_flag"), F.lit(False)).alias(flag_name),
        )
        .orderBy("doc_id")
    )


def _doc_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).filter(F.col("doc_id") < _N_DOCS).select("doc_id")


_DOC_AUDIT_SQL = """
SELECT doc_id, TRUE AS found, TRUE AS {flag}
FROM documents WHERE doc_id < 20 ORDER BY doc_id
"""


def dedup_minhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact copies share every MinHash band ⇒ pair found with
    estimated Jaccard exactly 1.0 (all 64 signature slots equal)."""
    d, off = _docs_with_copies(spark, sf_dir)
    return _planted_pair_report(
        D.minhash_lsh_pairs(d),
        _doc_spine(spark, sf_dir),
        F.col("est_jaccard") == 1.0,
        "est_one",
        off,
    )


def dedup_simhash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact copies have the identical 64-bit SimHash ⇒ every permuted
    table collides ⇒ pair found at Hamming 0."""
    d, off = _docs_with_copies(spark, sf_dir)
    return _planted_pair_report(
        D.simhash_pairs(d),
        _doc_spine(spark, sf_dir),
        F.col("hamming") == 0,
        "hamming_zero",
        off,
    )


def dedup_jaccard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact copies have identical distinct-shingle sets ⇒ exact
    n-gram Jaccard 1.0 through the inverted-index join (document-
    frequency pruning drops a shingle for both sides or neither, so
    the ratio over surviving sets is still 1.0)."""
    d, off = _docs_with_copies(spark, sf_dir)
    return _planted_pair_report(
        D.ngram_jaccard_pairs(d, min_jaccard=0.8),
        _doc_spine(spark, sf_dir),
        F.col("jaccard") == 1.0,
        "jaccard_one",
        off,
    )


def dedup_embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vector copies share every hyperplane sign ⇒ same LSH
    bucket ⇒ pair surfaces and verifies at cosine exactly 1."""
    e, off = _embs_with_copies(spark, sf_dir)
    pairs = D.embedding_near_dup_pairs(e.select("vec_id", "embedding"))
    hit = (
        pairs.filter(F.col("id_b") == F.col("id_a") + F.lit(off))
        .filter(F.col("id_a") < _N_VECS)
        .select(F.col("id_a").alias("vec_id"), (F.col("cos") == 1.0).alias("_c"))
    )
    spine = _embs(spark, sf_dir).filter(F.col("vec_id") < _N_VECS).select("vec_id")
    return (
        spine.join(hit, "vec_id", "left")
        .select(
            "vec_id",
            F.col("_c").isNotNull().alias("found"),
            F.coalesce(F.col("_c"), F.lit(False)).alias("cos_one"),
        )
        .orderBy("vec_id")
    )


_EMB_AUDIT_SQL = """
SELECT vec_id, TRUE AS found, TRUE AS cos_one
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""


def dedup_clusters_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-cluster contract: an exact copy is edge-connected to its
    original through BOTH the MinHash and SimHash pair graphs, so
    connected components must assign the two the same cluster id."""
    d, off = _docs_with_copies(spark, sf_dir)
    mh = D.minhash_lsh_pairs(d).select("id_a", "id_b")
    sh = D.simhash_pairs(d).select("id_a", "id_b")
    labels = C.cluster_representatives(d, mh.unionByName(sh)).select(
        "doc_id", "cluster_id"
    )
    orig = labels.filter(F.col("doc_id") < _N_DOCS)
    copy = labels.filter(F.col("doc_id") >= F.lit(off)).select(
        (F.col("doc_id") - F.lit(off)).alias("doc_id"),
        F.col("cluster_id").alias("_copy_cluster"),
    )
    return (
        orig.join(copy, "doc_id")
        .select(
            "doc_id",
            (F.col("cluster_id") == F.col("_copy_cluster")).alias("same_cluster"),
        )
        .orderBy("doc_id")
    )


_CLUSTERS_AUDIT_SQL = """
SELECT doc_id, TRUE AS same_cluster
FROM documents WHERE doc_id < 20 ORDER BY doc_id
"""


def dedup_keep_best_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative contract: give every PLANTED COPY
    strictly lower quality than every real doc (quality 1 vs 2), run
    quality-aware ``cluster_representatives`` over the MinHash ∪
    SimHash pair graph — a copy is edge-connected to its original,
    so its cluster holds at least one higher-quality member, and
    ``max_by(quality, -id)`` can therefore NEVER elect the copy.
    One boolean per planted doc, TRUE by algorithm structure."""
    d, off = _docs_with_copies(spark, sf_dir)
    d = d.withColumn(
        "_quality", F.when(F.col("doc_id") < F.lit(off), 2).otherwise(1)
    )
    mh = D.minhash_lsh_pairs(d).select("id_a", "id_b")
    sh = D.simhash_pairs(d).select("id_a", "id_b")
    labels = C.cluster_representatives(
        d, mh.unionByName(sh), quality_col="_quality"
    )
    copy = labels.filter(F.col("doc_id") >= F.lit(off)).select(
        (F.col("doc_id") - F.lit(off)).alias("doc_id"),
        (~F.col("is_representative")).alias("copy_not_kept"),
    )
    return (
        _doc_spine(spark, sf_dir)
        .join(copy, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("copy_not_kept", F.lit(False)).alias("copy_not_kept"),
        )
        .orderBy("doc_id")
    )


_KEEP_BEST_AUDIT_SQL = """
SELECT doc_id, TRUE AS copy_not_kept
FROM documents WHERE doc_id < 20 ORDER BY doc_id
"""


def dedup_minhash_star_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-pair connectivity contract (functions/dedup.py::
    minhash_lsh_star_pairs): an exact copy shares EVERY band bucket
    with its original, so either the original IS some shared
    bucket's min-id hub (⇒ direct pair orig→copy) or a smaller hub
    r < orig emits both (r, orig) and (r, copy) (⇒ two-hop
    connection). ``connected`` is therefore TRUE by construction for
    every planted doc — the clique-equivalent-components guarantee,
    DuckDB-checkable. Precondition (same as ``dedup_minhash_audit``):
    no band bucket may exceed ``max_bucket_size``, else shared
    buckets are silently dropped and the guarantee breaks — the
    audit passes ``max_bucket_size=None`` so it holds at ANY scale
    factor (planted copies only double bucket membership, so the
    uncapped join stays linear here)."""
    d, off = _docs_with_copies(spark, sf_dir)
    p = D.minhash_lsh_star_pairs(
        d, max_bucket_size=None, with_jaccard=False
    )
    direct = p.filter(
        (F.col("id_b") == F.col("id_a") + F.lit(off))
        & (F.col("id_a") < _N_DOCS)
    ).select(F.col("id_a").alias("doc_id"))
    # pre-filter BOTH sides to the planted docs before the hub join:
    # an unfiltered self-join on hub is hub-degree-squared — the very
    # blowup the star op removes
    pa = p.filter(F.col("id_b") < _N_DOCS).select(
        F.col("id_a").alias("_hub"), F.col("id_b").alias("_o")
    )
    pb = p.filter(F.col("id_b") >= F.lit(off)).select(
        F.col("id_a").alias("_hub"), F.col("id_b").alias("_c")
    )
    two_hop = (
        pa.join(pb, "_hub")
        .filter(F.col("_c") == F.col("_o") + F.lit(off))
        .select(F.col("_o").alias("doc_id"))
    )
    hit = direct.unionByName(two_hop).distinct()
    return (
        _doc_spine(spark, sf_dir)
        .join(hit.withColumn("_f", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("_f", F.lit(False)).alias("connected")
        )
        .orderBy("doc_id")
    )


_STAR_AUDIT_SQL = """
SELECT doc_id, TRUE AS connected
FROM documents WHERE doc_id < 20 ORDER BY doc_id
"""


# ------------------------------------------------- cluster resolution
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over EXACT-duplicate edges (star edges
    root→member per fingerprint group), resolved to per-doc
    (cluster_id, is_representative). The iterative CC algorithm runs
    for real; on these edges its closure provably equals the
    fingerprint groups, which is what makes a SQL oracle possible."""
    d = _docs(spark, sf_dir)
    fp = d.select("doc_id", T.fingerprint(F.col("text")).alias("_fp"))
    roots = fp.groupBy("_fp").agg(F.min("doc_id").alias("_root"))
    edges = (
        fp.join(roots, "_fp")
        .filter(F.col("doc_id") != F.col("_root"))
        .select(F.col("_root").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    return C.cluster_representatives(d, edges).orderBy("doc_id")


_CLUSTERS_EXACT_SQL = r"""
WITH fp AS (
  SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
  FROM documents
)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY norm) AS cluster_id,
       doc_id = MIN(doc_id) OVER (PARTITION BY norm) AS is_representative
FROM fp ORDER BY doc_id
"""


def dedup_clusters_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real dedup endgame: near-dup pair edges from MinHash-LSH
    ∪ SimHash, transitively closed to clusters, one representative
    kept per cluster. Rows-only (LSH banding is not
    SQL-expressible); the CC core is exact-tested against union-find
    in tests/test_llm.py."""
    d = _docs(spark, sf_dir)
    mh = D.minhash_lsh_pairs(d).select("id_a", "id_b")
    sh = D.simhash_pairs(d).select("id_a", "id_b")
    return C.cluster_representatives(d, mh.unionByName(sh)).orderBy("doc_id")


_EVAL_RATE = 0.10
_SHINGLE_K = 8


def contamination_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval shingle-overlap audit: 10 % deterministic eval
    split, 8-token shingles; one row per TRAIN document."""
    return Q.contamination_overlap(
        _docs(spark, sf_dir), _EVAL_RATE, _SHINGLE_K
    ).orderBy("doc_id")


_CONTAMINATION_SQL = rf"""
WITH tagged AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l,
         {_md5_bucket_sql("doc_id", "eval")} < {int(_EVAL_RATE * 4294967296)}
           AS is_eval
  FROM documents
), tl AS (SELECT doc_id, l, len(l) AS n, is_eval FROM tagged),
sh AS (
  SELECT DISTINCT doc_id, is_eval, g FROM (
    SELECT doc_id, is_eval,
           unnest(CASE WHEN n >= {_SHINGLE_K}
             THEN list_transform(range(1, n - {_SHINGLE_K} + 2),
                  i -> array_to_string(l[i : i + {_SHINGLE_K} - 1], ' '))
             ELSE [array_to_string(l, ' ')] END) AS g
    FROM tl WHERE n > 0
  )
), eval_sh AS (SELECT DISTINCT g FROM sh WHERE is_eval),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_shingles, COUNT(e.g) AS n_hits
  FROM (SELECT doc_id, g FROM sh WHERE NOT is_eval) t
  LEFT JOIN eval_sh e USING (g)
  GROUP BY t.doc_id
)
SELECT d.doc_id, COALESCE(n_shingles, 0) AS n_shingles,
       COALESCE(n_hits, 0) AS n_hits,
       COALESCE(n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM tagged WHERE NOT is_eval) d
LEFT JOIN hits USING (doc_id) ORDER BY doc_id
"""


_SPAN_K = 12

# Shared CTE: distinct (doc_id, span) rows — SQL twin of
# shingle_string_rows(k=12). DuckDB lists are 1-based; range(a, b)
# is exclusive of b; slicing l[i : i + k - 1] takes k elements.
_SPAN_CTE = rf"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l
  FROM documents
), tln AS (SELECT doc_id, l, len(l) AS n FROM tl),
sp AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(CASE WHEN n >= {_SPAN_K}
             THEN list_transform(range(1, n - {_SPAN_K} + 2),
                  i -> array_to_string(l[i : i + {_SPAN_K} - 1], ' '))
             ELSE [array_to_string(l, ' ')] END) AS g
    FROM tln WHERE n > 0
  )
)
"""


def repeated_spans_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide repeated exact 12-token spans in ≥2 distinct docs,
    heaviest first — the corpus-curation "what boilerplate should we
    strip" report. Plan: one codegen shingle pass + one span groupBy
    with map-side combine; TakeOrderedAndProject caps the result."""
    out = Q.repeated_spans(_docs(spark, sf_dir), span_tokens=_SPAN_K, min_docs=2)
    return out.orderBy(F.col("n_docs").desc(), F.col("span")).limit(100)


_REPEATED_SQL = (
    _SPAN_CTE
    + """
SELECT g AS span, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM sp GROUP BY g HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, span LIMIT 100
"""
)


def span_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shared-span coverage (µ-units): how much of each
    document is made of spans that also occur elsewhere — the
    doc-level drop/deboilerplate signal. Plan: span rows → span-count
    aggregate → co-partitioned join back on the span → doc_id
    aggregate (two key shuffles total)."""
    out = Q.span_dup_coverage(_docs(spark, sf_dir), span_tokens=_SPAN_K)
    return out.orderBy("doc_id")


_COVERAGE_SQL = (
    _SPAN_CTE
    + """
, counts AS (
  SELECT g, COUNT(*) AS nd FROM sp GROUP BY g
)
SELECT sp.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS shared_spans,
       CAST((SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000)
         // GREATEST(COUNT(*), 1) AS BIGINT) AS shared_ppm
FROM sp JOIN counts USING (g)
GROUP BY sp.doc_id ORDER BY sp.doc_id
"""
)


# ------------------------------------------------ semantic dedup


def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup prune list: every vector flagged as a within-cell
    semantic duplicate of a lower-id vector (cosine ≥ 0.95), with its
    keeper. The synthetic embeddings are mutually near-orthogonal, so
    (same convention as ``dedup_embedding_cosine``) the operator is
    demonstrated on planted scaled copies of the first 50 vectors —
    scaling preserves cosine exactly, and a 0.1%-scaled copy sits
    0.1% away in L2, sharing the original's k-means cell unless the
    original lies exactly on a Voronoi boundary. Rows-only (k-means);
    the hard contract is oracle-checked by ``semantic_dedup_audit``
    (EXACT copies, where the same-cell argument is airtight)."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)).alias(
            "embedding"
        ),
    )
    res = SD.semantic_dedup(
        e.unionByName(planted),
        n_cells=16,
        threshold=0.95,
        # seeded sample for the k-means fit (assignment still covers
        # every vector) — at 100 TB a full-corpus fit dominates the
        # job; same knob the PQ/IVF-PQ/OPQ declared queries pass
        train_fraction=0.25,
    )
    return (
        res.filter(F.col("is_dup"))
        .select(
            "vec_id",
            "cell",
            "dup_of",
            F.round("max_sim", 4).alias("sim"),
            "truncated",
        )
        .orderBy("vec_id")
    )


def semantic_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-copy contract: an exact copy has identical distance to
    every centroid (same cell by deterministic argmin) and cosine 1
    to its lower-id original — semantic_dedup must flag it."""
    e, off = _embs_with_copies(spark, sf_dir)
    res = SD.semantic_dedup(
        e.select("vec_id", "embedding"), n_cells=16, threshold=0.95
    )
    copies = (
        res.filter(F.col("vec_id") >= F.lit(off))
        .filter(F.col("vec_id") < F.lit(off) + _N_VECS)
        .select(
            (F.col("vec_id") - F.lit(off)).alias("vec_id"),
            F.col("is_dup").alias("_d"),
        )
    )
    spine = _embs(spark, sf_dir).filter(F.col("vec_id") < _N_VECS).select("vec_id")
    return (
        spine.join(copies, "vec_id", "left")
        .select(
            "vec_id",
            F.col("_d").isNotNull().alias("found"),
            F.coalesce(F.col("_d"), F.lit(False)).alias("planted_pruned"),
        )
        .orderBy("vec_id")
    )


_SEMDEDUP_AUDIT_SQL = """
SELECT vec_id, TRUE AS found, TRUE AS planted_pruned
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""


def doc_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over raw text via hashed-TF vectors — no embeddings
    needed: near-identical token multisets land at cosine ≈ 1.
    Rows-only (k-means); the hard contract is oracle-checked by
    ``doc_semantic_dedup_audit``."""
    vecs = hashed_tf_dense(_docs(spark, sf_dir), dim=_DIM).withColumnRenamed(
        "doc_id", "vec_id"
    )
    res = SD.semantic_dedup(
        vecs, n_cells=32, threshold=0.9, train_fraction=0.1
    )
    return (
        res.filter(F.col("is_dup"))
        .select(
            F.col("vec_id").alias("doc_id"),
            "cell",
            "dup_of",
            F.round("max_sim", 4).alias("sim"),
        )
        .orderBy("doc_id")
    )


def doc_semantic_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-copy contract over TEXT: an exact text copy hashes to
    the identical TF vector (pure function of the token multiset),
    so it shares the original's cell and sits at cosine 1 — must be
    pruned."""
    d, off = _docs_with_copies(spark, sf_dir)
    vecs = hashed_tf_dense(d, dim=_DIM).withColumnRenamed(
        "doc_id", "vec_id"
    )
    res = SD.semantic_dedup(
        vecs, n_cells=32, threshold=0.9, train_fraction=0.1
    )
    copies = (
        res.filter(F.col("vec_id") >= F.lit(off))
        .filter(F.col("vec_id") < F.lit(off) + _N_DOCS)
        .select(
            (F.col("vec_id") - F.lit(off)).alias("doc_id"),
            F.col("is_dup").alias("_d"),
        )
    )
    return (
        _doc_spine(spark, sf_dir).join(copies, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_d").isNotNull().alias("found"),
            F.coalesce(F.col("_d"), F.lit(False)).alias("planted_pruned"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------- winnowing (MOSS)

_OVERLAP_WK, _OVERLAP_WW = 8, 4  # shingle tokens, winnow window


def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing a winnowed fingerprint (Schleimer
    et al. SIGMOD'03 — functions/winnow.py): position-robust local-
    overlap detection with the structural guarantee that any shared
    run of ≥ w+k−1 = 11 tokens surfaces the pair (min_shared=1 — the
    guarantee's setting; an 11-token run promises exactly one shared
    fingerprint). Fully integral and md5-hash-based ⇒ bit-exact
    DuckDB oracle."""

    return winnow_overlap(
        _docs(spark, sf_dir), k=_OVERLAP_WK, w=_OVERLAP_WW, min_shared=1
    ).orderBy("id_a", "id_b")


_WINNOW_FP_CTE = rf"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), tln AS (SELECT doc_id, l, len(l) AS n FROM tl),
sh AS (
  SELECT doc_id, i - 1 AS pos,
         {_md5_bucket_sql(f"array_to_string(l[i : i + {_OVERLAP_WK} - 1], ' ')")} AS h
  FROM (
    SELECT doc_id, l, unnest(range(1, n - {_OVERLAP_WK} + 2)) AS i
    FROM tln WHERE n >= {_OVERLAP_WK}
  )
  UNION ALL
  SELECT doc_id, 0 AS pos,
         {_md5_bucket_sql("array_to_string(l, ' ')")} AS h
  FROM tln WHERE n > 0 AND n < {_OVERLAP_WK}
),
keyed AS (
  SELECT doc_id, pos,
         h * 2147483648 + (2147483647 - pos) AS key
  FROM sh
),
fp AS (
  SELECT DISTINCT doc_id, wkey // 2147483648 AS fp
  FROM (
    SELECT doc_id, pos,
           COUNT(*) OVER (PARTITION BY doc_id) AS n,
           MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                          AND {_OVERLAP_WW - 1} FOLLOWING) AS wkey
    FROM keyed
  )
  WHERE pos <= GREATEST(n - {_OVERLAP_WW}, 0)
),
freq AS (SELECT fp, COUNT(*) AS df FROM fp GROUP BY fp)
"""

_WINNOW_SQL = _WINNOW_FP_CTE + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS shared
FROM fp a
JOIN fp b USING (fp)
JOIN freq USING (fp)
WHERE a.doc_id < b.doc_id AND freq.df <= 1000
GROUP BY 1, 2 HAVING COUNT(*) >= 1
ORDER BY id_a, id_b
"""

_WINNOW_CAP = 2  # demo cap: testdata max df is 3, so the row is non-trivial


def winnow_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The no-silent-caps audit row for ``winnow_overlap``'s
    ``max_doc_freq`` boilerplate cap (functions/winnow.py): one row
    ``(capped_fps, affected_docs, total_fps, max_df)`` saying how
    many fingerprints the cap excluded and how many documents lose
    the structural guarantee for those fingerprints. Declared at a
    cap the testdata actually exceeds so the numbers are non-zero;
    production runs emit it at the same cap as the pair query.
    Fully integral ⇒ bit-exact DuckDB oracle."""

    return wcr(
        _docs(spark, sf_dir), k=_OVERLAP_WK, w=_OVERLAP_WW, max_doc_freq=_WINNOW_CAP
    )


_WINNOW_CAP_SQL = _WINNOW_FP_CTE + f"""
SELECT
  (SELECT COUNT(*) FROM freq WHERE df > {_WINNOW_CAP}) AS capped_fps,
  (SELECT COUNT(DISTINCT doc_id) FROM fp JOIN freq USING (fp)
    WHERE df > {_WINNOW_CAP}) AS affected_docs,
  (SELECT COUNT(*) FROM freq) AS total_fps,
  (SELECT CAST(COALESCE(MAX(df), 0) AS BIGINT) FROM freq) AS max_df
"""


_SPAN = 12


def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaned corpus after cross-doc duplicated-span removal — the
    output artifact of the Lee et al. pipeline step. Fully string-
    exact cross-engine (md5 span keys, deterministic keeper)."""
    return span_dedup_rewrite(
        _docs(spark, sf_dir), span_tokens=_SPAN
    ).orderBy("doc_id")


_SPAN_REWRITE_SQL = rf"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'),
                     x -> x <> '') AS lo,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), tln AS (SELECT doc_id, lo, l, len(l) AS n FROM tl),
sh AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(l[i : i + {_SPAN} - 1], ' ')) AS h
  FROM (
    SELECT doc_id, l, unnest(range(1, n - {_SPAN} + 2)) AS i
    FROM tln WHERE n >= {_SPAN}
  )
  UNION ALL
  SELECT doc_id, 0 AS pos, md5(array_to_string(l, ' ')) AS h
  FROM tln WHERE n > 0 AND n < {_SPAN}
),
stats AS (
  SELECT h, COUNT(*) AS nd, MIN(doc_id) AS keeper
  FROM (SELECT DISTINCT doc_id, h FROM sh)
  GROUP BY h HAVING COUNT(*) >= 2
),
covered AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + {_SPAN})) AS p
  FROM sh JOIN stats USING (h)
  WHERE doc_id <> keeper
),
tok AS (
  SELECT doc_id, i - 1 AS p, lo[i] AS tok
  FROM (
    SELECT doc_id, lo, unnest(range(1, n + 1)) AS i
    FROM tln WHERE n > 0
  )
),
kept AS (
  SELECT t.doc_id, t.p, t.tok
  FROM tok t
  LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.p = c.p
  WHERE c.p IS NULL
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(a.text_clean, '') AS text_clean,
       CAST(COALESCE(tn.n, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(tn.n, 0) - COALESCE(a.n_kept, 0) AS BIGINT)
         AS n_removed
FROM documents d
LEFT JOIN tln tn USING (doc_id)
LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


def dedup_minhash_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-pair MinHash-LSH (functions/dedup.py::
    minhash_lsh_star_pairs): per-bucket hub→member pairs — LINEAR in
    near-dup family size where the clique form is quadratic (the
    1×/10×/100× curve's finding), with identical connected
    components for every cluster consumer. Rows-only (xxhash64
    signatures, like dedup_minhash_lsh); the connectivity contract
    is oracle-gated by ``dedup_minhash_star_audit``."""

    return D.minhash_lsh_star_pairs(_docs(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


# Winnow shingle tokens / window. k=4 (guarantee on w+k−1 = 7-token
# shared runs) rather than winnow_overlap_pairs' k=8: after family collapse the
# op's signal is CROSS-family boilerplate, which is shorter than the
# within-family overlap the k=8 pair query targets — at sf0.01, k=8
# leaves 0 cross-family pairs (vacuous output) while k=4 surfaces 97.
_WK, _WW = 4, 4


def _repr_docs(d: DataFrame, max_bucket_size: int | None = None) -> DataFrame:
    """Collapse near-dup families to their min-id representative and
    return the representative documents only.

    Every stage is linear in family size: star pairs emit b−1 rows
    per b-sized band bucket (functions/dedup.py), connected
    components is the hash-min/path-halving loop (functions/
    clusters.py — O(log d) rounds, per-round checkpoint truncation),
    and the representative filter is a projection of the CC output.
    The join back to documents is an equi-join on doc_id; text never
    shuffles through the LSH/CC stages (ids-only slim tables).

    ``max_bucket_size`` defaults to None (uncapped) — the clique
    form's cap exists to bound its QUADRATIC per-bucket emission,
    but star pairs are linear per bucket, and a cap here would
    silently skip collapsing exactly the >cap-member families this
    pipeline exists to collapse, handing the quadratic blowup back
    to the winnow stage.

    r14 note: an anti-join formulation (docs LEFT ANTI the CC rows
    with id ≠ cluster_id) produces the IDENTICAL survivor set with
    one join fewer, but measured consistently SLOWER here (8.6 s vs
    6.8–7.4 s interleaved at sf0.1) — the inner join against the
    slim representative-id frame lets AQE broadcast the small side
    and reuse the fan-out layout cleanly, so the original shape is
    kept deliberately."""
    reps = _collapse_reps(d, max_bucket_size)
    return d.join(
        reps.filter(F.col("is_representative")).select("doc_id"), "doc_id"
    )


def _collapse_reps(
    d: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """The ONE copy of the family-collapse recipe (star-LSH pairs →
    connected components → per-doc labels with is_representative):
    both the declared pipelines (via ``_repr_docs``) and their
    audits (via ``_collapse_audit_parts``) build representatives
    through this function, so a recipe change (LSH params, capping,
    normalization) cannot leave the audits certifying a
    representative set the real pipelines no longer produce
    (there were briefly three hand-kept copies)."""
    pairs = D.minhash_lsh_star_pairs(
        d, max_bucket_size=max_bucket_size, with_jaccard=False
    )
    return C.cluster_representatives(d, pairs)


def winnow_repr_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed local-overlap pairs over near-dup-collapsed
    representatives: star-LSH → connected components → min-id
    representative per family → ``winnow_overlap`` on the survivors.

    The composed op keeps winnowing's w+k−1 structural guarantee for
    CROSS-family overlap while removing the within-family quadratic
    pair output the r8 100× curve measured (27.2M rows → the star/CC
    stages are linear and the winnow self-join no longer sees
    families). Rows-only (MinHash banding is not SQL-expressible);
    the oracle-checked contract is ``winnow_repr_audit`` and the
    synthetic-corpus equivalence test in tests/test_winnow_repr.py.
    """
    return winnow_overlap(
        _repr_docs(_docs(spark, sf_dir)), k=_WK, w=_WW, min_shared=1
    ).orderBy("id_a", "id_b")


def _collapse_audit_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[int, DataFrame, DataFrame]:
    """Shared machinery of the composed-pipeline audits
    (``winnow_repr_audit``, ``containment_repr_audit`` — review
    catch: two hand-kept copies of this block WILL diverge):
    ``(off, rep_docs, copies)`` where ``rep_docs`` is the actual
    representative-document set the downstream op runs over — built
    through the SAME ``_collapse_reps`` recipe the declared
    pipelines use (uncapped star banding so the copy-collapses-
    deterministically precondition holds at any scale factor) — and
    ``copies`` the per-planted-copy boolean frame
    (doc_id, collapsed, rep_is_original)."""
    d, off = _docs_with_copies(spark, sf_dir)
    reps = _collapse_reps(d, max_bucket_size=None)
    rep_docs = d.join(
        reps.filter(F.col("is_representative")).select("doc_id"), "doc_id"
    )
    copies = reps.filter(
        (F.col("doc_id") >= F.lit(off))
        & (F.col("doc_id") < F.lit(off) + _N_DOCS)
    ).select(
        (F.col("doc_id") - F.lit(off)).alias("doc_id"),
        (~F.col("is_representative")).alias("collapsed"),
        (F.col("cluster_id") < F.lit(off)).alias("rep_is_original"),
    )
    return off, rep_docs, copies


def _exclusion_flag(
    copies: DataFrame, pair_ids: DataFrame, off: int, flag_name: str
) -> DataFrame:
    """Append ``flag_name`` to the copy booleans: TRUE iff the copy's
    id appears in NO row of ``pair_ids`` (one ``_id`` column — the
    distinct ids touched by the downstream op's actual output)."""
    hits = pair_ids.select(
        (F.col("_id") - F.lit(off)).alias("doc_id"),
        F.lit(True).alias("_in"),
    ).filter(F.col("doc_id") >= 0)
    return copies.join(hits, "doc_id", "left").select(
        "doc_id",
        "collapsed",
        "rep_is_original",
        F.coalesce(~F.col("_in"), F.lit(True)).alias(flag_name),
    )


def _pair_ids(pairs: DataFrame) -> DataFrame:
    """Distinct ids appearing on either side of a pair output."""
    return (
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )


def winnow_repr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-copy contract for the composed pipeline, one row per
    planted original, three booleans TRUE by construction:

    - ``collapsed`` — the exact copy is NOT a representative: it
      shares every band bucket with its original, so some hub
      h < copy emits a star pair and CC assigns the copy a label
      ≤ h < copy (uncapped banding — ``max_bucket_size=None`` — so
      the precondition of ``dedup_minhash_star_audit`` holds at any
      scale factor);
    - ``rep_is_original`` — the copy's cluster label is an ORIGINAL
      id: every bucket holding a copy also holds its original
      (identical signature), so bucket minima — and hence CC labels,
      which are minima over bucket minima — are always < off;
    - ``excluded_from_winnow`` — the copy's id appears in NO pair of
      the downstream winnow output (computed from the actual
      ``winnow_overlap`` run over the representatives, not assumed
      from ``collapsed``)."""
    off, rep_docs, copies = _collapse_audit_parts(spark, sf_dir)
    w = winnow_overlap(rep_docs, k=_WK, w=_WW, min_shared=1)
    return _exclusion_flag(
        copies, _pair_ids(w), off, "excluded_from_winnow"
    ).orderBy("doc_id")


_REPR_AUDIT_SQL = f"""
SELECT doc_id, TRUE AS collapsed, TRUE AS rep_is_original,
       TRUE AS excluded_from_winnow
FROM documents WHERE doc_id < {_N_DOCS} ORDER BY doc_id
"""


# ------------------------------------- n-gram containment pairs


def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed subset/quotation detection over distinct 5-gram sets
    (functions/dedup.py::ngram_containment_pairs — Broder 1997's
    asymmetric companion to Jaccard): pairs where ≥90% of one doc's
    shingles appear in the other. md5-keyed shingles make this the
    fuzzy family's one RAW pair op with a full value-level DuckDB
    oracle (the xxhash64 ops are audit-gated instead)."""

    return ngram_containment_pairs(_docs(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


_CONTAIN_K = 5
#: shared CTE prefix: tokenize → shingle md5s → viral cap → per-doc
#: set sizes (ends with the ``sized`` CTE — append more CTEs with a
#: leading comma)
_SHINGLE_CTE = rf"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), tln AS (SELECT doc_id, l, len(l) AS n FROM tl),
sh AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(l[i : i + {_CONTAIN_K} - 1], ' ')) AS g
  FROM (
    SELECT doc_id, l, unnest(range(1, n - {_CONTAIN_K} + 2)) AS i
    FROM tln WHERE n >= {_CONTAIN_K}
  )
  UNION
  -- 0 <= n < k: ONE whole-doc shingle, incl. the empty-string
  -- sentinel for n = 0 (family convention: empty docs pair)
  SELECT DISTINCT doc_id, md5(array_to_string(l, ' ')) AS g
  FROM tln WHERE n < {_CONTAIN_K}
),
freq AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g),
kept AS (SELECT sh.* FROM sh JOIN freq USING (g) WHERE df <= 1000),
sized AS (
  SELECT doc_id, g, COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM kept
)"""

_CONTAIN_SQL = _SHINGLE_CTE + """,
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM sized a JOIN sized b USING (g)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT id_a, id_b, n_a, n_b, common,
         ROUND(CAST(common AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
           AS cont_a_in_b,
         ROUND(CAST(common AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
           AS cont_b_in_a
  FROM pairs
)
SELECT id_a, id_b, n_a, n_b, common, cont_a_in_b, cont_b_in_a
FROM scored
WHERE cont_a_in_b >= 0.9 OR cont_b_in_a >= 0.9
ORDER BY id_a, id_b
"""


# --------------------------- containment-based decontamination


def contamination_containment_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval-set decontamination by CONTAINMENT (the refinement of
    ``contamination_eval_overlap``'s raw n-gram counts, over the
    IDENTICAL eval set — the md5-bucket 10% slice with salt 'eval',
    that query's contract; a %-of-id slice would screen a different eval
    set than the one the overlap op audits): report
    every (eval_doc, train_doc) pair where ≥80% of the eval doc's
    distinct 5-gram shingles appear in the train doc — the decision
    rule that catches an eval item pasted into a longer training
    document, which symmetric overlap ratios dilute.

    Scale: the join is DIRECTED from the start —
    only the ~10% eval side self-joins against the train side, so
    the inverted-index join emits no train×train or eval×eval rows
    (~81% of the symmetric op's output, discarded post-hoc in the
    first formulation). The viral-shingle cap and set sizes stay
    corpus-wide, so the containment values equal the symmetric op's
    for the same pairs."""

    d = _docs(spark, sf_dir)
    dist = (
        shingle_string_rows(d, "doc_id", "text", k=_CONTAIN_K)
        .select("_id", F.md5("_sh").alias("_g"))
        .dropDuplicates(["_id", "_g"])
    )
    viral = (
        dist.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 1000)
        .select("_g")
    )

    sized = materialize(
        dist.join(F.broadcast(viral), "_g", "left_anti").select(
            "_id",
            F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_n"),
            "_g",
        )
    )
    is_eval = hash_bucket(F.col("_id"), "eval") < int(0.10 * 4294967296)
    ev = sized.filter(is_eval).select(
        F.col("_id").alias("eval_id"), F.col("_n").alias("_ne"), "_g"
    )
    tr = sized.filter(~is_eval).select(F.col("_id").alias("train_id"), "_g")
    j = (
        ev.join(tr, "_g")
        .groupBy("eval_id", "train_id", "_ne")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    cont = F.round(
        F.col("_common").cast("double") / F.col("_ne").cast("double"), 6
    )
    return (
        j.select("eval_id", "train_id", cont.alias("containment"))
        .filter(F.col("containment") >= 0.8)
        .orderBy("eval_id", "train_id")
    )


_DECONTAM_SQL = _SHINGLE_CTE + f""",
ev AS (
  SELECT doc_id AS eval_id, n AS n_eval, g FROM sized
  WHERE {_md5_bucket_sql("doc_id", "eval")} < {int(0.10 * 4294967296)}
),
tr AS (
  SELECT doc_id AS train_id, g FROM sized
  WHERE NOT ({_md5_bucket_sql("doc_id", "eval")} < {int(0.10 * 4294967296)})
),
j AS (
  SELECT eval_id, train_id, CAST(n_eval AS BIGINT) AS n_eval,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM ev JOIN tr USING (g)
  GROUP BY 1, 2, 3
)
SELECT eval_id, train_id,
       ROUND(CAST(common AS DOUBLE) / CAST(n_eval AS DOUBLE), 6)
         AS containment
FROM j
WHERE ROUND(CAST(common AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) >= 0.8
ORDER BY eval_id, train_id
"""


# ------------------------- containment over representatives (r10)


def dedup_containment_repr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment pairs over near-dup-collapsed representatives —
    the composed mitigation ``ngram_containment_pairs``' docstring
    prescribes (functions/dedup.py), shipped as a declared operator
    exactly like ``winnow_repr_pipeline``: star-LSH → connected
    components → min-id representative per family → containment on
    the survivors.

    Why: containment, like every raw pair op here, inherently emits
    ~s·b(b−1)/2 join rows on a b-member near-dup family (the r9 100×
    rehearsal measured 1.7 s → 4.4 s → memory pressure). Family
    members are mutual near-supersets, so their containment pairs
    are redundant by construction; the relation that MATTERS at
    corpus scale — a doc quoted inside an unrelated wrapper — is
    CROSS-family and survives the collapse (pinned by
    tests/test_containment_repr.py on a synthetic corpus where the
    expected answer is computable exactly). Rows-only (MinHash
    banding is not SQL-expressible); the oracle-checked contract is
    ``containment_repr_audit``.

    MEASURED at sf0.001/sf0.01: output is correctly EMPTY — every
    raw containment pair in the testdata (28 / 25 rows) is within a
    near-dup family the collapse removes, and the residual
    cross-representative containment tops out at 0.27 even at
    shingle_k=3 (0.14 at k=4). An empty result is the operator
    working: after dedup, this corpus has no subset/quotation
    relations left to report. The thresholds stay IDENTICAL to
    ``dedup_containment_pairs`` (same op, collapsed input) rather
    than being lowered until rows appear; the audit and the
    synthetic-corpus tests carry the non-vacuous evidence."""

    # r15 (guide §2.3): this composed pipeline is ROWS-ONLY (the
    # oracle twin is ``containment_repr_audit``), and containment
    # output depends only on shingle-set identity — so it rides the
    # 8-byte xxhash64 shingle keys instead of 32-byte md5 hex
    # strings. The value-oracled ``dedup_containment_pairs`` keeps
    # md5 (the documented DuckDB-mirroring contract). Row-identity
    # of the two keyings is pinned in tests/test_containment.py.
    return ngram_containment_pairs(
        _repr_docs(_docs(spark, sf_dir)), shingle_key="xxh64"
    ).orderBy("id_a", "id_b")


#: subset-probe spine needs ceil(n/2) ≥ k so the half-doc subset
#: still has regular k-gram shingles (all ⊆ the original's)
_SUBSET_MIN_TOKENS = 2 * _CONTAIN_K


def containment_repr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted contract for the composed containment pipeline — one
    row per probe doc (doc_id < ``_N_DOCS`` with ≥ ``2k`` tokens, a
    spine both engines compute identically), four booleans TRUE by
    construction:

    - ``collapsed`` / ``rep_is_original`` — identical guarantees to
      ``winnow_repr_audit`` (exact copy shares every band bucket ⇒
      star pair ⇒ CC label < copy id, and bucket minima are always
      original ids);
    - ``excluded_from_containment`` — the copy's id appears in NO
      pair of the downstream composed containment output (computed
      from the actual run over the representatives: non-
      representatives are filtered before the op by construction);
    - ``subset_pair_exact`` — the asymmetric-detection semantics the
      op exists for: a planted HALF-DOC (first ⌈n/2⌉ tokens, so its
      distinct shingles are a strict subset of the original's) is
      found by the RAW op at ``cont_b_in_a`` exactly 1.0. Run with
      ``max_doc_freq=None`` over just probes ∪ subsets: with no
      pruning, kept(S) ⊆ kept(O) unconditionally, so the ratio is
      1.0 by set algebra, not by luck (pruning behavior is already
      value-oracled by ``dedup_containment_pairs``)."""

    spine = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < _N_DOCS)
        .withColumn("_n", token_count(F.lower(F.col("text"))))
        .filter(F.col("_n") >= _SUBSET_MIN_TOKENS)
    )

    # composed-pipeline booleans over the full corpus + exact copies
    # (same xxh64 shingle keying as the declared pipeline it audits)
    off, rep_docs, copies = _collapse_audit_parts(spark, sf_dir)
    cont = ngram_containment_pairs(rep_docs, shingle_key="xxh64")
    composed = _exclusion_flag(
        copies, _pair_ids(cont), off, "excluded_from_containment"
    )

    # raw-op subset probe: probes ∪ their half-doc subsets, no cap
    toks = tokens(F.lower(F.col("text")))
    subsets = spine.select(
        (F.col("doc_id") + F.lit(off)).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, ((F.col("_n") + 1) / 2).cast("int"))
        ).alias("text"),
    )
    probe_corpus = spine.select("doc_id", "text").unionByName(subsets)
    raw = ngram_containment_pairs(probe_corpus, max_doc_freq=None)
    subset_hit = (
        raw.filter(F.col("id_b") == F.col("id_a") + F.lit(off))
        .filter(F.col("cont_b_in_a") == 1.0)
        .select(F.col("id_a").alias("doc_id"), F.lit(True).alias("_sub"))
    )

    return (
        spine.select("doc_id")
        .join(composed, "doc_id", "left")
        .join(subset_hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("collapsed", F.lit(False)).alias("collapsed"),
            F.coalesce("rep_is_original", F.lit(False)).alias(
                "rep_is_original"
            ),
            F.coalesce("excluded_from_containment", F.lit(False)).alias(
                "excluded_from_containment"
            ),
            F.coalesce("_sub", F.lit(False)).alias("subset_pair_exact"),
        )
        .orderBy("doc_id")
    )


_CONTAIN_REPR_AUDIT_SQL = rf"""
SELECT doc_id, TRUE AS collapsed, TRUE AS rep_is_original,
       TRUE AS excluded_from_containment, TRUE AS subset_pair_exact
FROM documents
WHERE doc_id < {_N_DOCS}
  AND len(list_filter(string_split_regex(lower(text), '\s+'),
                      x -> x <> '')) >= {_SUBSET_MIN_TOKENS}
ORDER BY doc_id
"""


QUERIES = {
    "dedup_exact_docs": dedup_exact_docs,
    "dedup_clusters_exact": dedup_clusters_exact,
    "dedup_minhash_star_audit": dedup_minhash_star_audit,
    "dedup_minhash_audit": dedup_minhash_audit,
    "dedup_simhash_audit": dedup_simhash_audit,
    "winnow_repr_audit": winnow_repr_audit,
    "containment_repr_audit": containment_repr_audit,
    "dedup_exact_keep_best": dedup_exact_keep_best,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_clusters_fuzzy": dedup_clusters_fuzzy,
    "contamination_eval_overlap": contamination_eval_overlap,
    "repeated_spans_top": repeated_spans_top,
    "span_dup_coverage": span_dup_coverage,
    "dedup_jaccard_audit": dedup_jaccard_audit,
    "dedup_embedding_audit": dedup_embedding_audit,
    "dedup_clusters_audit": dedup_clusters_audit,
    "dedup_keep_best_audit": dedup_keep_best_audit,
    "semantic_dedup_prune": semantic_dedup_prune,
    "semantic_dedup_audit": semantic_dedup_audit,
    "doc_semantic_dedup": doc_semantic_dedup,
    "doc_semantic_dedup_audit": doc_semantic_dedup_audit,
    "winnow_overlap_pairs": winnow_overlap_pairs,
    "winnow_cap_report": winnow_cap_report,
    "dedup_span_rewrite": dedup_span_rewrite,
    "dedup_minhash_star": dedup_minhash_star,
    "winnow_repr_pipeline": winnow_repr_pipeline,
    "dedup_containment_pairs": dedup_containment_pairs,
    "contamination_containment_screen": contamination_containment_screen,
    "dedup_containment_repr": dedup_containment_repr,
}
ORACLE = {
    "dedup_exact_docs": _DEDUP_EXACT_SQL,
    "dedup_clusters_exact": _CLUSTERS_EXACT_SQL,
    "dedup_minhash_star_audit": _STAR_AUDIT_SQL,
    "dedup_minhash_audit": _DOC_AUDIT_SQL.format(flag="est_one"),
    "dedup_simhash_audit": _DOC_AUDIT_SQL.format(flag="hamming_zero"),
    "winnow_repr_audit": _REPR_AUDIT_SQL,
    "containment_repr_audit": _CONTAIN_REPR_AUDIT_SQL,
    "dedup_exact_keep_best": _KEEP_BEST_SQL,
    "contamination_eval_overlap": _CONTAMINATION_SQL,
    "repeated_spans_top": _REPEATED_SQL,
    "span_dup_coverage": _COVERAGE_SQL,
    "dedup_jaccard_audit": _DOC_AUDIT_SQL.format(flag="jaccard_one"),
    "dedup_embedding_audit": _EMB_AUDIT_SQL,
    "dedup_clusters_audit": _CLUSTERS_AUDIT_SQL,
    "dedup_keep_best_audit": _KEEP_BEST_AUDIT_SQL,
    "semantic_dedup_audit": _SEMDEDUP_AUDIT_SQL,
    "doc_semantic_dedup_audit": _DOC_AUDIT_SQL.format(flag="planted_pruned"),
    "winnow_overlap_pairs": _WINNOW_SQL,
    "winnow_cap_report": _WINNOW_CAP_SQL,
    "dedup_span_rewrite": _SPAN_REWRITE_SQL,
    "dedup_containment_pairs": _CONTAIN_SQL,
    "contamination_containment_screen": _DECONTAM_SQL,
}
