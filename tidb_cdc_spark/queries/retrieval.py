"""Retrieval queries: brute-force, LSH, IVF, PQ, IVF-PQ and OPQ
nearest-neighbour search, centroid assignment, BM25 and hybrid
(reciprocal-rank fusion) retrieval, reranking, hard negatives and
retrieval evaluation.

Oracle strategy: exact search and the lexical scorers carry direct
DuckDB oracles. The approximate indexes (k-means, banding, codebooks)
are rows-only; each gets a planted-copy ``*_audit`` twin: an exact
vector copy lands in the same IVF cell, gets the same PQ code and
ranks at ADC distance 0, so it must appear in the top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import bm25 as B
from tidb_cdc_spark.functions import centroids as CE
from tidb_cdc_spark.functions import pq as PQ
from tidb_cdc_spark.functions import similarity as S
from tidb_cdc_spark.functions import text as T
from tidb_cdc_spark.functions.similarity import as_double, cosine, knn_bruteforce
from tidb_cdc_spark.operators.windows import topk_per_group
from tidb_cdc_spark.queries.corpus import _docs
from tidb_cdc_spark.queries.embeddings import (
    _N_VECS,
    _QCOMP_CTE,
    _embs,
    _embs_with_copies,
)


# ------------------------------------------------------- similarity
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 5.
    Broadcast the queries; corpus scan stays unshuffled."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    out = S.knn_bruteforce(q, e, k=5)
    return out.orderBy("query_id", "rank")


_KNN_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_inner_product(qv, cv)
           / (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))) AS score
  FROM q, c WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# ------------------------- LSH / fuzzy (no SQL oracle — rows-only;
# exact-verified against brute force in tests/)
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via random-hyperplane LSH (the 100 TB path)."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return S.knn_lsh(q, e, k=5, dim=64).orderBy("query_id", "rank")


def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF coarse quantization (k-means cells +
    n_probe search) — the partition-pruning ANN scale path."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return S.knn_ivf(q, e, k=5).orderBy("query_id", "rank")


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN retrieval contract, oracle-gated. The synthetic embeddings
    are mutually near-orthogonal (recall on them is meaningless —
    LSH's contract is recall on ACTUALLY-near neighbors, tested on
    clustered data in tests/), so the gated audit PLANTS a true
    neighbor per query — a ×1.001-scaled copy at vec_id+10⁶, which
    preserves cosine (=1) AND every hyperplane signature bit — and
    verifies LSH retrieves it at rank 1. Deterministic by algorithm
    structure: identical signatures ⇒ same buckets ⇒ the copy is a
    candidate, and cosine 1 reranks first. A bucketing or rerank
    regression flips the boolean and fails the hash."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    planted = q.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(1.001)).alias(
            "embedding"
        ),
        *[c for c in e.columns if c not in ("vec_id", "embedding")],
    )
    corpus = e.unionByName(planted.select(*e.columns))
    approx = S.knn_lsh(q, corpus, k=5, dim=64)
    found = (
        approx.filter(F.col("neighbor_id") == F.col("query_id") + 1000000)
        .groupBy("query_id")
        .agg(F.min("rank").alias("_rk"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(found, "query_id", "left")
        .select(
            "query_id",
            F.col("_rk").isNotNull().alias("planted_found"),
            (F.coalesce(F.col("_rk"), F.lit(99)) == 1).alias("planted_rank1"),
        )
        .orderBy("query_id")
    )


_ANN_RECALL_SQL = """
SELECT vec_id AS query_id, TRUE AS planted_found, TRUE AS planted_rank1
FROM embeddings WHERE vec_id < 5 ORDER BY query_id
"""


#: top-k used by the knn audits: ADC/cosine ties rank by neighbor_id
#: ascending and the planted copy has the LARGEST id, so k must
#: comfortably exceed any plausible count of exactly-tied lower-id
#: vectors (PQ code collisions make small ties possible; 50 identical
#: codes would mean the corpus is one giant duplicate family)
_AUDIT_K = 50


def _knn_planted_report(
    approx: DataFrame, spine: DataFrame, off: int
) -> DataFrame:
    found = (
        approx.filter(F.col("neighbor_id") == F.col("query_id") + F.lit(off))
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        spine.join(found, "query_id", "left")
        .select("query_id", F.col("_n").isNotNull().alias("planted_found"))
        .orderBy("query_id")
    )


_KNN_AUDIT_SQL = """
SELECT vec_id AS query_id, TRUE AS planted_found
FROM embeddings WHERE vec_id < 5 ORDER BY query_id
"""


def _vec_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _embs(spark, sf_dir)
        .filter(F.col("vec_id") < _N_VECS)
        .select(F.col("vec_id").alias("query_id"))
    )


def knn_ivf_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF retrieval contract: an exact copy gets the identical cell
    assignment (same argmin over centroids) and cosine 1 to its query
    ⇒ must be retrieved in the audit top-k (ties rank by id ascending
    and the copy's id is the largest, so k is sized far beyond any
    plausible exact-tie count — see _AUDIT_K)."""
    e, off = _embs_with_copies(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_VECS)
    approx = S.knn_ivf(q, e, k=_AUDIT_K)
    return _knn_planted_report(approx, _vec_spine(spark, sf_dir), off)


def knn_pq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC retrieval contract: an exact copy encodes to the
    identical PQ code as the query itself ⇒ ADC distance equals the
    query's own quantization distance, the minimum possible ⇒ copy in the audit top-k (_AUDIT_K
    absorbs same-code ties, which rank lower ids first)."""
    e, off = _embs_with_copies(spark, sf_dir)
    books = PQ.pq_train(e, m=4, k=16, train_fraction=0.25)
    codes = PQ.pq_encode(e, books)
    q = e.filter(F.col("vec_id") < _N_VECS)
    approx = PQ.pq_knn_adc(q, codes, books, k=_AUDIT_K)
    return _knn_planted_report(approx, _vec_spine(spark, sf_dir), off)


def knn_ivfpq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ retrieval contract: exact copy ⇒ same coarse cell, same
    residual, same PQ code ⇒ candidate via every probed cell and
    minimal ADC distance ⇒ copy in the audit top-k (_AUDIT_K)."""
    e, off = _embs_with_copies(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_VECS)
    approx = PQ.ivfpq_knn(
        q, e, k=_AUDIT_K, n_cells=16, n_probe=4, train_fraction=0.25
    )
    return _knn_planted_report(approx, _vec_spine(spark, sf_dir), off)


def knn_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (integral squared L2, ties to the
    smaller label) for every vector — the mislabeled-vector audit."""
    return CE.assign_nearest_centroid(_embs(spark, sf_dir)).orderBy(
        "vec_id"
    )


_ASSIGN_SQL = (
    _QCOMP_CTE
    + """
, d AS (
  SELECT comp.vec_id, comp.label, cent.label AS clabel,
         CAST(SUM((q - cq) * (q - cq)) AS BIGINT) AS dist2
  FROM comp JOIN cent USING (pos)
  GROUP BY comp.vec_id, comp.label, cent.label
), r AS (
  SELECT vec_id, label, clabel AS assigned, dist2,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dist2, clabel) AS rn
  FROM d
)
SELECT vec_id, label, assigned, dist2 FROM r WHERE rn = 1
ORDER BY vec_id
"""
)


def rag_retrieve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end: query vectors → exact top-3 cosine
    neighbors (the ANN twin swaps in ``knn_lsh`` at scale, same join
    shape) → joined back to the document table for the passage
    payload (language, token count). One broadcast of the 3 query
    vectors + one id-equi-join against documents — no corpus text
    moves until a document is actually retrieved."""

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 3)
    hits = S.knn_bruteforce(q, e, k=3).select("query_id", "neighbor_id", "rank")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id"),
        "lang",
        T.token_count(F.col("text")).alias("n_tokens"),
    )
    return (
        hits.join(docs, hits.neighbor_id == docs.doc_id)
        .select("query_id", "rank", "doc_id", "lang", "n_tokens")
        .orderBy("query_id", "rank")
    )


_RAG_SQL = r"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_inner_product(qv, cv)
           / (sqrt(list_inner_product(qv, qv))
              * sqrt(list_inner_product(cv, cv))) AS score
  FROM q, c WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, d.doc_id, d.lang,
       len(list_filter(string_split_regex(d.text, '\s+'),
           x -> x <> '')) AS n_tokens
FROM ranked JOIN documents d ON neighbor_id = d.doc_id
WHERE rank <= 3
ORDER BY query_id, rank
"""


def rag_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: dense (cosine) and lexical (distinct-token
    overlap — degenerate BM25 with no tf/idf weighting, chosen so the
    score is integer-exact across engines) rankings fused by
    Reciprocal Rank Fusion, score(d) = Σ_m 1/(60 + rank_m(d))
    (Cormack & Clarke's RRF, the public IR standard; k=60). RRF fuses
    RANKS, not raw scores, so the two modalities need no score
    calibration — which is also what makes it oracle-exact: ranks are
    ints, the fused score is the same two IEEE divisions + one add in
    both engines.

    Plan: the dense arm broadcasts the 3 query vectors over the
    corpus scan (no corpus shuffle — knn_bruteforce's shape). The
    lexical arm is an inverted-index join: corpus docs explode to
    distinct tokens, the QUERY token table (3 docs' worth) broadcasts
    onto it, overlap counts come from one map-side-combining groupBy
    on (query, doc). LEFT-join fusion keeps docs with zero lexical
    overlap in play on dense rank alone. At 100 TB both arms scan the
    corpus once each with only id/rank-sized shuffles; the dense arm
    swaps to the IVF/LSH index for large query sets (same fusion)."""


    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 3)
    # full-corpus ranking (k=None) from the SAME broadcast-cosine
    # operator the plain retrieval path uses — one shape to maintain
    dense = S.knn_bruteforce(q, e, k=None).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("_vr"),
    )
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("_tok"),
    )
    qtoks = toks.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "_tok"
    )
    lex = (
        toks.join(F.broadcast(qtoks), "_tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("_n_shared"))
        .withColumn(
            "_lr",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_n_shared").desc(), F.col("doc_id")
                )
            ),
        )
        .select("query_id", "doc_id", "_lr")
    )
    fused = dense.join(lex, ["query_id", "doc_id"], "left").withColumn(
        "_rrf",
        1.0 / (60 + F.col("_vr"))
        + F.coalesce(1.0 / (60 + F.col("_lr")), F.lit(0.0)),
    )
    return (
        topk_per_group(
            fused,
            ["query_id"],
            [F.col("_rrf").desc(), F.col("doc_id")],
            5,
            rank_col="rank",
        )
        .select(
            "query_id",
            "rank",
            "doc_id",
            F.round("_rrf", 6).alias("rrf_score"),
        )
        .orderBy("query_id", "rank")
    )


_HYBRID_SQL = r"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 3
), c AS (
  SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), dense AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY list_inner_product(qv, cv)
                      / (sqrt(list_inner_product(qv, qv))
                         * sqrt(list_inner_product(cv, cv))) DESC,
                    doc_id) AS vr
  FROM q, c WHERE query_id <> doc_id
), tok AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(
           string_split_regex(text, '\s+'), x -> x <> ''))) AS tok
  FROM documents
), qtok AS (
  SELECT doc_id AS query_id, tok FROM tok WHERE doc_id < 3
), lex AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY COUNT(*) DESC, doc_id) AS lr
  FROM tok JOIN qtok USING (tok)
  WHERE tok.doc_id <> qtok.query_id
  GROUP BY query_id, doc_id
), fused AS (
  SELECT d.query_id, d.doc_id,
         1.0/(60 + d.vr) + COALESCE(1.0/(60 + l.lr), 0.0) AS rrf
  FROM dense d LEFT JOIN lex l
    ON d.query_id = l.query_id AND d.doc_id = l.doc_id
), ranked AS (
  SELECT query_id, doc_id, rrf,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, ROUND(rrf, 6) AS rrf_score
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via product quantization + asymmetric distance
    computation: 64-dim vectors → 4×16 codebooks (16× compression),
    corpus-side search is integer code lookups only. Rows-only (the
    codebook training is KMeans); retrieval quality is pinned by the
    clustered-data recall test, and the plan shape — broadcast LUT
    join + map-side-combining (query, vector) sum — is the point at
    scale: no corpus-side float vectors move."""
    e = _embs(spark, sf_dir)
    books = PQ.pq_train(e, m=4, k=16, train_fraction=0.25)
    codes = PQ.pq_encode(e, books)
    q = e.filter(F.col("vec_id") < 5)
    return PQ.pq_knn_adc(q, codes, books, k=5).orderBy("query_id", "rank")


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via the full IVF-PQ layout: coarse cells prune
    candidates (n_probe of n_cells — partition pruning when the code
    table is stored partitioned by cell), residual-encoded PQ codes
    rank them by ADC. The canonical billion-vector index shape."""
    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5)
    return PQ.ivfpq_knn(
        q, e, k=5, n_cells=16, n_probe=4, train_fraction=0.25
    ).orderBy(
        "query_id", "rank"
    )


# ------------------------------------------------ parametric OPQ


def knn_opq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via OPQ_P (Ge et al. CVPR'13): eigenvalue-allocated
    PCA rotation balances per-subspace variance before the standard
    4×16 PQ/ADC pipeline. Rows-only (KMeans + eigh); retrieval is
    pinned by the clustered-recall test and ``knn_opq_audit``."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 5)
    return PQ.opq_knn_adc(q, e, k=5, train_fraction=0.25).orderBy(
        "query_id", "rank"
    )


def knn_opq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-copy retrieval contract for OPQ: rotation is a pure
    per-vector map, so an exact copy rotates to the same point,
    encodes to a (near-)identical code, and sits at the minimal ADC
    distance ⇒ must appear in the audit top-k."""
    e, off = _embs_with_copies(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_VECS)
    approx = PQ.opq_knn_adc(
        q, e.select("vec_id", "embedding"), k=_AUDIT_K, train_fraction=0.25
    )
    return _knn_planted_report(approx, _vec_spine(spark, sf_dir), off)


_OPQ_AUDIT_SQL = """
SELECT vec_id AS query_id, TRUE AS planted_found
FROM embeddings WHERE vec_id < 5 ORDER BY query_id
"""


# ------------------------------------------- hard-negative mining


def rag_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retriever training: for
    each query vector, the top-5 most-similar corpus vectors with a
    DIFFERENT label — near-misses that teach the margin (random
    negatives are trivially separable). Plan = the knn_bruteforce
    shape (broadcast queries over an unshuffled corpus scan + window
    top-k) with the label-mismatch predicate applied pre-rank; at
    100 TB the brute-force arm swaps for ``knn_lsh``/IVF with a
    post-filter, same contract."""

    e = _embs(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("_qv"),
        F.col("label").alias("_qlabel"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double(F.col("embedding")).alias("_cv"),
        F.col("label").alias("neg_label"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .filter(F.col("neg_label") != F.col("_qlabel"))
        .withColumn("score", cosine(F.col("_qv"), F.col("_cv")))
        .select("query_id", "neighbor_id", "neg_label", "score")
    )
    return (
        topk_per_group(
            scored,
            ["query_id"],
            [F.col("score").desc(), F.col("neighbor_id").asc()],
            5,
            rank_col="rank",
        )
        .select("query_id", "neighbor_id", "neg_label", "rank")
        .orderBy("query_id", "rank")
    )


_HARD_NEG_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id, c.label AS neg_label,
         list_inner_product(qv, cv)
           / (sqrt(list_inner_product(qv, qv))
              * sqrt(list_inner_product(cv, cv))) AS score
  FROM q, c
  WHERE query_id <> neighbor_id AND q.label <> c.label
), ranked AS (
  SELECT query_id, neighbor_id, neg_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, neg_label, rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


# --------------------------------------- retrieve-then-rerank cascade

def rag_rerank_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-encoder SERVING shape (retrieve cheap, rerank
    expensive): stage 1 retrieves top-20 candidates per query by
    dense cosine (exact brute force here; at 100 TB this stage swaps
    for knn_lsh / ivfpq_probe_index — the rerank stage is unchanged),
    stage 2 re-scores ONLY those 20 pairs with a PAIRWISE scorer over
    the raw texts and keeps top-5. The scorer is integral token-set
    Jaccard (|A∩B|·10⁶ div |A∪B|) — a deterministic stand-in with
    the same data flow as a model cross-encoder (per-pair scoring of
    query/candidate TEXT, non-factorizable into vector products);
    a model scorer drops into the same per-pair frame as an Arrow
    mapInPandas. Cost shape is the point: the expensive scorer
    touches k·|queries| pairs, never the corpus. Fully exact ⇒
    DuckDB oracle; ties broken by neighbor_id.
    """

    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    q = e.filter(F.col("vec_id") < 5)
    cand = knn_bruteforce(q, e, k=20).select("query_id", "neighbor_id")
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.array_distinct(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda x: x != "",
            )
        ).alias("ts"),
    )
    j = (
        cand.join(
            toks.select(
                F.col("doc_id").alias("query_id"), F.col("ts").alias("_qt")
            ),
            "query_id",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("neighbor_id"),
                F.col("ts").alias("_ct"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            # BIGINT before the ×10⁶: size() is INT and Spark runs
            # ANSI — a pair sharing ≥2148 tokens would overflow INT
            F.expr(
                "CAST(size(array_intersect(_qt, _ct)) AS BIGINT) * 1000000 "
                "DIV GREATEST(size(array_union(_qt, _ct)), 1)"
            ).alias("jaccard_ppm"),
        )
    )
    return topk_per_group(
        j,
        ["query_id"],
        [F.col("jaccard_ppm").desc(), F.col("neighbor_id").asc()],
        5,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "jaccard_ppm", "rank").orderBy(
        "query_id", "rank"
    )


_RERANK_SQL = r"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_inner_product(qv, cv)
           / (sqrt(list_inner_product(qv, qv))
              * sqrt(list_inner_product(cv, cv))) AS score
  FROM q, c WHERE query_id <> neighbor_id
), cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS r
    FROM scored
  ) WHERE r <= 20
), tok AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\s+'),
                                   x -> x <> '')) AS ts
  FROM documents
), j AS (
  SELECT query_id, neighbor_id,
         CAST(len(list_intersect(tq.ts, tc.ts)) * 1000000
              // GREATEST(len(list_distinct(list_concat(tq.ts, tc.ts))), 1)
              AS BIGINT) AS jaccard_ppm
  FROM cand
  JOIN tok tq ON tq.doc_id = cand.query_id
  JOIN tok tc ON tc.doc_id = cand.neighbor_id
), rr AS (
  SELECT query_id, neighbor_id, jaccard_ppm,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY jaccard_ppm DESC, neighbor_id)
              AS INTEGER) AS rank
  FROM j
)
SELECT query_id, neighbor_id, jaccard_ppm, rank
FROM rr WHERE rank <= 5 ORDER BY query_id, rank
"""


def rag_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval, the real tf/idf ranker (whole-bit idf,
    integer-µ saturation — functions/bm25.py): docs 0-2 as queries,
    top-5 hits each, self-hits excluded. Postings never move; the
    query-term×idf table broadcasts."""
    docs = _docs(spark, sf_dir)
    q = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    return B.bm25_topk(docs, q, k=5, exclude_self=True).orderBy(
        "query_id", "rank"
    )


_BM25_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nd,
         GREATEST(CAST(SUM(dl) AS BIGINT) // COUNT(*), 1) AS avgdl
  FROM dl
), q AS (
  SELECT doc_id AS query_id, unnest(list_distinct(
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> ''))) AS term
  FROM documents WHERE doc_id < 3
), qidf AS (
  SELECT q.query_id, q.term,
         CAST(length(bin(tot.nd)) - length(bin(dfreq.df)) AS BIGINT)
           AS idf_bits,
         tot.avgdl
  FROM q JOIN dfreq USING (term), tot
), scored AS (
  -- clamps + idf-outside-the-div mirror functions/bm25.py exactly
  -- (int64-safety restructure; see TF_CAP/AVGDL_CAP/DL_CAP there)
  SELECT qidf.query_id, tf.doc_id,
         CAST(SUM(qidf.idf_bits *
                  ((1000000 * 44 * LEAST(tf.tf, 1000000)
                    * LEAST(qidf.avgdl, 100000))
                   // (20 * LEAST(tf.tf, 1000000)
                       * LEAST(qidf.avgdl, 100000)
                       + 6 * LEAST(qidf.avgdl, 100000)
                       + 18 * LEAST(dl.dl, 1000000000000000))))
              AS BIGINT) AS score_mu
  FROM tf JOIN qidf USING (term) JOIN dl USING (doc_id)
  WHERE tf.doc_id <> qidf.query_id
  GROUP BY qidf.query_id, tf.doc_id
), ranked AS (
  SELECT query_id, doc_id, score_mu,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score_mu DESC, doc_id)
              AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, doc_id, score_mu, rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


def rag_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval scorecard (functions/similarity.py::
    retrieval_metrics): exact top-10 cosine retrieval for 20 query
    vectors, judged against the same-label relevance set — per-query
    hits@10 / first-hit rank / reciprocal rank / bounded recall, all
    integer µ. The evaluation harness every retrieval change should
    re-run; swaps to the LSH/IVF arm unchanged at scale."""

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 20)
    results = S.knn_bruteforce(q, e, k=10)
    lab = e.select("vec_id", "label")
    gold = (
        q.select(F.col("vec_id").alias("query_id"), "label")
        .join(
            lab.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "label",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return S.retrieval_metrics(results, gold, k=10).orderBy("query_id")


_RETR_EVAL_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label
  FROM embeddings WHERE vec_id < 20
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label
  FROM embeddings
), scored AS (
  SELECT query_id, neighbor_id,
         list_inner_product(qv, cv)
           / (sqrt(list_inner_product(qv, qv))
              * sqrt(list_inner_product(cv, cv))) AS score
  FROM q, c WHERE query_id <> neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id)
              AS BIGINT) AS rank
  FROM scored
), res AS (
  SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10
), gold AS (
  SELECT q.query_id, c.neighbor_id
  FROM q JOIN c USING (label)
  WHERE c.neighbor_id <> q.query_id
), ng AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_gold
  FROM gold GROUP BY query_id
), hits AS (
  SELECT res.query_id,
         CAST(COUNT(*) AS BIGINT) AS hits_at_k,
         CAST(MIN(res.rank) AS BIGINT) AS first
  FROM res JOIN gold USING (query_id, neighbor_id)
  GROUP BY res.query_id
)
SELECT ng.query_id, ng.n_gold,
       CAST(COALESCE(hits.hits_at_k, 0) AS BIGINT) AS hits_at_k,
       CAST(COALESCE(hits.first, 0) AS BIGINT) AS first_hit_rank,
       CAST(CASE WHEN hits.first IS NOT NULL
                 THEN 1000000 // hits.first ELSE 0 END AS BIGINT)
         AS rr_mu,
       CAST((COALESCE(hits.hits_at_k, 0) * 1000000)
            // LEAST(10, ng.n_gold) AS BIGINT) AS recall_mu
FROM ng LEFT JOIN hits USING (query_id)
ORDER BY query_id
"""


QUERIES = {
    "knn_bruteforce_cosine": knn_bruteforce_cosine,
    "rag_retrieval_eval": rag_retrieval_eval,
    "knn_lsh_cosine": knn_lsh_cosine,
    "knn_ivf_cosine": knn_ivf_cosine,
    "ann_recall_audit": ann_recall_audit,
    "knn_centroid_assign": knn_centroid_assign,
    "rag_retrieve_topk": rag_retrieve_topk,
    "rag_hybrid_rrf": rag_hybrid_rrf,
    "knn_ivf_audit": knn_ivf_audit,
    "knn_pq_audit": knn_pq_audit,
    "knn_ivfpq_audit": knn_ivfpq_audit,
    "knn_pq_adc": knn_pq_adc,
    "knn_ivfpq": knn_ivfpq,
    "knn_opq_adc": knn_opq_adc,
    "knn_opq_audit": knn_opq_audit,
    "rag_hard_negatives": rag_hard_negatives,
    "rag_rerank_cascade": rag_rerank_cascade,
    "rag_bm25_topk": rag_bm25_topk,
}
ORACLE = {
    "knn_bruteforce_cosine": _KNN_SQL,
    "rag_retrieval_eval": _RETR_EVAL_SQL,
    "ann_recall_audit": _ANN_RECALL_SQL,
    "knn_centroid_assign": _ASSIGN_SQL,
    "rag_retrieve_topk": _RAG_SQL,
    "rag_hybrid_rrf": _HYBRID_SQL,
    "knn_ivf_audit": _KNN_AUDIT_SQL,
    "knn_pq_audit": _KNN_AUDIT_SQL,
    "knn_ivfpq_audit": _KNN_AUDIT_SQL,
    "knn_opq_audit": _OPQ_AUDIT_SQL,
    "rag_hard_negatives": _HARD_NEG_SQL,
    "rag_rerank_cascade": _RERANK_SQL,
    "rag_bm25_topk": _BM25_SQL,
}
