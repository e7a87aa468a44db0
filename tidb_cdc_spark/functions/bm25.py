"""Okapi BM25 lexical retrieval (Robertson & Zaragoza 2009, "The
Probabilistic Relevance Framework: BM25 and Beyond" — public
literature) with the standard k1 = 1.2, b = 0.75, as an
inverted-index equi-join — the real tf/idf-weighted ranker the RRF
hybrid's lexical arm (queries/retrieval.py) deliberately degenerates to
distinct-token overlap.

Exactness contract (hash-exact cross-engine, repo convention since
functions/lm.py): floats enter BM25 through ``log`` (idf) and the
length-normalized saturation quotient. The engine quantizes both:

- idf in whole bits: ``idf_bits(t) = fl2(N_docs) − fl2(df_t)``
  with ``fl2(n) = length(bin(n)) − 1`` (the +1s cancel in the
  difference) — monotone in the true ``log2(N/df)`` within 2 bits;
- the saturation term in exact integer µ-units with avgdl rounded
  to an integer (``avgdl = N_tokens div N_docs``, ≥ 1): with
  k1 = 6/5 and b = 3/4,

      tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    = 44·tf·avgdl / (20·tf·avgdl + 6·avgdl + 18·dl)      (exact)

  so ``term_score_µ = idf_bits · ((10⁶ · 44 · tf · avgdl)
  div (20·tf·avgdl + 6·avgdl + 18·dl))`` — idf multiplies the
  already-divided saturation quotient, so the µ-numerator excludes
  the one corpus-dependent factor. Degenerate inputs are clamped
  BEFORE scoring (the unclamped numerator overflows
  int64 at tf·avgdl ≳ 10¹⁰, and ANSI mode turns that into
  ARITHMETIC_OVERFLOW failing the whole query): ``tf ≤ 10⁶``
  (saturation is flat there: the quotient is within 1e-5 of its
  tf→∞ limit), ``avgdl ≤ 10⁵``, ``dl ≤ 10¹⁵``. Worst-case
  numerator 10⁶·44·10⁶·10⁵ = 4.4·10¹⁸ < 2⁶³−1, denominator
  < 2·10¹⁶, per-term score ≤ 63·2.2·10⁶ — int64-safe at ANY
  corpus size and ANY adversarial document, by construction.

Scale shape (100 TB): corpus (doc, term, tf) + per-doc lengths are
one map-side-combining aggregate each; df is an aggregate OVER the
tf table (COUNT, not COUNT DISTINCT). The query-term table with
its idf attached is ≤ |queries|·|terms per query| rows — BROADCAST
onto the corpus postings; scoring is one groupBy (query, doc). No
corpus text and no full-vocabulary table ever shuffles.

Reference scope note: the reference engine (dollarkillerx/tidb-cdc)
has no retrieval surface; north-star pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.tfidf import term_frequencies

#: µ-unit scale shared with functions/quality.py / selection.py.
PPM = 1_000_000

#: Degenerate-input clamps keeping the µ-score numerator inside
#: int64 under ANSI mode (see module docstring for the bound).
#: Mirrored verbatim in the DuckDB oracle (queries/retrieval.py) and the
#: pure-Python twin (tests/test_dsir_bm25.py).
TF_CAP = 1_000_000
AVGDL_CAP = 100_000
DL_CAP = 10**15


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
) -> DataFrame:
    """(query_id, id, score_mu): integral BM25 score in µ-units for
    every (query, document) pair sharing ≥ 1 term. Repeated query
    terms count once (the standard short-query convention: the
    query-side tf weight is dropped). Self-pairs are NOT excluded —
    callers filter if query ids live in the doc id space.

    Plan: postings stay put; only the broadcast query-term×idf
    table and (query, doc, score) rows move."""
    # term_frequencies normalizes the id column name to "doc_id";
    # restore the caller's name in the final projection.
    tf = term_frequencies(docs, id_col, text_col)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("_dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("_nd"),
        F.sum("_dl").alias("_ntok"),
    ).select(
        "_nd",
        F.greatest(F.expr("_ntok div _nd"), F.lit(1)).alias("_avgdl"),
    )
    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(
            F.array_distinct(
                F.split(F.lower(F.col(query_text_col)), r"\s+")
            )
        ).alias("term"),
    ).filter(F.col("term") != "")
    # idf attaches on the QUERY side: dfreq is vocabulary-sized, but
    # the semi-filtered (query-term ⋈ df) product is tiny — that is
    # what broadcasts, never the vocabulary.
    q_idf = (
        qterms.join(dfreq, "term")
        .crossJoin(F.broadcast(totals))
        .select(
            "query_id",
            "term",
            (F.length(F.bin(F.col("_nd"))) - F.length(F.bin(F.col("_df"))))
            .cast("long")
            .alias("_idf_bits"),
            F.col("_avgdl").cast("long").alias("_avgdl"),
        )
    )
    scored = (
        tf.join(F.broadcast(q_idf), "term")
        .join(dl, "doc_id")
        .withColumn(
            "_term_mu",
            F.expr(
                f"_idf_bits * (({PPM}L * 44L"
                f" * least(tf, {TF_CAP}L)"
                f" * least(_avgdl, {AVGDL_CAP}L)) div "
                f"(20L * least(tf, {TF_CAP}L)"
                f" * least(_avgdl, {AVGDL_CAP}L)"
                f" + 6L * least(_avgdl, {AVGDL_CAP}L)"
                f" + 18L * least(_dl, {DL_CAP}L)))"
            ),
        )
    )
    return (
        scored.groupBy("query_id", "doc_id")
        .agg(F.sum("_term_mu").cast("long").alias("score_mu"))
        .withColumnRenamed("doc_id", id_col)
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    exclude_self: bool = False,
) -> DataFrame:
    """Top-k BM25 hits per query, rank tie-broken by id ASC:
    (query_id, id, score_mu, rank). Set ``exclude_self`` when query
    ids live in the document id space (query docs drawn from the
    corpus) so a query never retrieves itself. One shuffle on
    query_id after the broadcast-join scoring; SPARK-37099
    rank-filter pushdown prunes per partition before the sort
    materializes."""
    from tidb_cdc_spark.operators.windows import topk_per_group

    scores = bm25_scores(
        docs, queries, id_col, text_col, query_id_col, query_text_col
    )
    if exclude_self:
        scores = scores.filter(F.col("query_id") != F.col(id_col))
    return topk_per_group(
        scores,
        ["query_id"],
        [F.desc("score_mu"), F.asc(id_col)],
        k,
        rank_col="rank",
    ).select("query_id", id_col, "score_mu", F.col("rank").cast("int"))
