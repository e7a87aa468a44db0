"""Crawl-archive ingest queries: WARC — the container every web-scale
corpus arrives in — walked, HTTP-parsed, HTML-extracted and census'd
with planted-arithmetic oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.html import html_strip_tags, html_strip_tags_sql
from tidb_cdc_spark.functions.warc import synth_warc_media, warc_records
from tidb_cdc_spark.session import materialize


def warc_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest census over REAL crawl archives — the ISO 28500
    record walk (`functions/warc.py::warc_records`): version line +
    CRLF header block + Content-Length payload + CRLF CRLF
    separator, over all three storage layouts a crawl actually
    ships (plain WARC, record-per-gzip-member .warc.gz, whole-file
    gzip stream), with response records HTTP-parsed (status, MIME,
    chunked transfer-encoding de-chunked, gzip content-encoding
    decompressed — both gzip layers are stdlib zlib, the referee).

    Planted-transform oracle: file ``pid = doc_id % 131`` carries
    one warcinfo + ``K = 1 + pid % 4`` response records whose
    status / MIME / body are pure functions of (pid, k); variant
    ``doc_id div 131 % 3`` stores the SAME logical records as
    0 plain+identity, 1 gzip-members+chunked, 2 gzip-stream+gzipped
    bodies. ``distinct_bodies`` (md5 over DECODED bodies) therefore
    equals the number of distinct (pid, k) pairs iff the record
    walk, de-chunking, and both gzip layers are right — a broken
    layer inflates it. All columns from id arithmetic."""

    planted = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") % 131).alias("pid"),
            (F.expr("doc_id div 131") % 3).cast("int").alias("variant"),
        )
    )
    recs = materialize(
        warc_records(synth_warc_media(planted, "media_id"))
    )
    resp = recs.where(F.col("warc_type") == "response")
    return (
        recs.agg(
            F.countDistinct("media_id").alias("n_files"),
            F.count(F.lit(1)).alias("n_records"),
        )
        .crossJoin(
            F.broadcast(
                resp.agg(
                    F.count(F.lit(1)).alias("n_responses"),
                    F.sum(
                        F.when(F.col("http_status") == 200, 1).otherwise(0)
                    ).cast("long").alias("n_status_200"),
                    F.sum(
                        F.when(F.col("mime") == "text/html", 1).otherwise(0)
                    ).cast("long").alias("n_html"),
                    F.sum("body_len").cast("long").alias("total_body_bytes"),
                    F.countDistinct(F.md5(F.col("body"))).alias(
                        "distinct_bodies"
                    ),
                )
            )
        )
        .select(
            "n_files",
            "n_records",
            "n_responses",
            "n_status_200",
            "n_html",
            "total_body_bytes",
            "distinct_bodies",
        )
    )


# plant arithmetic: file pid has 1 warcinfo + (1 + pid%4) responses;
# response k: status 200 iff (pid+k)%4 != 0, MIME html iff k even,
# body = 16-byte unit × (1 + (pid+k)%5) — bodies injective in
# (pid, k), so distinct_bodies counts distinct (pid, k) pairs
_WARC_INGEST_SQL = """
WITH m AS (
  SELECT doc_id % 131 AS pid FROM documents WHERE doc_id >= 0
), per AS (
  SELECT pid, COUNT(*) AS nf FROM m GROUP BY pid
), recs AS (
  SELECT pid, nf, UNNEST(range(0, 1 + pid % 4)) AS k FROM per
)
SELECT
  CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_files,
  CAST((SELECT SUM(2 + pid % 4) FROM m) AS BIGINT) AS n_records,
  CAST((SELECT SUM(1 + pid % 4) FROM m) AS BIGINT) AS n_responses,
  CAST((SELECT SUM(nf * CASE WHEN (pid + k) % 4 <> 0 THEN 1 ELSE 0 END)
        FROM recs) AS BIGINT) AS n_status_200,
  CAST((SELECT SUM(nf * CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
        FROM recs) AS BIGINT) AS n_html,
  CAST((SELECT SUM(nf * 16 * (1 + (pid + k) % 5))
        FROM recs) AS BIGINT) AS total_body_bytes,
  CAST((SELECT COUNT(*) FROM recs) AS BIGINT) AS distinct_bodies
"""


def corpus_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction over REAL document text — the first
    transform after crawl ingest in a C4-style pipeline, run
    ENTIRELY JVM-side (`functions/html.py::html_strip_tags` is a
    regexp_replace/replace column chain inside whole-stage codegen —
    no Python worker anywhere in this plan). Each document is
    wrapped in a realistic page (head/script/style/comments,
    entity-encoded headline) with built-in concat, stripped, and
    census'd: extracted length, whitespace token count, and the md5
    of the extracted text per document.

    TRUE cross-engine oracle (the TPC-H discipline, not a planted
    transform): every pattern in the chain is written to the
    Java-regex ∩ RE2 common subset, so DuckDB runs the IDENTICAL
    chain over the same parquet text and the md5s must match
    value-for-value."""

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select("doc_id", "text")
    )
    page = F.concat(
        F.lit('<html><head><title>D'),
        F.col("doc_id").cast("string"),
        F.lit('</title><script type="text/javascript">var x = '
              '"<p>not text</p>";</script><style>p { color: red; }'
              '</style></head><body><!-- doc '),
        F.col("doc_id").cast("string"),
        F.lit(' --><h1>Doc &quot;'),
        F.col("doc_id").cast("string"),
        F.lit('&quot; &amp;&nbsp;notes</h1><p>'),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    extracted = html_strip_tags(page)
    return (
        docs.select(
            "doc_id",
            F.length(extracted).cast("long").alias("extracted_len"),
            F.size(F.split(extracted, " ")).cast("long").alias("n_tokens"),
            F.md5(F.encode(extracted, "UTF-8")).alias("text_md5"),
        )
        .orderBy("doc_id")
    )


def _html_extract_sql() -> str:
    page = (
        "'<html><head><title>D' || CAST(doc_id AS VARCHAR) || "
        "'</title><script type=\"text/javascript\">var x = "
        "\"<p>not text</p>\";</script><style>p { color: red; }"
        "</style></head><body><!-- doc ' || "
        "CAST(doc_id AS VARCHAR) || ' --><h1>Doc &quot;' || "
        "CAST(doc_id AS VARCHAR) || "
        "'&quot; &amp;&nbsp;notes</h1><p>' || text || "
        "'</p></body></html>'"
    )
    t = html_strip_tags_sql(page)
    return f"""
SELECT doc_id,
       CAST(LENGTH({t}) AS BIGINT) AS extracted_len,
       CAST(LEN(STR_SPLIT({t}, ' ')) AS BIGINT) AS n_tokens,
       MD5({t}) AS text_md5
FROM documents WHERE doc_id >= 0
ORDER BY doc_id
"""


def crawl_html_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl front end END-TO-END in one declared plan — what a
    C4-style corpus build actually runs: WARC record walk (all three
    storage layouts) → HTTP parse (status routing, chunked
    de-framing, gzip bodies) → the JVM-side HTML→text column chain
    (`html_strip_tags` over the decoded body — the only Python in
    the plan is the Arrow record walk itself) → page census.

    Planted-transform oracle: cluster ``pid = doc_id % 137``; the
    response bodies are HTML pages (`_planted_html_page`) whose
    EXTRACTED text carries exactly ``5 + (pid+k) % 5`` whitespace
    tokens (the surviving title word, the 3-token headline with its
    decoded ``&amp;``, and ``1 + (pid+k) % 5`` paragraph words) and
    is injective in (pid, k). Pages are selected the way
    a pipeline selects them (status 200 AND ``text/html``), so
    every census column is id arithmetic — and collapses across the
    three storage variants iff every stage upstream of the census
    decodes right."""

    planted = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") % 137).alias("pid"),
            (F.expr("doc_id div 137") % 3).cast("int").alias("variant"),
        )
    )
    recs = materialize(
        warc_records(synth_warc_media(planted, "media_id", bodies="html"))
    )
    resp = recs.where(F.col("warc_type") == "response")
    text = html_strip_tags(F.decode(F.col("body"), "UTF-8"))
    pages = resp.where(
        (F.col("http_status") == 200) & (F.col("mime") == "text/html")
    ).select(text.alias("text"))
    return (
        resp.agg(F.count(F.lit(1)).alias("n_responses"))
        .crossJoin(
            F.broadcast(
                pages.agg(
                    F.count(F.lit(1)).alias("n_pages"),
                    F.sum(F.size(F.split(F.col("text"), " ")))
                    .cast("long")
                    .alias("sum_tokens"),
                    F.countDistinct(
                        F.md5(F.encode(F.col("text"), "UTF-8"))
                    ).alias("distinct_texts"),
                )
            )
        )
        .select("n_responses", "n_pages", "sum_tokens", "distinct_texts")
    )


# plant arithmetic: page (pid,k) selected iff k even (text/html) and
# (pid+k)%4 != 0 (status 200); its extracted text has 5 + (pid+k)%5
# whitespace tokens (title word + 3-token headline + reps words)
# and is injective in (pid,k)
_CRAWL_PIPELINE_SQL = """
WITH m AS (
  SELECT doc_id % 137 AS pid FROM documents WHERE doc_id >= 0
), per AS (
  SELECT pid, COUNT(*) AS nf FROM m GROUP BY pid
), recs AS (
  SELECT pid, nf, UNNEST(range(0, 1 + pid % 4)) AS k FROM per
), sel AS (
  SELECT * FROM recs WHERE k % 2 = 0 AND (pid + k) % 4 <> 0
)
SELECT
  CAST((SELECT SUM(1 + pid % 4) FROM m) AS BIGINT) AS n_responses,
  CAST((SELECT COALESCE(SUM(nf), 0) FROM sel) AS BIGINT) AS n_pages,
  CAST((SELECT COALESCE(SUM(nf * (5 + (pid + k) % 5)), 0) FROM sel)
       AS BIGINT) AS sum_tokens,
  CAST((SELECT COUNT(*) FROM sel) AS BIGINT) AS distinct_texts
"""


QUERIES = {
    "warc_ingest_audit": warc_ingest_audit,
    "corpus_html_extract": corpus_html_extract,
    "crawl_html_pipeline": crawl_html_pipeline,
}
ORACLE = {
    "warc_ingest_audit": _WARC_INGEST_SQL,
    "corpus_html_extract": _html_extract_sql(),
    "crawl_html_pipeline": _CRAWL_PIPELINE_SQL,
}
