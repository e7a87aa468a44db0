"""Corpus curation queries over ``documents``: text statistics,
language ID, fingerprints, deterministic sampling and splits, TF-IDF
and vocabulary tables, PII scrubbing, quality filtering and budget
selection, packing and mixing plans, snapshot diffs, LM-style scoring
(surprisal, entropy, stupid backoff), DSIR selection and the
end-to-end curation pipeline.

Also home of the shared document reader ``_docs`` and the md5 bucket
SQL the other families reuse.

Cross-engine notes: every ratio is a µ-unit or ppm BIGINT via
truncating integer division (Spark ``div`` == DuckDB ``//``); sampling
buckets come from md5 (functions/sampling.py), which DuckDB
reconstructs from hex chars; idf is the rational (N+1)/(df+1), one
exact int→double division; log-based scores use whole-bit log2
(functions/lm.py). Iterative operators (BPE merges) are rows-only and
pinned by exact twin tests in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import chunking as CH
from tidb_cdc_spark.functions import dsir as DS
from tidb_cdc_spark.functions import lm as LM
from tidb_cdc_spark.functions import mixing as MX
from tidb_cdc_spark.functions import packing as PK
from tidb_cdc_spark.functions import quality as Q
from tidb_cdc_spark.functions import sampling as SA
from tidb_cdc_spark.functions import selection as SEL
from tidb_cdc_spark.functions import text as T
from tidb_cdc_spark.functions import tfidf as TI
from tidb_cdc_spark.functions import versioning as VER
from tidb_cdc_spark.functions import vocab as V
from tidb_cdc_spark.functions.bpe import bpe_train
from tidb_cdc_spark.functions.classifier import source_classifier_eval
from tidb_cdc_spark.functions.feature_hash import hashed_tf
from tidb_cdc_spark.functions.lm import (
    bigram_surprisal,
    collocations,
    rank_buckets,
    stupid_backoff_score,
    surprisal_buckets,
    unigram_surprisal,
)
from tidb_cdc_spark.functions.sampling import exact_stratified_split
from tidb_cdc_spark.functions.text import (
    bpe_token_count,
    fix_mojibake,
    normalize_text,
    token_count,
)
from tidb_cdc_spark.functions.vocab import term_drift
from tidb_cdc_spark.session import fan_out_by, materialize


_STOP_EN = T.STOPWORDS["en"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fanned out BY doc_id: the shingle pipeline's window/groupBy
    cluster on the id, so hash-partitioning here means the whole
    explode→lead→aggregate chain runs with zero further shuffles."""

    return fan_out_by(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), spark, "doc_id"
    )


# ------------------------------------------------------- text stats
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics — pure codegen scan."""
    d = _docs(spark, sf_dir)
    toks = T.tokens(F.col("text"))
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_obs"),
        F.length(F.regexp_replace("text", r"[^A-Za-z]", "")).alias("n_alpha"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
    ).orderBy("doc_id")


_TOKEN_STATS_SQL = """
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
       length(text) AS n_chars_obs,
       length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
       len(list_distinct(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) AS n_unique_tokens
FROM documents
ORDER BY doc_id
"""


# ------------------------------------------- quality rollup per lang
def text_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality profile per labeled language: doc counts, token
    sums (exact), mean stopword ratio.

    Cross-engine stability: the per-doc ratio is kept INTEGRAL —
    ``(hits * 1e6) div tokens`` as BIGINT (integer division is
    bit-identical in every engine), summed exactly, with ONE final
    double division. Round-tripping each ratio through double →
    decimal(12,6) (an earlier approach) diverged between Spark (half-up)
    and DuckDB (half-even) at the 6th decimal."""
    d = _docs(spark, sf_dir)
    toks = T.tokens(F.lower(F.col("text")))
    hits = F.size(F.filter(toks, lambda t: t.isin(*_STOP_EN)))
    scored = d.select(
        "lang",
        T.token_count(F.col("text")).alias("nt"),
        hits.alias("hits"),
    ).withColumn("swr_u", F.expr("(hits * 1000000L) div greatest(nt, 1)"))
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").alias("total_tokens"),
            (
                F.sum("swr_u").cast("double")
                / (F.lit(1000000.0) * F.count(F.lit(1)).cast("double"))
            ).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


_QUALITY_SQL = f"""
WITH scored AS (
  SELECT lang,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS nt,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x IN ({", ".join("'" + w + "'" for w in _STOP_EN)}))) AS hits
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS total_tokens,
       CAST(SUM((hits * 1000000) // GREATEST(nt, 1)) AS DOUBLE)
         / (1000000.0 * COUNT(*)) AS avg_stopword_ratio
FROM scored GROUP BY lang ORDER BY lang
"""


# ------------------------------------------------------ language id
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-vote language ID per document."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.lang_id(F.col("text")).alias("pred_lang")).orderBy(
        "doc_id"
    )


def _lang_hits_sql(lang: str) -> str:
    words = ", ".join("'" + w + "'" for w in T.STOPWORDS[lang])
    return (
        f"len(list_filter(string_split_regex(lower(text), '\\s+'),"
        f" x -> x IN ({words})))"
    )


_LANG_ID_SQL = f"""
WITH hits AS (
  SELECT doc_id,
         {_lang_hits_sql("en")} AS h_en,
         {_lang_hits_sql("es")} AS h_es,
         {_lang_hits_sql("de")} AS h_de,
         {_lang_hits_sql("fr")} AS h_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN GREATEST(h_en, h_es, h_de, h_fr) = 0 THEN 'und'
            WHEN h_en = GREATEST(h_en, h_es, h_de, h_fr) THEN 'en'
            WHEN h_es = GREATEST(h_en, h_es, h_de, h_fr) THEN 'es'
            WHEN h_de = GREATEST(h_en, h_es, h_de, h_fr) THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM hits ORDER BY doc_id
"""


# ---------------------------------------------------- fingerprints
def text_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable document fingerprint (md5 of the
    normalized text; the engine's native path uses xxhash64)."""
    d = _docs(spark, sf_dir)
    norm = F.trim(F.lower(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return d.select("doc_id", F.md5(norm).alias("fp")).orderBy("doc_id")


_FP_SQL = """
SELECT doc_id, md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
FROM documents ORDER BY doc_id
"""


def _planting_offset(df: DataFrame, id_col: str) -> int:
    """Copies are planted at ``id + offset`` with offset = max(id)+1 —
    id-space-safe at ANY scale factor (a fixed 10⁶ offset would
    collide with real ids once the corpus grows past it, silently
    corrupting every audit). One aggregated scalar — metadata-sized,
    deterministic."""
    m = df.agg(F.max(F.col(id_col))).first()[0]
    return int(m) + 1


# ---------------------------------------------------- BPE tokenizing
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word (BPE-ish regex) token counts next to whitespace
    counts — the tokens-per-word ratio is a standard quality signal
    for training-data curation."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.bpe_token_count(F.col("text")).alias("n_bpe"),
        T.token_count(F.col("text")).alias("n_ws"),
    ).orderBy("doc_id")


_BPE_SQL = rf"""
SELECT doc_id,
       len(regexp_extract_all(text, '{T.BPE_TOKEN_RE}')) AS n_bpe,
       len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_ws
FROM documents
ORDER BY doc_id
"""


# ----------------------------------------------------- hash sampling
_SAMPLE_RATE = 0.25
_STRATA_RATES = {"en": 0.5, "de": 0.25, "fr": 0.1}
_STRATA_DEFAULT = 0.05


def sample_hash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% sample keyed on doc_id — same rows on every
    rerun, every engine, every partition layout. Scan-only plan."""
    d = _docs(spark, sf_dir)
    return SA.hash_sample(d, "doc_id", _SAMPLE_RATE).select(
        "doc_id", "lang"
    ).orderBy("doc_id")


def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic rates (rebalancing a pretraining
    mix): en 50%, de 25%, fr 10%, everything else 5%."""
    d = _docs(spark, sf_dir)
    return SA.stratified_sample(
        d, "doc_id", "lang", _STRATA_RATES, default_rate=_STRATA_DEFAULT
    ).select("doc_id", "lang").orderBy("doc_id")


_MAX_WEIGHT = 1024


def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-weighted Bernoulli sample: doc kept with
    probability n_tokens/1024 — importance sampling with an exact
    integer keep-decision (no float pow; any engine reproduces the
    rows). Scan-only predicate like the whole sampling family."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("long").alias("w")
    )
    return (
        SA.weighted_sample(d, "doc_id", "w", rate=1.0, max_weight=_MAX_WEIGHT)
        .select("doc_id", "lang", F.col("w").alias("n_tokens"))
        .orderBy("doc_id")
    )


def _md5_bucket_sql(key_expr: str, salt: str = "") -> str:
    """DuckDB expression for sampling.hash_bucket: integer value of
    the first 8 hex chars of md5(key || salt)."""
    h = f"md5(CAST({key_expr} AS VARCHAR) || '{salt}')"

    def byte(pos: int) -> str:
        c1 = f"substr({h}, {pos}, 1)"
        c2 = f"substr({h}, {pos + 1}, 1)"
        return (
            f"((strpos('0123456789abcdef', {c1}) - 1) * 16"
            f" + (strpos('0123456789abcdef', {c2}) - 1))"
        )

    return (
        f"(CAST({byte(1)} AS BIGINT) * 16777216 + {byte(3)} * 65536"
        f" + {byte(5)} * 256 + {byte(7)})"
    )


_SAMPLE_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_md5_bucket_sql("doc_id")} < {int(_SAMPLE_RATE * 4294967296)}
ORDER BY doc_id
"""

_WEIGHTED_SQL = rf"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens FROM t
WHERE {_md5_bucket_sql("doc_id")} * {_MAX_WEIGHT} < 4294967296 * n_tokens
ORDER BY doc_id
"""

_STRATified_CASE = " ".join(
    f"WHEN lang = '{s}' THEN {int(r * 4294967296)}"
    for s, r in sorted(_STRATA_RATES.items())
)
_STRATIFIED_SQL = f"""
SELECT doc_id, lang FROM documents
WHERE {_md5_bucket_sql("doc_id")} <
      (CASE {_STRATified_CASE} ELSE {int(_STRATA_DEFAULT * 4294967296)} END)
ORDER BY doc_id
"""


# ------------------------------------------------------------ tfidf
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf (rational
    idf; ties broken by term)."""
    return TI.top_terms(_docs(spark, sf_dir), k=3).orderBy("doc_id", "term_rank")


_TFIDF_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_t,
         CAST(tf.tf AS DOUBLE)
           * (CAST(n_docs + 1 AS DOUBLE) / CAST(df_t + 1 AS DOUBLE)) AS tfidf
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN nd
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term) AS term_rank
  FROM scored
)
SELECT doc_id, term_rank, term, tf, df_t, tfidf
FROM ranked WHERE term_rank <= 3 ORDER BY doc_id, term_rank
"""


# ------------------------------------------------------ PII scrubbing
_PLANT_EMAIL = " reach me at agent.smith+spam@example-mail.com ok"
_PLANT_URL = " docs at https://docs.example.com/a/b?q=1 end"
_PLANT_PHONE = " call +1 (415) 555-0199 now"


def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over documents. The synthetic corpus
    contains no PII, so deterministic specimens are planted (doc_id
    mod 7/11/13 → email/url/phone) — the same planting the oracle
    replays, making counts AND the redacted-text md5 checkable."""
    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(_PLANT_EMAIL)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(_PLANT_URL)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit(_PLANT_PHONE)).otherwise(F.lit("")),
        ).alias("text"),
    )
    cnt = T.pii_counts(F.col("text"))
    return planted.select(
        "doc_id",
        cnt["url"].alias("n_urls"),
        cnt["email"].alias("n_emails"),
        cnt["phone"].alias("n_phones"),
        F.md5(T.redact_pii(F.col("text"))).alias("redacted_md5"),
    ).orderBy("doc_id")


_PII_SQL_TEMPLATE = """
WITH planted AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 7 = 0 THEN '__EMAIL__' ELSE '' END ||
    CASE WHEN doc_id % 11 = 0 THEN '__URL__' ELSE '' END ||
    CASE WHEN doc_id % 13 = 0 THEN '__PHONE__' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text, '__P_URL__')) AS n_urls,
  len(regexp_extract_all(text, '__P_EMAIL__')) AS n_emails,
  len(regexp_extract_all(text, '__P_PHONE__')) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '__P_URL__', '[PII]', 'g'),
      '__P_EMAIL__', '[PII]', 'g'),
      '__P_PHONE__', '[PII]', 'g')) AS redacted_md5
FROM planted ORDER BY doc_id
"""

_PII_PAT = dict(T.PII_PATTERNS)
_PII_SQL = (
    _PII_SQL_TEMPLATE.replace("__EMAIL__", _PLANT_EMAIL)
    .replace("__URL__", _PLANT_URL)
    .replace("__PHONE__", _PLANT_PHONE)
    .replace("__P_URL__", _PII_PAT["url"])
    .replace("__P_EMAIL__", _PII_PAT["email"])
    .replace("__P_PHONE__", _PII_PAT["phone"])
)


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
# thresholds via the SAME float accumulation split_assign performs
# (0.8 + 0.1 != 0.9 in IEEE doubles — an independently-written 0.9
# threshold could disagree by one bucket on a boundary key)
_SPLIT_T_TRAIN = int(0.8 * 4294967296)
_SPLIT_T_VAL = int((0.8 + 0.1) * 4294967296)


def corpus_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the assignment unit is the
    duplicate CLUSTER, not the document — splitting on doc_id puts
    near-identical docs on both sides of the train/eval fence and
    silently inflates eval scores (the self-contamination failure
    mode dedup-before-split exists to prevent, cf. Lee et al. 2021).
    Cluster id = min doc id per exact-dup fingerprint group (swap in
    the fuzzy CC labels for near-dup-safe splits — same shape, no SQL
    oracle); split = md5-bucketed cumulative fractions on cluster_id.

    Plan: one fingerprint hash-agg (map-side combined) + one keyed
    join to attach cluster ids, then the split CASE is a pure scan
    expression and the final per-split rollup is a 3-row aggregate.
    Shuffles carry (fp, id)-sized rows only — text never moves.
    """
    d = _docs(spark, sf_dir)
    fp = d.select("doc_id", T.fingerprint(F.col("text")).alias("_fp"))
    roots = fp.groupBy("_fp").agg(F.min("doc_id").alias("cluster_id"))
    labeled = fp.join(roots, "_fp")
    split = SA.split_assign(labeled, "cluster_id", _SPLIT_FRACTIONS)
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        .orderBy("split")
    )


_SPLIT_SQL = rf"""
WITH fp AS (
  SELECT doc_id, trim(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
  FROM documents
), lab AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY norm) AS cluster_id
  FROM fp
), assigned AS (
  SELECT doc_id, cluster_id,
         CASE
           WHEN {_md5_bucket_sql("cluster_id", "split")}
                < {_SPLIT_T_TRAIN} THEN 'train'
           WHEN {_md5_bucket_sql("cluster_id", "split")}
                < {_SPLIT_T_VAL} THEN 'val'
           ELSE 'test'
         END AS split
  FROM lab
)
SELECT split, COUNT(*) AS n_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters
FROM assigned GROUP BY split ORDER BY split
"""


# Shared CTE: per-doc token/gram stats in µ-units — the SQL twin of
# functions/quality.repetition_stats (DuckDB lists are 1-based;
# range(a, b) is exclusive of b).
_STATS_CTE = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS l,
         length(text) AS nc,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS nsym
  FROM documents
), tl AS (SELECT doc_id, l, len(l) AS n, nc, nsym FROM tok),
tf AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nt, MAX(c) AS top FROM (
    SELECT doc_id, term, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(l) AS term FROM tl) GROUP BY doc_id, term
  ) GROUP BY doc_id
), g2s AS (
  SELECT doc_id, COUNT(*) AS n2, COUNT(DISTINCT g) AS d2
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, n), i -> l[i] || ' ' || l[i+1])) AS g
    FROM tl
  ) GROUP BY doc_id
), g3s AS (
  SELECT doc_id, COUNT(*) AS n3, COUNT(DISTINCT g) AS d3
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, n - 1),
                  i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS g
    FROM tl
  ) GROUP BY doc_id
), stats AS (
  SELECT tl.doc_id,
         COALESCE(nt, 0) AS n_tokens,
         COALESCE((top * 1000000) // GREATEST(nt, 1), 0) AS top_token_ppm,
         COALESCE(((n2 - d2) * 1000000) // GREATEST(n2, 1), 0) AS dup_2gram_ppm,
         COALESCE(((n3 - d3) * 1000000) // GREATEST(n3, 1), 0) AS dup_3gram_ppm,
         (nsym * 1000000) // GREATEST(nc, 1) AS symbol_ppm
  FROM tl LEFT JOIN tf USING (doc_id) LEFT JOIN g2s USING (doc_id)
          LEFT JOIN g3s USING (doc_id)
)
"""


def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition/composition statistics (µ-unit
    ratios) — the MassiveText filter inputs."""
    return Q.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


_REPETITION_SQL = (
    _STATS_CTE
    + """
SELECT doc_id, n_tokens, top_token_ppm, dup_2gram_ppm, dup_3gram_ppm,
       symbol_ppm
FROM stats ORDER BY doc_id
"""
)


_T = Q.QualityThresholds()


def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold keep/drop decision per document with the ordered
    fail-reason audit trail."""
    return Q.quality_filter(_docs(spark, sf_dir), _T).orderBy("doc_id")


_FILTER_SQL = (
    _STATS_CTE
    + f"""
SELECT doc_id, n_tokens, top_token_ppm, dup_2gram_ppm, dup_3gram_ppm,
       symbol_ppm,
       concat_ws(',',
         CASE WHEN n_tokens < {_T.min_tokens} THEN 'too_short' END,
         CASE WHEN n_tokens > {_T.max_tokens} THEN 'too_long' END,
         CASE WHEN top_token_ppm > {_T.max_top_token_ppm} THEN 'top_token' END,
         CASE WHEN dup_2gram_ppm > {_T.max_dup_2gram_ppm} THEN 'dup_2gram' END,
         CASE WHEN symbol_ppm > {_T.max_symbol_ppm} THEN 'symbols' END
       ) AS fail_reasons,
       concat_ws(',',
         CASE WHEN n_tokens < {_T.min_tokens} THEN 'too_short' END,
         CASE WHEN n_tokens > {_T.max_tokens} THEN 'too_long' END,
         CASE WHEN top_token_ppm > {_T.max_top_token_ppm} THEN 'top_token' END,
         CASE WHEN dup_2gram_ppm > {_T.max_dup_2gram_ppm} THEN 'dup_2gram' END,
         CASE WHEN symbol_ppm > {_T.max_symbol_ppm} THEN 'symbols' END
       ) = '' AS keep
FROM stats ORDER BY doc_id
"""
)


# --------------------------------------------------- sequence packing
_BUDGET = 2048


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk the corpus (doc_id order) into 2048-token
    training sequences; per doc: global offset + chunk span."""
    d = _docs(spark, sf_dir).select(
        "doc_id", T.token_count(F.col("text")).alias("n_tokens")
    )
    return PK.pack_chunks(d, _BUDGET).orderBy("doc_id")


_PACK_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'),
             x -> x <> '')) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM tok
)
SELECT doc_id, n_tokens,
       cum - n_tokens AS start_tok,
       CASE WHEN n_tokens > 0
            THEN (cum - n_tokens) // {_BUDGET} END AS chunk_first,
       CASE WHEN n_tokens > 0
            THEN (cum - 1) // {_BUDGET} END AS chunk_last,
       CASE WHEN n_tokens > 0
            THEN (cum - 1) // {_BUDGET} - (cum - n_tokens) // {_BUDGET} + 1
            ELSE 0 END AS n_chunks
FROM c ORDER BY doc_id
"""


_TOK_CTE = r"""
WITH tok AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(text, '\s+'),
             x -> x <> '')) AS n_tokens
  FROM documents
)
"""


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", "source", T.token_count(F.col("text")).alias("n_tokens")
    )


def corpus_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-target mixing plan: per source, the natural token
    share, required over/under-sampling factor, capped sample rate
    and repetition (epoch) count."""
    return MX.source_mix_plan(_doc_tokens(spark, sf_dir)).orderBy("source")


_MIX_SQL = (
    _TOK_CTE
    + """
, s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
), t AS (
  SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS total,
         COUNT(*) OVER () AS k
  FROM s
)
SELECT source, n_docs, n_tokens,
       (1000000 * n_tokens) // total AS natural_ppm,
       total // k AS target_tokens,
       (1000000 * (total // k)) // GREATEST(n_tokens, 1) AS need_ppm,
       CAST(LEAST((1000000 * (total // k)) // GREATEST(n_tokens, 1),
                  1000000) AS BIGINT) AS sample_rate_ppm,
       ((1000000 * (total // k)) // GREATEST(n_tokens, 1) + 999999)
         // 1000000 AS repeat_epochs
FROM t ORDER BY source
"""
)


def batch_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length batching cost at the 2048-token budget, per
    source, vs the concat-and-chunk packer's chunk count."""
    return MX.padding_waste_stats(_doc_tokens(spark, sf_dir), _BUDGET).orderBy(
        "source"
    )


_PAD_SQL = (
    _TOK_CTE
    + f"""
, per AS (
  SELECT source, n_tokens,
         CASE WHEN n_tokens > 0
              THEN (n_tokens + {_BUDGET - 1}) // {_BUDGET}
              ELSE 0 END AS chunks
  FROM tok
), s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(chunks) AS BIGINT) AS padded_chunks,
         CAST(SUM(chunks) * {_BUDGET} AS BIGINT) AS padded_tokens
  FROM per GROUP BY source
)
SELECT source, n_docs, n_tokens, padded_chunks, padded_tokens,
       (1000000 * (padded_tokens - n_tokens))
         // GREATEST(padded_tokens, 1) AS waste_ppm,
       (n_tokens + {_BUDGET - 1}) // {_BUDGET} AS packed_chunks,
       padded_chunks - ((n_tokens + {_BUDGET - 1}) // {_BUDGET})
         AS chunks_saved
FROM s ORDER BY source
"""
)


def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two token-length histogram (bucket = binary digit
    count of the token count; bucket 0 = empty docs)."""
    return MX.token_length_histogram(_doc_tokens(spark, sf_dir)).orderBy(
        "bucket"
    )


_HIST_SQL = (
    _TOK_CTE
    + """
SELECT CASE WHEN n_tokens > 0
            THEN CAST(length(bin(n_tokens)) AS BIGINT)
            ELSE 0 END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
FROM tok GROUP BY 1 ORDER BY bucket
"""
)


def corpus_mix_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root (T=2) temperature mixing plan — per source the
    exact-integer √-weighted target and sampling factors."""
    return MX.temperature_mix_plan(_doc_tokens(spark, sf_dir)).orderBy(
        "source"
    )


# exact isqrt: float floor(sqrt()) candidate + one integral fix-up
_ISQRT = (
    "CASE WHEN (c + 1) * (c + 1) <= n_tokens THEN c + 1 "
    "WHEN c * c > n_tokens THEN c - 1 ELSE c END"
)

_MIX_T2_SQL = (
    _TOK_CTE
    + f"""
, s AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM tok GROUP BY source
), c0 AS (
  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS c
  FROM s
), t AS (
  SELECT source, n_docs, n_tokens, {_ISQRT} AS t2_weight,
         CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
  FROM c0
), u AS (
  SELECT *, CAST(SUM(t2_weight) OVER () AS BIGINT) AS wsum,
         (total * t2_weight) // GREATEST(wsum, 1) AS target
  FROM t
)
SELECT source, n_docs, n_tokens,
       (1000000 * n_tokens) // total AS natural_ppm,
       t2_weight,
       (1000000 * t2_weight) // GREATEST(wsum, 1) AS t2_target_ppm,
       target AS target_tokens,
       (1000000 * target) // GREATEST(n_tokens, 1) AS need_ppm,
       CAST(LEAST((1000000 * target) // GREATEST(n_tokens, 1), 1000000)
            AS BIGINT) AS sample_rate_ppm,
       ((1000000 * target) // GREATEST(n_tokens, 1) + 999999)
         // 1000000 AS repeat_epochs
FROM u ORDER BY source
"""
)


_K = 100

_VOCAB_TOK_CTE = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                x -> x <> '')) AS token
  FROM documents
)
"""


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 vocabulary candidates with rank and cumulative
    corpus-coverage ppm (the tokenizer coverage curve)."""
    return V.top_terms(_docs(spark, sf_dir), k=_K).orderBy("rank")


_VOCAB_SQL = (
    _VOCAB_TOK_CTE
    + f"""
, tf AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token
), total AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM tf
), top AS (
  SELECT token, cnt FROM tf ORDER BY cnt DESC, token LIMIT {_K}
), ranked AS (
  SELECT token, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rank,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_cnt
  FROM top
)
SELECT token, cnt, CAST(rank AS BIGINT) AS rank, cum_cnt,
       (1000000 * cum_cnt) // (SELECT t FROM total) AS coverage_ppm
FROM ranked ORDER BY rank
"""
)


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap matrix on 100-char head fingerprints:
    distinct shared fingerprints per source pair, with containment
    ppm vs the smaller side."""
    return V.source_overlap(_docs(spark, sf_dir)).orderBy(
        "source_a", "source_b"
    )


_OVERLAP_SQL = """
WITH fs AS (
  SELECT DISTINCT md5(substr(text, 1, 100)) AS fp, source FROM documents
), per AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_fps
  FROM fs GROUP BY source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM fs a JOIN fs b USING (fp)
  WHERE a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, shared_fps,
       pa.total_fps AS a_total_fps, pb.total_fps AS b_total_fps,
       (1000000 * shared_fps) // LEAST(pa.total_fps, pb.total_fps)
         AS overlap_ppm
FROM pairs
JOIN per pa ON pairs.source_a = pa.source
JOIN per pb ON pairs.source_b = pb.source
ORDER BY source_a, source_b
"""


def doc_length_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of the corpus-level [p05, p95] token-length
    band filter (kept / dropped_short / dropped_long + bounds)."""
    d = _docs(spark, sf_dir).select(
        "source", T.token_count(F.col("text")).alias("n_tokens")
    )
    return V.length_quantile_bounds(d).orderBy("source")


_BAND_SQL = r"""
WITH tok AS (
  SELECT source,
         len(list_filter(string_split_regex(text, '\s+'),
             x -> x <> '')) AS n_tokens
  FROM documents
), b AS (
  SELECT quantile_cont(n_tokens, 0.05) AS lo_bound,
         quantile_cont(n_tokens, 0.95) AS hi_bound
  FROM tok
)
SELECT source,
       CAST(SUM(CASE WHEN n_tokens >= lo_bound AND n_tokens <= hi_bound
                THEN 1 ELSE 0 END) AS BIGINT) AS kept,
       CAST(SUM(CASE WHEN n_tokens < lo_bound THEN 1 ELSE 0 END)
            AS BIGINT) AS dropped_short,
       CAST(SUM(CASE WHEN n_tokens > hi_bound THEN 1 ELSE 0 END)
            AS BIGINT) AS dropped_long,
       ANY_VALUE(lo_bound) AS lo_bound,
       ANY_VALUE(hi_bound) AS hi_bound
FROM tok, b GROUP BY source ORDER BY source
"""


_PPM = SEL.PPM


def quality_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-the-corpus token budget spent on the highest-quality
    (fewest-symbols) documents first; per doc the running spend and
    the keep decision."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        (
            F.lit(_PPM)
            - F.expr(
                f"(length(regexp_replace(text, '[A-Za-z0-9\\\\s]', '')) * {_PPM}L)"
                " div greatest(length(text), 1)"
            )
        ).alias("quality_ppm"),
        T.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return SEL.budget_head(d).orderBy("doc_id")


_BUDGET_SQL = rf"""
WITH s AS (
  SELECT doc_id,
         CAST({_PPM} - (length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
              * {_PPM}) // GREATEST(length(text), 1) AS BIGINT) AS quality_ppm,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT *,
         CAST(SUM(n_tokens) OVER (ORDER BY quality_ppm DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_tokens,
         CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
  FROM s
)
SELECT doc_id, quality_ppm, n_tokens, cum_tokens,
       cum_tokens * 2 <= total AS selected
FROM c ORDER BY doc_id
"""


def _v2(d: DataFrame) -> DataFrame:
    kept = d.filter(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 2, F.concat(F.col("text"), F.lit(" [rev2]"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = d.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("new "), F.col("doc_id").cast("string")).alias("text"),
    )
    return kept.unionAll(added)


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document diff between the corpus and a deterministically
    synthesized v2 (drop %10==1, revise %10==2, add remapped
    %10==3): id, status, both content fingerprints."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return VER.snapshot_diff(d, _v2(d)).orderBy("id")


# SQL twin of _v2 — single home; vocab_drift_top's oracle reuses it
_V2_CTE = """
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 2 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 1
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, 'new ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents WHERE doc_id % 10 = 3
)"""

_DIFF_SQL = (
    "WITH " + _V2_CTE + """
, o AS (SELECT doc_id AS id, md5(text) AS old_fp FROM documents),
n AS (SELECT doc_id AS id, md5(text) AS new_fp FROM v2)
SELECT COALESCE(o.id, n.id) AS id,
       CASE WHEN old_fp IS NULL THEN 'added'
            WHEN new_fp IS NULL THEN 'removed'
            WHEN old_fp = new_fp THEN 'unchanged'
            ELSE 'changed' END AS status,
       old_fp, new_fp
FROM o FULL OUTER JOIN n USING (id) ORDER BY id
"""
)


_CW, _CS = 32, 24  # window/stride sized to the testdata's 10-99-token docs


def doc_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking (32-token windows, stride 24):
    one row per chunk span per document."""

    d = _docs(spark, sf_dir).select(
        "doc_id", T.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    return CH.chunk_spans(d, window=_CW, stride=_CS).orderBy(
        "doc_id", "chunk_idx"
    )


_CHUNK_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'),
             x -> x <> '')) AS n
  FROM documents
)
SELECT doc_id,
       start_tok // {_CS} AS chunk_idx,
       start_tok,
       LEAST(start_tok + {_CW}, n) AS end_tok,
       LEAST(start_tok + {_CW}, n) - start_tok AS chunk_tokens
FROM (
  SELECT doc_id, n, CAST(u.s AS BIGINT) AS start_tok
  FROM tok, unnest(generate_series(0,
       {_CS} * ((GREATEST(n - {_CW}, 0) + {_CS - 1}) // {_CS}),
       {_CS})) u(s)
  WHERE n > 0
)
ORDER BY doc_id, chunk_idx
"""


def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language curation funnel: input → quality-kept → unique →
    budget-selected doc counts, surviving tokens, packed chunk count."""
    docs = _docs(spark, sf_dir)
    qf = Q.quality_filter(docs).select("doc_id", "n_tokens", "symbol_ppm", "keep")
    # The stats subplan feeds four downstream consumers (spine, dedup,
    # selection, rollup) — materialize once instead of re-running the
    # token-explode pipeline per consumer.
    base = materialize(
        docs.select("doc_id", "lang", F.md5(F.col("text")).alias("_fp")).join(
            qf, "doc_id"
        )
    )
    kept = base.filter(F.col("keep"))
    reps = kept.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    uniq = kept.join(reps, "doc_id", "leftsemi").select(
        "doc_id",
        "lang",
        (F.lit(_PPM) - F.col("symbol_ppm")).alias("quality_ppm"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    chosen = (
        SEL.budget_head(uniq)
        .filter(F.col("selected"))
        .select("doc_id", F.lit(1).alias("_sel"))
    )
    uniq_ids = uniq.select("doc_id", F.lit(1).alias("_uniq"))
    funnel = base.join(uniq_ids, "doc_id", "left").join(chosen, "doc_id", "left")
    picked_tokens = F.sum(
        F.when(F.col("_sel").isNotNull(), F.col("n_tokens")).otherwise(0)
    ).cast("long")
    return (
        funnel.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_input"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias(
                "n_quality_kept"
            ),
            F.sum(F.when(F.col("_uniq").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.sum(F.when(F.col("_sel").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_selected"),
            picked_tokens.alias("tokens_selected"),
        )
        .withColumn(
            "n_chunks",
            F.expr(f"(tokens_selected + {_BUDGET - 1}L) div {_BUDGET}L"),
        )
        .orderBy("lang")
    )


# The oracle replays the identical funnel: the _STATS_CTE (the SQL
# twin of functions/quality.repetition_stats), the same threshold
# predicate as QualityThresholds, md5 dedup, the selection window in
# (quality DESC, doc_id) order, and the ceil-div chunk count.
_PIPELINE_SQL = (
    _STATS_CTE
    + f"""
, base AS (
  SELECT d.doc_id, d.lang, md5(d.text) AS fp, s.n_tokens, s.symbol_ppm,
         NOT (s.n_tokens < {_T.min_tokens}
              OR s.n_tokens > {_T.max_tokens}
              OR s.top_token_ppm > {_T.max_top_token_ppm}
              OR s.dup_2gram_ppm > {_T.max_dup_2gram_ppm}
              OR s.symbol_ppm > {_T.max_symbol_ppm}) AS keep
  FROM documents d JOIN stats s ON d.doc_id = s.doc_id
), uniq AS (
  SELECT MIN(doc_id) AS doc_id FROM base WHERE keep GROUP BY fp
), su AS (
  SELECT b.doc_id, b.lang, b.n_tokens, {_PPM} - b.symbol_ppm AS quality_ppm
  FROM base b JOIN uniq u ON b.doc_id = u.doc_id
), sel AS (
  SELECT doc_id,
         CAST(SUM(n_tokens) OVER (ORDER BY quality_ppm DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
  FROM su
), chosen AS (
  SELECT doc_id FROM sel WHERE cum * 2 <= total
)
SELECT b.lang,
       COUNT(*) AS n_input,
       CAST(SUM(CASE WHEN b.keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_kept,
       CAST(SUM(CASE WHEN u.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN b.n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_selected,
       CAST((SUM(CASE WHEN c.doc_id IS NOT NULL THEN b.n_tokens ELSE 0 END)
             + {_BUDGET - 1}) // {_BUDGET} AS BIGINT) AS n_chunks
FROM base b
LEFT JOIN uniq u ON b.doc_id = u.doc_id
LEFT JOIN chosen c ON b.doc_id = c.doc_id
GROUP BY b.lang ORDER BY b.lang
"""
)


def corpus_curation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance for the curation funnel — the "why did
    my document disappear" audit every production pipeline needs
    next to its data card: ONE row per input document naming the
    stage that dropped it and the evidence (the scorecard twin is
    ``corpus_curation_pipeline``; this is the same funnel with the
    per-doc outcomes kept instead of folded into counts):

    - ``dropped_quality`` + the ordered ``fail_reasons`` codes
      (functions/quality.py's audit-trail column);
    - ``dropped_duplicate`` + the representative doc id it lost to
      (the min-id keeper of its md5 class — actionable: that IS the
      copy that survived);
    - ``dropped_budget`` (kept, unique, but below the quality-ranked
      token-budget cut);
    - ``selected``.

    Scale shape: identical to the scorecard funnel — the explode
    stays inside two combining groupBys, dedup shuffles 16 B
    fingerprints, selection is the banded prefix scan (no global
    single-task window), and the provenance join fans ids only. The
    output is corpus-sized BY DESIGN (one row per doc — it is the
    audit artifact a run writes next to the corpus), so at 100 TB
    it is a write-to-parquet job, not a collect."""
    docs = _docs(spark, sf_dir)
    qf = Q.quality_filter(docs).select(
        "doc_id", "n_tokens", "symbol_ppm", "keep", "fail_reasons"
    )
    base = materialize(
        docs.select("doc_id", "lang", F.md5(F.col("text")).alias("_fp")).join(
            qf, "doc_id"
        )
    )
    kept = base.filter(F.col("keep"))
    reps = kept.groupBy("_fp").agg(F.min("doc_id").alias("_rep"))
    rep_map = kept.join(reps, "_fp").select("doc_id", "_rep")
    survivors = (
        base.join(rep_map.filter(F.col("doc_id") == F.col("_rep")), "doc_id")
        .select(
            "doc_id",
            (F.lit(_PPM) - F.col("symbol_ppm")).alias("quality_ppm"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    sel = SEL.budget_head(survivors).select("doc_id", "selected")
    out = (
        base.join(rep_map.select("doc_id", "_rep"), "doc_id", "left")
        .join(sel, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.when(~F.col("keep"), F.lit("dropped_quality"))
            .when(F.col("_rep") != F.col("doc_id"), F.lit("dropped_duplicate"))
            .when(F.col("selected"), F.lit("selected"))
            .otherwise(F.lit("dropped_budget"))
            .alias("outcome"),
            F.when(~F.col("keep"), F.col("fail_reasons"))
            .when(
                F.col("_rep") != F.col("doc_id"),
                F.col("_rep").cast("string"),
            )
            .otherwise(F.lit(""))
            .alias("detail"),
        )
        .orderBy("doc_id")
    )
    return out


# the oracle replays the identical funnel row-wise: the same stats
# CTE, the same ordered fail-reason codes (concat_ws skips NULLs in
# both engines), md5 min-id dedup with the lost-to id surfaced, and
# the same inclusive-cumsum half-token budget cut
_PROVENANCE_SQL = (
    _STATS_CTE
    + f"""
, base AS (
  SELECT d.doc_id, d.lang, md5(d.text) AS fp, s.n_tokens, s.symbol_ppm,
         concat_ws(',',
           CASE WHEN s.n_tokens < {_T.min_tokens} THEN 'too_short' END,
           CASE WHEN s.n_tokens > {_T.max_tokens} THEN 'too_long' END,
           CASE WHEN s.top_token_ppm > {_T.max_top_token_ppm}
                THEN 'top_token' END,
           CASE WHEN s.dup_2gram_ppm > {_T.max_dup_2gram_ppm}
                THEN 'dup_2gram' END,
           CASE WHEN s.symbol_ppm > {_T.max_symbol_ppm} THEN 'symbols' END
         ) AS fail_reasons
  FROM documents d JOIN stats s ON d.doc_id = s.doc_id
), rep AS (
  SELECT b.doc_id, MIN(b2.doc_id) AS rep
  FROM base b JOIN base b2 ON b.fp = b2.fp
  WHERE b.fail_reasons = '' AND b2.fail_reasons = ''
  GROUP BY b.doc_id
), sel AS (
  SELECT doc_id, selected FROM (
    SELECT b.doc_id,
           CAST(SUM(b.n_tokens) OVER (
                ORDER BY {_PPM} - b.symbol_ppm DESC, b.doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) * 2
             <= CAST(SUM(b.n_tokens) OVER () AS BIGINT) AS selected
    FROM base b JOIN rep r ON b.doc_id = r.doc_id AND b.doc_id = r.rep
  )
)
SELECT b.doc_id, b.lang, CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN b.fail_reasons <> '' THEN 'dropped_quality'
            WHEN r.rep <> b.doc_id THEN 'dropped_duplicate'
            WHEN s.selected THEN 'selected'
            ELSE 'dropped_budget' END AS outcome,
       CASE WHEN b.fail_reasons <> '' THEN b.fail_reasons
            WHEN r.rep <> b.doc_id THEN CAST(r.rep AS VARCHAR)
            ELSE '' END AS detail
FROM base b
LEFT JOIN rep r ON b.doc_id = r.doc_id
LEFT JOIN sel s ON b.doc_id = s.doc_id
ORDER BY b.doc_id
"""
)


def text_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document integer unigram surprisal (bits + µ-bits/token) —
    the quality screen a perplexity filter approximates, in exact
    arithmetic both engines hash identically (functions/lm.py)."""
    return unigram_surprisal(_docs(spark, sf_dir)).orderBy("doc_id")


_SURPRISAL_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
), cnt AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY term
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt
)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf.tf * (length(bin(tot.n)) - length(bin(cnt.c))))
            AS BIGINT) AS sum_bits,
       CAST((CAST(SUM(tf.tf * (length(bin(tot.n)) - length(bin(cnt.c))))
                  AS BIGINT) * 1000000)
            // CAST(SUM(tf.tf) AS BIGINT) AS BIGINT) AS mean_mbits
FROM tf JOIN cnt USING (term) CROSS JOIN tot
GROUP BY tf.doc_id
ORDER BY tf.doc_id
"""


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 20 BPE merges learned from the corpus (Sennrich ACL'16;
    merge loop runs on the word VOCABULARY, corpus-size-independent —
    functions/bpe.py). Deterministic (total tie order) but iterative,
    so rows-only; the exact merge sequence is pinned
    against a pure-Python reference implementation in tests."""
    return bpe_train(_docs(spark, sf_dir), n_merges=20).orderBy("rank")


_DIM = 64


def doc_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse hashed term-frequency vectors for every document —
    (doc_id, bucket, tf), bucket = md5-bucket(token) mod 64. The
    fixed-dimension text representation a curation pass computes
    before any model exists; exactly reproducible in any engine."""
    return hashed_tf(_docs(spark, sf_dir), dim=_DIM).orderBy(
        "doc_id", "bucket"
    )


_HASHED_TF_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
)
SELECT doc_id,
       CAST({_md5_bucket_sql("term")} % {_DIM} AS INTEGER) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS tf
FROM tok GROUP BY doc_id, bucket
ORDER BY doc_id, bucket
"""


# ----------------------------------------- corpus drift monitor

def vocab_drift_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 drifting terms between the corpus and its synthesized
    v2 snapshot (corpus_snapshot_diff's convention): (token, ppm_old,
    ppm_new, delta_ppm) by |delta| — the distribution-shift monitor
    that catches a template flooding a crawl before it skews a
    training mixture. Integral ppm (cnt·10⁶ div total) — exact in
    both engines."""

    # deliberately NOT materialized (profiled, NOTES.md): the base
    # scan feeds three consumers but costs only ~0.27 s of the 1.34 s
    # total — the two tokenize+agg sides are 0.60 + 0.97 s — and
    # caching it measured SLOWER in both storage levels (DISK_ONLY
    # 1.67 s, MEMORY_AND_DISK 2.22 s): the InMemoryTableScan breaks
    # whole-stage codegen fusion into the tokenize-explode, costing
    # more than the two saved small-file scans.
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return term_drift(d, _v2(d), k=50)


_DRIFT_SQL = (
    "WITH " + _V2_CTE + r"""
, tok_o AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM documents
), tok_n AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS token
  FROM v2
), o AS (
  -- HUGEINT cast before the ×10⁶: DuckDB BIGINT multiplication
  -- ERRORS on overflow (it does not widen), and a single token can
  -- exceed ~9×10¹² occurrences at the design scale — mirrors the
  -- Spark side's DECIMAL(38,0) route (functions/vocab.py)
  SELECT token, CAST(COUNT(*) AS HUGEINT) * 1000000
           // (SELECT COUNT(*) FROM tok_o) AS ppm_old
  FROM tok_o GROUP BY token
), n AS (
  SELECT token, CAST(COUNT(*) AS HUGEINT) * 1000000
           // (SELECT COUNT(*) FROM tok_n) AS ppm_new
  FROM tok_n GROUP BY token
)
SELECT token,
       CAST(COALESCE(ppm_old, 0) AS BIGINT) AS ppm_old,
       CAST(COALESCE(ppm_new, 0) AS BIGINT) AS ppm_new,
       CAST(COALESCE(ppm_new, 0) - COALESCE(ppm_old, 0) AS BIGINT)
         AS delta_ppm
FROM o FULL OUTER JOIN n USING (token)
ORDER BY ABS(COALESCE(ppm_new, 0) - COALESCE(ppm_old, 0)) DESC, token
LIMIT 50
"""
)


# -------------------------------------- conditional LM surprisal


def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document integer BIGRAM (conditional) surprisal —
    complements ``text_unigram_surprisal``: high bits here with low
    unigram bits = common words in uncommon order (word salad,
    shuffled boilerplate). Exact whole-bit arithmetic, hash-green in
    both engines (functions/lm.py)."""

    return bigram_surprisal(_docs(spark, sf_dir)).orderBy("doc_id")


_BIGRAM_SQL = r"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), tln AS (SELECT doc_id, l, len(l) AS n FROM tl),
uc AS (
  SELECT t AS w1, CAST(COUNT(*) AS BIGINT) AS c1
  FROM (SELECT unnest(l) AS t FROM tl) GROUP BY t
),
bg AS (
  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
  FROM (SELECT doc_id, l, unnest(range(1, n)) AS i
        FROM tln WHERE n >= 2)
),
btf AS (
  SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS tf
  FROM bg GROUP BY doc_id, w1, w2
),
bc AS (
  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12
  FROM btf GROUP BY w1, w2
)
SELECT btf.doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_bigrams,
       CAST(SUM(tf * (length(bin(c1)) - length(bin(c12))))
            AS BIGINT) AS sum_bits,
       CAST((CAST(SUM(tf * (length(bin(c1)) - length(bin(c12))))
                  AS BIGINT) * 1000000)
            // CAST(SUM(tf) AS BIGINT) AS BIGINT) AS mean_mbits
FROM btf JOIN bc USING (w1, w2) JOIN uc USING (w1)
GROUP BY btf.doc_id
ORDER BY btf.doc_id
"""


def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020): rank
    every document by LM surprisal (exact whole-bit bigram variant),
    cut the ranking into equal thirds — head = most fluent, the
    slice a pretraining mix up-weights. Fully integral (rank +
    truncating-division bucket formula shared verbatim with the
    oracle) ⇒ hash-exact; the rank runs as the two-level banded
    prefix scan, never a single-task global window
    (functions/lm.py::surprisal_buckets)."""

    b = surprisal_buckets(_docs(spark, sf_dir), n_buckets=3)
    return b.select(
        "doc_id",
        "mean_mbits",
        "rank",
        "bucket",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            F.col("bucket") + 1,
        ).alias("band"),
    ).orderBy("rank")


_PPLX_BUCKETS_SQL = f"""
WITH base AS ({_BIGRAM_SQL}),
r AS (
  SELECT doc_id, mean_mbits,
         CAST(ROW_NUMBER() OVER (ORDER BY mean_mbits, doc_id)
              AS BIGINT) AS rank,
         COUNT(*) OVER () AS n
  FROM base
)
SELECT doc_id, mean_mbits, rank,
       CAST(((rank - 1) * 3) // n AS INTEGER) AS bucket,
       CASE CAST(((rank - 1) * 3) // n AS INTEGER)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS band
FROM r ORDER BY rank
"""


def doc_nfc_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC normalization with a DIRECT cross-engine string oracle:
    each specimen doc gets a planted tail of decomposed / unusual
    forms (combining acute, combining tilde, angstrom sign), and the
    normalized output strings are hash-compared verbatim against
    DuckDB's utf8proc ``nfc_normalize`` — two independent UAX #15
    implementations agreeing bit-for-bit
    (functions/text.py::normalize_text)."""

    tail = (
        " cafe\u0301 a\u0303 \u212bngstrom"  # e+acute, a+tilde, angstrom sign
    )
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.concat(F.col("text"), F.lit(tail)).alias("_t"))
    )
    return d.select(
        "doc_id", normalize_text(F.col("_t"), "NFC").alias("text_nfc")
    ).orderBy("doc_id")


_NFC_SQL = """
SELECT doc_id,
       nfc_normalize(text || ' cafe' || chr(769) || ' a' || chr(771)
                     || ' ' || chr(8491) || 'ngstrom') AS text_nfc
FROM documents WHERE doc_id < 50 ORDER BY doc_id
"""


# ------------------------------------------------ mojibake repair


def corpus_mojibake_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-corruption contract for the mojibake repair
    (functions/text.py::fix_mojibake — the ftfy archetype's dominant
    UTF-8-read-as-Latin-1 case, pure JVM encode/decode): append a
    known accented tail to each specimen doc, corrupt it exactly the
    way a Latin-1 misread does, and require the repair to restore
    the original bit-for-bit while leaving the CLEAN text untouched
    (accented characters alone are not the corruption signature).
    Booleans TRUE by construction (the repair is the corruption's
    inverse and the is_valid_utf8 guard admits the planted bytes) —
    DuckDB-checkable."""

    tail = "\u00a0caf\u00e9 \u2014 na\u00efve r\u00e9sum\u00e9"
    # pin: a marker char PLUS non-Latin-1 chars (em dash,
    # CJK, emoji) is realistic clean text that the unguarded encode
    # used to crash on (ANSI MALFORMED_CHARACTER_CODING) — it must
    # pass through untouched, and the scan must not fail.
    mixed = (
        "ch\u00e2teau \u2014 \u4e2d\u6587 menu \U0001f600 \u2019quoted\u2019"
    )
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(tail)).alias("_t"),
            F.concat(F.col("text"), F.lit(mixed)).alias("_mx"),
        )
    )
    corrupted = F.decode(F.encode(F.col("_t"), "UTF-8"), "ISO-8859-1")
    return d.select(
        "doc_id",
        (fix_mojibake(corrupted) == F.col("_t")).alias("restored"),
        (fix_mojibake(F.col("_t")) == F.col("_t")).alias("clean_untouched"),
        (fix_mojibake(F.col("_mx")) == F.col("_mx")).alias("mixed_untouched"),
    ).orderBy("doc_id")


_MOJIBAKE_AUDIT_SQL = """
SELECT doc_id, TRUE AS restored, TRUE AS clean_untouched,
       TRUE AS mixed_untouched
FROM documents WHERE doc_id < 20 ORDER BY doc_id
"""


# -------------------------------------- quality classifier (CCNet)

def quality_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet/GPT-3 quality-filter archetype demonstrated on a
    planted contrast (the synthetic corpus has no natural text↔label
    signal — same convention as the planted dedup demos): class
    'real' = the corpus, class 'salad' = md5-derived token soup with
    a disjoint vocabulary. Held-out per-class metrics; the planted
    contrast is linearly separable so accuracy ≈ 1, pinned rows-only
    (LBFGS is iterative; the operator itself is exact-tested in
    tests/test_semdedup_pca.py incl. a no-signal-stays-at-chance
    sanity check)."""

    d = _docs(spark, sf_dir).select("doc_id", "text")
    off = _planting_offset(d, "doc_id")  # id-space-safe at any SF
    real = d.withColumn("label", F.lit("real"))
    salad = d.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + F.lit(off)).alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(i))),
                    1,
                    8,
                )
                # 32 tokens: at 12 the small-norm salad vectors sat
                # close to the LR bias and one held-out row flipped;
                # 24+ separates perfectly (probed at sf0.01/sf0.1)
                for i in range(32)
            ],
        ).alias("text"),
        F.lit("salad").alias("label"),
    )
    return (
        source_classifier_eval(
            real.unionByName(salad), dim=64, label_col="label"
        )
        .orderBy("label")
    )


def quality_classifier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-contrast contract for the LBFGS classifier path as a
    DuckDB-checkable boolean row per class: the curated-vs-salad
    contrast is linearly separable in hashed-TF space (disjoint
    vocabularies, probed perfectly separable at 24+ salad tokens),
    so held-out accuracy must clear 90% per class — the threshold
    leaves one-mistake headroom on the smallest eval class (14 rows
    at sf0.01) while still certifying the train/score pipeline
    end-to-end. Converts the rows-only eval into a hash-green gate
    row (the planted-audit pattern of queries/dedup.py)."""
    ev = quality_classifier_eval(spark, sf_dir)
    return ev.select(
        "label",
        (F.col("n_eval") > 0).alias("has_eval_rows"),
        (F.col("accuracy_ppm") >= 900000).alias("separable_ok"),
    ).orderBy("label")


_CLASSIFIER_AUDIT_SQL = """
SELECT * FROM (VALUES
  ('__all__', TRUE, TRUE),
  ('real', TRUE, TRUE),
  ('salad', TRUE, TRUE)
) t(label, has_eval_rows, separable_ok)
ORDER BY label
"""


_TARGET_SOURCE = "src0"
_KEEP_PPM = 250_000

# Shared oracle CTE: sparse hashed TF over the raw corpus + the
# dim-row whole-bit log-ratio table toward the src0 target domain —
# the exact mirror of functions/dsir.py (same md5 buckets, same
# Laplace smoothing, same bin-length floor-log2).
_DSIR_CTE = rf"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tfr AS (
  SELECT doc_id,
         CAST({_md5_bucket_sql("term")} % {_DIM} AS INTEGER) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, bucket
), ttok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents WHERE source = '{_TARGET_SOURCE}'
), cr AS (
  SELECT bucket, CAST(SUM(tf) AS BIGINT) AS c_raw FROM tfr GROUP BY bucket
), ct AS (
  SELECT CAST({_md5_bucket_sql("term")} % {_DIM} AS INTEGER) AS bucket,
         CAST(COUNT(*) AS BIGINT) AS c_tgt
  FROM ttok GROUP BY bucket
), tot AS (
  SELECT (SELECT CAST(SUM(c_raw) AS BIGINT) FROM cr) AS nr,
         (SELECT COALESCE(CAST(SUM(c_tgt) AS BIGINT), 0) FROM ct) AS nt
), bits AS (
  SELECT cr.bucket,
         CAST((length(bin(nr + {_DIM})) - length(bin(cr.c_raw + 1)))
            - (length(bin(nt + {_DIM}))
               - length(bin(COALESCE(ct.c_tgt, 0) + 1))) AS BIGINT)
           AS bits
  FROM cr LEFT JOIN ct USING (bucket), tot
), weights AS (
  SELECT tfr.doc_id,
         CAST(SUM(tfr.tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tfr.tf * bits.bits) AS BIGINT) AS weight_bits
  FROM tfr JOIN bits USING (bucket)
  GROUP BY tfr.doc_id
)
"""


def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights toward the ``src0`` domain: every
    document scored by how much more its hashed-unigram bag looks
    like src0's distribution than the corpus average — the ranking
    that turns raw crawl into target-domain training data. The
    dim-row log-ratio table broadcasts; cites functions/dsir.py for
    the whole-bit exactness contract."""
    raw = _docs(spark, sf_dir)
    tgt = raw.filter(F.col("source") == _TARGET_SOURCE)
    return DS.dsir_weights(raw, tgt, dim=_DIM).orderBy("doc_id")


_DSIR_WEIGHTS_SQL = (
    _DSIR_CTE
    + """
SELECT doc_id, n_tokens, weight_bits FROM weights ORDER BY doc_id
"""
)


def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR top-slice selection: keep the 25% of the corpus most
    target-like, ranked (weight DESC, doc_id ASC) via the banded
    two-level rank — no single-task global window at any scale."""
    raw = _docs(spark, sf_dir)
    tgt = raw.filter(F.col("source") == _TARGET_SOURCE)
    return DS.dsir_select(raw, tgt, dim=_DIM, keep_ppm=_KEEP_PPM).orderBy(
        "rank"
    )


_DSIR_SELECT_SQL = (
    _DSIR_CTE
    + f"""
, ranked AS (
  SELECT doc_id, n_tokens, weight_bits,
         CAST(ROW_NUMBER() OVER (ORDER BY weight_bits DESC, doc_id)
              AS BIGINT) AS rank,
         (SELECT COUNT(*) FROM weights) AS _n
  FROM weights
)
SELECT doc_id, n_tokens, weight_bits, rank,
       rank * 1000000 <= _n * {_KEEP_PPM} AS selected
FROM ranked ORDER BY rank
"""
)


def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc token self-entropy (whole-bit, µ-units) — the
    corpus-pass-free repetitiveness screen; functions/lm.py."""
    return LM.token_entropy(_docs(spark, sf_dir)).orderBy("doc_id")


_ENTROPY_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY doc_id, term
), wt AS (
  SELECT doc_id, tf,
         CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS n,
         tf * (length(bin(CAST(SUM(tf) OVER (PARTITION BY doc_id)
                               AS BIGINT)))
               - length(bin(tf))) AS b
  FROM tf
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(b) AS BIGINT) AS sum_bits,
       CAST((CAST(SUM(b) AS BIGINT) * 1000000) // MAX(n) AS BIGINT)
         AS mean_mbits
FROM wt GROUP BY doc_id ORDER BY doc_id
"""


def corpus_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 collocations by whole-bit PMI with a count-5 floor
    (functions/lm.py::collocations) — multi-word-expression /
    tokenizer-merge candidates, hash-exact."""

    return collocations(_docs(spark, sf_dir), min_count=5, k=25)


_COLLOC_SQL = r"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), tok AS (
  SELECT doc_id, i, l[i] AS w
  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM tl)
), uc AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w
), bg AS (
  SELECT doc_id, i, l[i] AS w1, l[i + 1] AS w2
  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i FROM tl)
), bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM bg GROUP BY w1, w2
), tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM bc)
SELECT bc.w1, bc.w2, bc.c12,
       CAST(length(bin(bc.c12)) + length(bin(tot.n))
            - length(bin(u1.c)) - length(bin(u2.c)) AS BIGINT)
         AS pmi_bits
FROM bc
JOIN uc u1 ON u1.w = bc.w1
JOIN uc u2 ON u2.w = bc.w2, tot
WHERE bc.c12 >= 5
ORDER BY pmi_bits DESC, w1, w2
LIMIT 25
"""


def corpus_tokenizer_fertility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language tokenizer fertility — the statistic a
    multilingual pretraining run tracks to budget its vocabulary
    (languages a tokenizer splits into more sub-words per word cost
    more sequence length per sentence): words (whitespace tokens),
    sub-words (the BPE-ish regex segmentation, functions/text.py),
    chars, and the µ-unit ratios subwords/word and chars/word.
    All-integer arithmetic — hash-exact.

    Scale: single scan, per-row codegen counting expressions, one
    map-side-combining groupBy on the #languages-sized key."""

    d = _docs(spark, sf_dir).select(
        "lang",
        token_count(F.col("text")).cast("long").alias("_w"),
        bpe_token_count(F.col("text")).cast("long").alias("_s"),
        F.length("text").cast("long").alias("_c"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_w").alias("n_words"),
            F.sum("_s").alias("n_subwords"),
            F.sum("_c").alias("n_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_subwords",
            "n_chars",
            F.expr("(n_subwords * 1000000L) div greatest(n_words, 1)")
            .alias("fertility_ppm"),
            F.expr("(n_chars * 1000000L) div greatest(n_words, 1)")
            .alias("chars_per_word_ppm"),
        )
        .orderBy("lang")
    )


_FERTILITY_SQL = r"""
WITH d AS (
  SELECT lang,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS s,
         CAST(length(text) AS BIGINT) AS c
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(s) AS BIGINT) AS n_subwords,
       CAST(SUM(c) AS BIGINT) AS n_chars,
       CAST((SUM(s) * 1000000) // GREATEST(SUM(w), 1) AS BIGINT)
         AS fertility_ppm,
       CAST((SUM(c) * 1000000) // GREATEST(SUM(w), 1) AS BIGINT)
         AS chars_per_word_ppm
FROM d GROUP BY lang ORDER BY lang
"""


def corpus_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota 80/10/10 per-source split
    (functions/sampling.py::exact_stratified_split): md5-ordered
    banded rank within each source, quota boundaries as exact
    integer floors — hash-exact cross-engine."""

    return exact_stratified_split(_docs(spark, sf_dir)).orderBy(
        "source", "rank"
    )


_STRAT_SPLIT_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('split-v1:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rank,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source, rank,
       CASE WHEN rank * 1000000 <= n * 800000 THEN 'train'
            WHEN rank * 1000000 <= n * 900000 THEN 'val'
            ELSE 'test' END AS split
FROM ranked ORDER BY source, rank
"""


# ------------------------------------ stupid-backoff LM scoring


def corpus_lm_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based perplexity filtering, engine-native: train a
    trigram LM with stupid backoff (Brants et al. EMNLP 2007) on the
    even-doc_id half of the corpus, score the held-out odd half in
    exact whole bits (functions/lm.py::stupid_backoff_score — α=1/4
    so every backoff level is exactly 2 bits and the score stays
    integral/hash-exact). The held-out split makes the backoff path
    REAL: unseen trigrams/bigrams/OOV all occur. High mean_mbits =
    improbable under the trusted slice — the CCNet/quality-filter
    ranking signal, with no external model artifact."""

    d = _docs(spark, sf_dir)
    return stupid_backoff_score(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    ).orderBy("doc_id")


_SB_SQL = r"""
WITH tl AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), tln AS (SELECT doc_id, l, len(l) AS n FROM tl),
c1 AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(l) AS w FROM tln WHERE doc_id % 2 = 0) GROUP BY w
),
ntot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c1),
c2 AS (
  SELECT w1, w2, COUNT(*) AS c
  FROM (
    SELECT l[i] AS w1, l[i + 1] AS w2
    FROM (SELECT l, unnest(range(1, n)) AS i
          FROM tln WHERE doc_id % 2 = 0 AND n >= 2)
  ) GROUP BY 1, 2
),
c3 AS (
  SELECT w1, w2, w3, COUNT(*) AS c
  FROM (
    SELECT l[i] AS w1, l[i + 1] AS w2, l[i + 2] AS w3
    FROM (SELECT l, unnest(range(1, n - 1)) AS i
          FROM tln WHERE doc_id % 2 = 0 AND n >= 3)
  ) GROUP BY 1, 2, 3
),
sc AS (
  SELECT doc_id, w1, w2, w3, COUNT(*) AS tf
  FROM (
    SELECT doc_id, l[i] AS w1, l[i + 1] AS w2, l[i + 2] AS w3
    FROM (SELECT doc_id, l, unnest(range(1, n - 1)) AS i
          FROM tln WHERE doc_id % 2 = 1 AND n >= 3)
  ) GROUP BY 1, 2, 3, 4
),
b AS (
  SELECT sc.doc_id, sc.tf,
    CASE
      WHEN c3.c IS NOT NULL
        THEN length(bin(c2a.c)) - length(bin(c3.c))
      WHEN c2b.c IS NOT NULL
        THEN 2 + length(bin(c1b.c)) - length(bin(c2b.c))
      WHEN c1c.c IS NOT NULL
        THEN 4 + length(bin(ntot.n)) - length(bin(c1c.c))
      ELSE 4 + length(bin(ntot.n)) - 1
    END AS bits
  FROM sc
  LEFT JOIN c3 ON c3.w1 = sc.w1 AND c3.w2 = sc.w2 AND c3.w3 = sc.w3
  LEFT JOIN c2 c2a ON c2a.w1 = sc.w1 AND c2a.w2 = sc.w2
  LEFT JOIN c2 c2b ON c2b.w1 = sc.w2 AND c2b.w2 = sc.w3
  LEFT JOIN c1 c1b ON c1b.w = sc.w2
  LEFT JOIN c1 c1c ON c1c.w = sc.w3
  CROSS JOIN ntot
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_trigrams,
       CAST(SUM(tf * bits) AS BIGINT) AS sum_bits,
       CAST((SUM(tf * bits) * 1000000) // SUM(tf) AS BIGINT) AS mean_mbits
FROM b GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------- LM-scored head/middle/tail buckets


def corpus_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's ACTUAL pipeline shape (Wenzek et al. 2020), composed
    from two existing operators: train the trusted-slice LM and
    score the held-out half (``stupid_backoff_score`` — even docs
    train, odd docs score, exactly ``corpus_lm_stupid_backoff``'s
    split), then rank the scored docs and cut head/middle/tail
    (``rank_buckets`` — the banded two-level prefix scan extracted
    from ``surprisal_buckets``). Head = lowest surprisal under the
    trusted model = the slice a pretraining mix up-weights;
    ``corpus_perplexity_buckets`` is the self-scored bigram variant,
    this is the MODEL-BASED one (real backoff paths: unseen
    trigrams, OOV).

    Whole-bit integral scores + integral rank/bucket formula ⇒ the
    whole composition stays hash-exact. Plan shape: the scorer's
    output is materialized ONCE inside ``rank_buckets`` — the
    min/max/count aggregate and the ranked output read that single
    pass, so the 3-join corpus-scale scoring never runs twice
    (pinned in tests/test_plans.py)."""

    d = _docs(spark, sf_dir)
    scored = stupid_backoff_score(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    ).select("doc_id", "mean_mbits")
    return (
        rank_buckets(scored, n_buckets=3)
        .select(
            "doc_id",
            "mean_mbits",
            "rank",
            "bucket",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.col("bucket") + 1,
            ).alias("band"),
        )
        .orderBy("rank")
    )


_LM_BUCKETS_SQL = f"""
WITH base AS ({_SB_SQL}),
r AS (
  SELECT doc_id, mean_mbits,
         CAST(ROW_NUMBER() OVER (ORDER BY mean_mbits, doc_id)
              AS BIGINT) AS rank,
         COUNT(*) OVER () AS n
  FROM base
)
SELECT doc_id, mean_mbits, rank,
       CAST(((rank - 1) * 3) // n AS INTEGER) AS bucket,
       CASE CAST(((rank - 1) * 3) // n AS INTEGER)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
       END AS band
FROM r ORDER BY rank
"""


QUERIES = {
    "corpus_stratified_split": corpus_stratified_split,
    "text_token_stats": text_token_stats,
    "text_quality_by_lang": text_quality_by_lang,
    "text_lang_id": text_lang_id,
    "text_fingerprint_md5": text_fingerprint_md5,
    "sample_hash_docs": sample_hash_docs,
    "sample_stratified_lang": sample_stratified_lang,
    "sample_weighted_docs": sample_weighted_docs,
    "tfidf_top_terms": tfidf_top_terms,
    "pii_scrub_stats": pii_scrub_stats,
    "text_repetition_stats": text_repetition_stats,
    "token_length_histogram": token_length_histogram,
    "vocab_top_terms": vocab_top_terms,
    "source_overlap_matrix": source_overlap_matrix,
    "doc_length_band": doc_length_band,
    "quality_budget_head": quality_budget_head,
    "text_bpe_tokens": text_bpe_tokens,
    "doc_hashed_tf": doc_hashed_tf,
    "corpus_cluster_safe_split": corpus_cluster_safe_split,
    "corpus_quality_filter": corpus_quality_filter,
    "pack_sequences": pack_sequences,
    "corpus_mix_plan": corpus_mix_plan,
    "corpus_mix_t2": corpus_mix_t2,
    "batch_padding_waste": batch_padding_waste,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "doc_chunk_spans": doc_chunk_spans,
    "corpus_curation_pipeline": corpus_curation_pipeline,
    "corpus_curation_provenance": corpus_curation_provenance,
    "text_unigram_surprisal": text_unigram_surprisal,
    "bpe_train_merges": bpe_train_merges,
    "vocab_drift_top": vocab_drift_top,
    "text_bigram_surprisal": text_bigram_surprisal,
    "quality_classifier_eval": quality_classifier_eval,
    "quality_classifier_audit": quality_classifier_audit,
    "corpus_perplexity_buckets": corpus_perplexity_buckets,
    "corpus_mojibake_audit": corpus_mojibake_audit,
    "doc_nfc_normalize": doc_nfc_normalize,
    "corpus_dsir_weights": corpus_dsir_weights,
    "corpus_dsir_select": corpus_dsir_select,
    "text_token_entropy": text_token_entropy,
    "corpus_collocations_pmi": corpus_collocations_pmi,
    "corpus_tokenizer_fertility": corpus_tokenizer_fertility,
    "corpus_lm_stupid_backoff": corpus_lm_stupid_backoff,
    "corpus_lm_quality_buckets": corpus_lm_quality_buckets,
}
ORACLE = {
    "corpus_stratified_split": _STRAT_SPLIT_SQL,
    "text_token_stats": _TOKEN_STATS_SQL,
    "text_quality_by_lang": _QUALITY_SQL,
    "text_lang_id": _LANG_ID_SQL,
    "text_fingerprint_md5": _FP_SQL,
    "sample_hash_docs": _SAMPLE_SQL,
    "sample_stratified_lang": _STRATIFIED_SQL,
    "sample_weighted_docs": _WEIGHTED_SQL,
    "tfidf_top_terms": _TFIDF_SQL,
    "pii_scrub_stats": _PII_SQL,
    "text_repetition_stats": _REPETITION_SQL,
    "token_length_histogram": _HIST_SQL,
    "vocab_top_terms": _VOCAB_SQL,
    "source_overlap_matrix": _OVERLAP_SQL,
    "doc_length_band": _BAND_SQL,
    "quality_budget_head": _BUDGET_SQL,
    "text_bpe_tokens": _BPE_SQL,
    "doc_hashed_tf": _HASHED_TF_SQL,
    "corpus_cluster_safe_split": _SPLIT_SQL,
    "corpus_quality_filter": _FILTER_SQL,
    "pack_sequences": _PACK_SQL,
    "corpus_mix_plan": _MIX_SQL,
    "corpus_mix_t2": _MIX_T2_SQL,
    "batch_padding_waste": _PAD_SQL,
    "corpus_snapshot_diff": _DIFF_SQL,
    "doc_chunk_spans": _CHUNK_SQL,
    "corpus_curation_pipeline": _PIPELINE_SQL,
    "corpus_curation_provenance": _PROVENANCE_SQL,
    "text_unigram_surprisal": _SURPRISAL_SQL,
    "vocab_drift_top": _DRIFT_SQL,
    "text_bigram_surprisal": _BIGRAM_SQL,
    "quality_classifier_audit": _CLASSIFIER_AUDIT_SQL,
    "corpus_perplexity_buckets": _PPLX_BUCKETS_SQL,
    "corpus_mojibake_audit": _MOJIBAKE_AUDIT_SQL,
    "doc_nfc_normalize": _NFC_SQL,
    "corpus_dsir_weights": _DSIR_WEIGHTS_SQL,
    "corpus_dsir_select": _DSIR_SELECT_SQL,
    "text_token_entropy": _ENTROPY_SQL,
    "corpus_collocations_pmi": _COLLOC_SQL,
    "corpus_tokenizer_fertility": _FERTILITY_SQL,
    "corpus_lm_stupid_backoff": _SB_SQL,
    "corpus_lm_quality_buckets": _LM_BUCKETS_SQL,
}
