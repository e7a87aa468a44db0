"""Unigram language-model surprisal — the CCNet-style "how unusual is
this document's vocabulary" quality signal, in EXACT integer
arithmetic so the cross-engine value hash holds.

A real LM perplexity sums ``−log p(token)`` in floating point; libm
``log`` is not bit-identical across engines and summation order
differs, so a hash-gated oracle would flap. The engine's variant
quantizes surprisal to whole bits using the binary-digit-count
identity ``floor_log2(n) = length(bin(n)) − 1`` (exact in Spark and
DuckDB — repo convention since the token-length histogram,
functions/mixing.py): a token occurring ``c`` times in an
``N``-token corpus scores ``floor_log2(N) − floor_log2(c)`` bits —
monotone in the true ``−log2(c/N)`` and within 2 bits of it. Rare
vocabulary ⇒ high bits/token; boilerplate ⇒ low. Useful for the same
screens as LM perplexity (outlier/garbage detection, corpus mixing)
while staying hash-exact.

Scale shape (100 TB): tokenize+explode is a linear codegen scan; per
(doc, term) counts are ONE map-side-combining hash aggregate (shuffle
∝ distinct doc-term pairs, not tokens); corpus term counts aggregate
the tf output (already distinct per doc — COUNT not COUNT DISTINCT);
the corpus total joins as a broadcast 1-row aggregate. Same shape as
functions/tfidf.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.tfidf import term_frequencies


def unigram_surprisal(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, sum_bits, mean_mbits) per document with ≥1
    token (zero-token docs have no defined surprisal and drop in both
    engines):

    - ``sum_bits`` = Σ_tokens (floor_log2(N) − floor_log2(c(term))),
      N = corpus token total, c = corpus occurrences of the term;
    - ``mean_mbits`` = sum_bits·10⁶ div n_tokens (truncating integer
      division, Spark ``div`` == DuckDB ``//``) — bits/token in
      µ-units, the per-doc quality score.
    """
    tf = term_frequencies(docs, id_col, text_col)
    cnt = tf.groupBy("term").agg(F.sum("tf").alias("_c"))
    tot = cnt.agg(F.sum("_c").alias("_n"))
    bits = F.length(F.bin(F.col("_n"))) - F.length(F.bin(F.col("_c")))
    per_doc = (
        tf.join(cnt, "term")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * bits).cast("long").alias("sum_bits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "sum_bits",
        F.expr("CAST((sum_bits * 1000000) DIV n_tokens AS BIGINT)").alias(
            "mean_mbits"
        ),
    )


def bigram_surprisal(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, sum_bits, mean_mbits) — the CONDITIONAL
    extension of ``unigram_surprisal``: each bigram occurrence
    (w1, w2) scores ``floor_log2(c(w1)) − floor_log2(c(w1, w2))``
    bits ≈ −log2(c12/c1), the bigram-LM conditional surprisal in the
    same exact whole-bit quantization (c12 ≤ c1 always, so bits ≥ 0).
    A document of common words in UNCOMMON order — word salad, shuffled
    boilerplate — scores high here while passing the unigram screen;
    together they bracket what a real LM perplexity filter catches.

    Docs with < 2 tokens have no bigrams and drop (both engines).
    Scale: one extra window-lead over the token scan (clustered on
    doc), per-(doc, bigram) counts map-side combine; the corpus
    bigram table joins co-partitioned on the bigram key.
    """
    from pyspark.sql.window import Window

    tok = _tokens_pos(docs, id_col, text_col)
    uc = tok.groupBy(F.col("_t").alias("w1")).agg(
        F.count(F.lit(1)).alias("_c1")
    )
    dw = Window.partitionBy("doc_id").orderBy("_pos")
    bg = (
        tok.select(
            "doc_id",
            F.col("_t").alias("w1"),
            F.lead("_t", 1).over(dw).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
    )
    btf = bg.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("tf")
    )
    bc = btf.groupBy("w1", "w2").agg(F.sum("tf").alias("_c12"))
    bits = F.length(F.bin(F.col("_c1"))) - F.length(F.bin(F.col("_c12")))
    per_doc = (
        btf.join(bc, ["w1", "w2"])
        .join(uc, "w1")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * bits).cast("long").alias("sum_bits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "sum_bits",
        F.expr("CAST((sum_bits * 1000000) DIV n_bigrams AS BIGINT)").alias(
            "mean_mbits"
        ),
    )


def token_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, n_terms, sum_bits, mean_mbits) — WITHIN-doc
    token self-entropy in the same exact whole-bit quantization:
    a term occurring ``c`` times in an ``n``-token document
    contributes ``c·(floor_log2(n) − floor_log2(c))`` bits, so
    ``mean_mbits ≈ H(token distribution)·10⁶`` bits/token. The
    repetitiveness screen that needs NO corpus pass (contrast
    ``unigram_surprisal``'s corpus-rarity signal): template spam and
    keyword stuffing score near 0, diverse prose near log2(n).
    Used alongside the Gopher repetition ratios (functions/quality.py)
    — entropy catches many-distinct-but-skewed vocabularies that
    top-n-gram ratios miss. Zero-token docs drop (both engines).

    Scale: per-(doc, term) counts map-side combine; the doc total is
    a second aggregate over that output clustered on the SAME doc
    key — zero extra shuffles after the tf count. No joins, no
    corpus-wide state."""
    tf = term_frequencies(docs, id_col, text_col)
    from pyspark.sql.window import Window

    n = F.sum("tf").over(Window.partitionBy("doc_id"))
    bits = F.length(F.bin(n)) - F.length(F.bin(F.col("tf")))
    per_term = tf.select(
        "doc_id",
        F.col("tf"),
        n.alias("_n"),
        (F.col("tf") * bits).alias("_b"),
    )
    return per_term.groupBy("doc_id").agg(
        F.max("_n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("_b").cast("long").alias("sum_bits"),
        F.expr(
            "CAST((CAST(SUM(_b) AS BIGINT) * 1000000) DIV MAX(_n) AS BIGINT)"
        ).alias("mean_mbits"),
    )


def surprisal_buckets(
    docs: DataFrame,
    n_buckets: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 256,
) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020 —
    public literature: rank every document by LM perplexity, cut the
    ranking into equal thirds, train preferentially on the fluent
    head): ``(doc_id, mean_mbits, rank, bucket)`` with ``rank`` the
    1-based position in (mean_mbits ASC, doc_id ASC) order — a total
    deterministic order — and ``bucket = ((rank−1)·n_buckets) div N``
    (0 = head = LOWEST surprisal). The score is the exact whole-bit
    bigram surprisal (``bigram_surprisal``), so the whole split is
    integral and hash-exact cross-engine; docs with < 2 tokens have
    no score and drop (both engines).

    Scale shape: the global rank over a total order is the prefix
    problem of ``selection.budget_head`` — one unbounded window
    would serialize the corpus onto one task, so it runs as the same
    two-level scan, sharded by SCORE BAND (contiguous score ranges
    are contiguous rank spans): per-band counts (≤ n_shards rows)
    are exclusive-prefix-summed on a tiny window, within-band ranks
    run partitioned BY BAND, global rank = band offset + within-band
    row_number. The band width comes from one 1-row min/max
    aggregate (bounded driver traffic at any corpus size)."""
    return rank_buckets(
        bigram_surprisal(docs, id_col, text_col).select(
            "doc_id", "mean_mbits"
        ),
        n_buckets=n_buckets,
        n_shards=n_shards,
    )


def rank_buckets(
    scores: DataFrame,
    n_buckets: int = 3,
    n_shards: int = 256,
) -> DataFrame:
    """Score-agnostic banded rank-and-bucket stage: take a
    ``(doc_id, mean_mbits)`` frame from ANY of the module's scorers
    (bigram surprisal, stupid-backoff trigram LM, ...) and return
    ``(doc_id, mean_mbits, rank, bucket)`` with ``rank`` the 1-based
    position in (mean_mbits ASC, doc_id ASC) - a total deterministic
    order - and ``bucket = ((rank-1)*n_buckets) div N`` (0 = lowest
    surprisal). Fully integral, so hash-exact cross-engine.

    Extracted from ``surprisal_buckets`` so the CCNet shape -
    trusted-slice LM -> rank -> head/middle/tail - composes with the
    model-based ``stupid_backoff_score`` without re-implementing the
    two-level banded prefix scan. The input is MATERIALIZED once
    here: the min/max/count aggregate and the ranked output both
    read that one pass, so an expensive upstream scorer never runs
    twice."""
    from pyspark.sql.window import Window

    from tidb_cdc_spark.session import materialize

    s = materialize(scores)
    head = s.agg(
        F.min("mean_mbits").alias("lo"),
        F.max("mean_mbits").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if head["n"] == 0:
        return scores.sparkSession.createDataFrame(
            [], "doc_id long, mean_mbits long, rank long, bucket int"
        )
    lo, n = int(head["lo"]), int(head["n"])
    width = max(1, -(-(int(head["hi"]) - lo + 1) // n_shards))
    sharded = s.withColumn(
        "_shard", F.expr(f"(mean_mbits - {lo}L) div {width}L")
    )
    from tidb_cdc_spark.operators.windows import banded_offsets

    offsets = banded_offsets(sharded, "_shard")
    w_in = Window.partitionBy("_shard").orderBy("mean_mbits", "doc_id")
    return (
        sharded.join(F.broadcast(offsets), "_shard")
        .withColumn(
            "rank",
            (F.col("_off") + F.row_number().over(w_in)).cast("long"),
        )
        .select(
            "doc_id",
            "mean_mbits",
            "rank",
            F.expr(f"CAST(((rank - 1) * {n_buckets}) DIV {n}L AS INT)").alias(
                "bucket"
            ),
        )
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(w1, w2, c12, pmi_bits): top-k collocations by whole-bit
    pointwise mutual information — the classic collocation-mining
    statistic (Church & Hanks 1990, "Word Association Norms, Mutual
    Information, and Lexicography" — public literature), quantized
    to stay hash-exact:

        pmi_bits = fl2(c12) + fl2(N) − fl2(c1) − fl2(c2)

    (the four fl2 +1 offsets cancel, so raw ``length(bin(·))`` works
    in both engines). Within 2 bits of true log2 PMI, monotone per
    factor, and — unlike ``c12·N / (c1·c2)`` — free of the int64
    overflow a trillion-token corpus would hit in the cross-product.
    High PMI + high count ⇒ multi-word expressions, named entities,
    and tokenizer-merge candidates; the ``min_count`` floor drops
    the unstable one-off pairs PMI is notorious for promoting.

    Scale: one token scan + window-lead (clustered on doc), ONE
    map-side-combining groupBy on the bigram, two vocabulary-sized
    co-partitioned joins for c1/c2, broadcast 1-row total, and a
    TakeOrderedAndProject top-k — no corpus-sized window, no pairs
    beyond observed bigrams. Ties broken (pmi_bits DESC, w1, w2)."""
    from pyspark.sql.window import Window

    tok = _tokens_pos(docs, id_col, text_col)
    uc = tok.groupBy(F.col("_t").alias("_w")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    dw = Window.partitionBy("doc_id").orderBy("_pos")
    bg = tok.select(
        F.col("_t").alias("w1"),
        F.lead("_t", 1).over(dw).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    total = bc.agg(F.sum("c12").cast("long").alias("_n"))
    u1 = uc.select(F.col("_w").alias("w1"), F.col("_c").alias("_c1"))
    u2 = uc.select(F.col("_w").alias("w2"), F.col("_c").alias("_c2"))
    pmi = (
        F.length(F.bin(F.col("c12")))
        + F.length(F.bin(F.col("_n")))
        - F.length(F.bin(F.col("_c1")))
        - F.length(F.bin(F.col("_c2")))
    ).cast("long")
    return (
        bc.filter(F.col("c12") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select("w1", "w2", "c12", pmi.alias("pmi_bits"))
        .orderBy(F.desc("pmi_bits"), "w1", "w2")
        .limit(k)
    )


def _tokens_pos(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _pos, _t): the module's ONE tokenization convention
    (lower + split \\s+ + drop empties) — shared by every positional
    operator here so the cross-engine oracles can mirror a single
    rule; change it in one place or the hash gates flap."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "_pos", "_t"
        ),
    ).filter(F.col("_t") != "")


def stupid_backoff_score(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Held-out trigram LM scoring with STUPID BACKOFF (Brants et al.
    EMNLP 2007 — the large-scale LM smoothing that needs no
    discount fitting), quantized to exact whole bits so the
    cross-engine hash holds (module convention): per scored trigram
    position (w1, w2, w3) against counts from ``train``,

    - trigram hit:   bits = fl2(c2(w1,w2)) − fl2(c3(w1,w2,w3))
    - bigram backoff: bits = 2 + fl2(c1(w2)) − fl2(c2(w2,w3))
    - unigram backoff: bits = 4 + fl2(N) − fl2(c1(w3))
    - OOV:            bits = 4 + fl2(N)  (c=1 pseudo-count)

    α = 1/4 per backoff level — exactly 2 bits, keeping the score
    integral (the paper's 0.4 is not a power of two; the backoff
    ORDER, not the constant, carries the signal). fl2 differences
    use the binary-digit-count identity (the +1s cancel; the +2/+4
    constants are exact). Output: (doc_id, n_trigrams, sum_bits,
    mean_mbits) per scored doc with ≥ 3 tokens — the model-based
    perplexity-filter shape: train on a trusted slice, rank the rest.

    Scale (100 TB): three map-side-combining count aggregates over
    the train scan; the denominator lookups (c2(w1,w2) for trigram
    hits, c1(w2) for bigram backoff) depend only on TRAIN keys, so
    they fold into the count tables once — vocabulary-sized joins —
    leaving exactly THREE corpus-scale left equi-joins on the scored
    side, over per-(doc, trigram) counts rather than tokens; no
    floats, no Python, no window wider than the per-doc lead."""
    from pyspark.sql.window import Window

    ttok = _tokens_pos(train, id_col, text_col)
    dw = Window.partitionBy("doc_id").orderBy("_pos")
    ttri = ttok.select(
        F.col("_t").alias("w1"),
        F.lead("_t", 1).over(dw).alias("w2"),
        F.lead("_t", 2).over(dw).alias("w3"),
    )
    c1 = ttok.groupBy(F.col("_t").alias("w")).agg(
        F.count(F.lit(1)).alias("c")
    )
    c2 = (
        ttri.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # fold each level's DENOMINATOR in train-side (vocab-sized joins)
    c3 = (
        ttri.filter(F.col("w3").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("_c3"))
        .join(c2.select("w1", "w2", F.col("c").alias("_c2a")), ["w1", "w2"])
    )
    c2b = c2.select(
        F.col("w1").alias("w2"),
        F.col("w2").alias("w3"),
        F.col("c").alias("_c2b"),
    ).join(
        c1.select(F.col("w").alias("w2"), F.col("c").alias("_c1b")), ["w2"]
    )
    n_tot = c1.agg(F.sum("c").cast("long").alias("_n"))

    stok = _tokens_pos(score, id_col, text_col)
    stri = (
        stok.select(
            "doc_id",
            F.col("_t").alias("w1"),
            F.lead("_t", 1).over(dw).alias("w2"),
            F.lead("_t", 2).over(dw).alias("w3"),
        )
        .filter(F.col("w3").isNotNull())
        .groupBy("doc_id", "w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    j = (
        stri.join(c3, ["w1", "w2", "w3"], "left")
        .join(c2b, ["w2", "w3"], "left")
        .join(
            c1.select(F.col("w").alias("w3"), F.col("c").alias("_c1c")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(n_tot))
    )
    fl = lambda c: F.length(F.bin(c))  # noqa: E731 — +1s cancel in diffs
    bits = (
        F.when(F.col("_c3").isNotNull(), fl(F.col("_c2a")) - fl(F.col("_c3")))
        .when(
            F.col("_c2b").isNotNull(),
            F.lit(2) + fl(F.col("_c1b")) - fl(F.col("_c2b")),
        )
        .when(
            F.col("_c1c").isNotNull(),
            F.lit(4) + fl(F.col("_n")) - fl(F.col("_c1c")),
        )
        .otherwise(F.lit(4) + fl(F.col("_n")) - F.lit(1))
    ).cast("long")
    return (
        j.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_trigrams"),
            F.sum(F.col("tf") * bits).cast("long").alias("sum_bits"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "sum_bits",
            F.expr(
                "CAST((sum_bits * 1000000) DIV n_trigrams AS BIGINT)"
            ).alias("mean_mbits"),
        )
    )
