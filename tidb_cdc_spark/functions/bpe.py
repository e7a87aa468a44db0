"""Distributed BPE (byte-pair-encoding) merge training — learn a
subword tokenizer's merge table from the corpus (Sennrich, Haddow,
Birch, "Neural Machine Translation of Rare Words with Subword Units",
ACL'16 — public literature; the algorithm behind GPT/Llama-family
tokenizers).

The scale insight that makes this viable at 100 TB: after ONE corpus
scan collapses the text to a (word, count) vocabulary, the entire
merge loop runs on the VOCABULARY — ~10⁶-10⁷ rows regardless of
corpus bytes — never touching the corpus again. Each round is two
small jobs over the vocab:

1. pair counting: explode each word's adjacent symbol pairs weighted
   by word count → one map-side-combining groupBy (pair, Σwc);
2. pick the max (count desc, then lexicographic pair — a total,
   deterministic order) and rewrite the symbol arrays, replacing every
   non-overlapping left-to-right occurrence of the pair (the standard
   greedy semantics reference implementations use).

The per-round rewrite is an Arrow-batched pandas UDF over vocab rows
(a few chars per row); the winning pair is a 1-row driver value —
metadata, not data. Rounds are lineage-truncated like the CC loop so
round N's plan does not replay rounds 1..N−1.

No SQL oracle: the merge loop is iterative (same class as KMeans /
connected components); correctness is pinned by an exact merge-
sequence twin test against a pure-Python reference implementation in
tests/, and the registry query is declared rows-only.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.text import tokens

#: end-of-word marker (Sennrich §3.2): lets the tokenizer distinguish
#: word-final subwords ("est</w>" in "widest") from word-internal ones
EOW = "</w>"


def word_vocab(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(word, wc, syms) — the one corpus scan: lower-cased whitespace
    words with counts, each split into single-character symbols plus
    the end-of-word marker."""
    words = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    # substring-by-index keeps this codegen (split-by-empty-regex has
    # engine-version-dependent edge behavior)
    syms = F.concat(
        F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        F.array(F.lit(EOW)),
    )
    return words.select("word", "wc", syms.alias("syms"))


def _merge_pair_udf(left: str, right: str):
    """Rewrite symbol arrays: replace adjacent (left, right) by the
    concatenation, scanning left-to-right without overlap — the
    standard greedy BPE application order."""
    from pyspark.sql.functions import pandas_udf

    merged = left + right

    @pandas_udf("array<string>")
    def apply_merge(syms: pd.Series) -> pd.Series:
        def one(s):
            out = []
            i = 0
            n = len(s)
            while i < n:
                if i + 1 < n and s[i] == left and s[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out

        return syms.map(one)

    return apply_merge


def bpe_train(
    docs: DataFrame,
    n_merges: int = 30,
    text_col: str = "text",
    min_pair_count: int = 2,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the ordered merge table
    ``(rank, left, right, merged, pair_count)`` — rank 1 is the first
    (most frequent) merge. Stops early when no pair reaches
    ``min_pair_count`` (merging singletons is vocabulary noise).

    Determinism: ties broken by (left, right) ascending, so the merge
    sequence is a pure function of the corpus — pinned against a
    pure-Python reference in tests.
    """
    spark = docs.sparkSession
    # per-round truncation MUST cut lineage, not just cache: a
    # persist keeps the logical plan, so round N's plan would nest
    # all N−1 previous rounds' UDF pipelines — linear plan blowup
    # that eventually exhausts driver heap in a long-lived session.
    # localCheckpoint (eager) materializes AND severs the plan, same
    # rationale as the connected-components loop (functions/clusters).
    # Block lifetime: localCheckpoint blocks are NOT released by
    # unpersist() (that only uncaches persist()-made CacheManager
    # entries); they are freed by the ContextCleaner when the
    # checkpointed RDD is garbage-collected — which the loop
    # guarantees by dropping each round's reference when `vocab` is
    # rebound, so at most a GC-lag's worth of rounds is ever live.
    # Block size is vocab-bounded (KBs..MBs), not corpus-bounded.
    vocab = word_vocab(docs, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        # fully-merged words (1 symbol) have no pairs; filtering
        # them also dodges sequence(1, 0), which Spark evaluates
        # as the DESCENDING [1, 0]
        pairs = vocab.filter(F.size("syms") >= 2).select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i-1] AS l, syms[i] AS r))"
                )
            ).alias("p"),
        ).select("wc", "p.l", "p.r")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("wc").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .first()
        )
        if best is None or best.c < min_pair_count:
            break
        merges.append((rank, best.l, best.r, best.l + best.r, int(best.c)))
        vocab = vocab.select(
            "word",
            "wc",
            _merge_pair_udf(best.l, best.r)(F.col("syms")).alias("syms"),
        ).localCheckpoint()  # eager: rewrite runs now, lineage cut;
        # rebinding drops the old round's RDD for the ContextCleaner
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_count long"
    )


