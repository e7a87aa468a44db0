"""Text analysis for training-data pipelines — all native expressions.

North-star operators (BASELINE.json): token counting, quality
scoring, language ID, document fingerprinting. Everything is a
Catalyst expression (split/transform/aggregate/xxhash64) — zero
Python in the row path, so these run inside whole-stage codegen and
scale linearly to 100 TB of documents.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny multilingual stopword lists for the n-gram-free heuristic
#: language scorer. Deliberately small and public-knowledge.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "ist", "den", "nicht"],
    "fr": ["le", "la", "et", "de", "un", "que", "pour", "dans", "est", "les"],
}

#: BPE-ish token pattern: word pieces, numbers, or single punctuation —
#: a public-knowledge approximation of GPT-2-style pre-tokenization.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization; empty strings filtered out."""
    return F.filter(F.split(text, pattern), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-ish sub-word tokens via regexp extraction."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)))


def lang_scores(text: Column) -> Column:
    """Map of lang → stopword-hit count; argmax is the predicted
    language. Pure expressions; scoring ~100 TB of docs is a scan."""
    toks = tokens(F.lower(text))

    def hits(lang: str):
        # NB: a plain 1-arg lambda per language — extra default args
        # confuse PySpark's higher-order-function arity inspection
        return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))

    return F.map_from_arrays(
        F.array(*[F.lit(l) for l in STOPWORDS]),
        F.array(*[hits(l) for l in STOPWORDS]),
    )


def lang_id(text: Column) -> Column:
    """Predicted language code (ties broken by list order), 'und' if
    no stopword hits at all."""
    scores = lang_scores(text)
    langs = list(STOPWORDS)
    best = F.greatest(*[scores.getItem(l) for l in langs])
    pred = F.coalesce(
        *[F.when(scores.getItem(l) == best, F.lit(l)) for l in langs]
    )
    return F.when(best > 0, pred).otherwise(F.lit("und"))


#: PII patterns — deliberately lookaround-free so they behave
#: identically under Java regex (Spark) and RE2 (DuckDB/Go).
#: Ordered: emails before phones (an email's digits must not be
#: half-eaten by the phone pattern), URLs before emails would also
#: work — the apply order below is the contract.
PII_PATTERNS = (
    ("url", r"https?://[^\s]+"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+[0-9][0-9()\-\s]{6,}[0-9]"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII occurrence counts (url/email/phone) — codegen
    regexp_count scans, no Python in the row path."""
    return {
        kind: F.regexp_count(text, F.lit(pat)) for kind, pat in PII_PATTERNS
    }


def redact_pii(text: Column, token: str = "[PII]") -> Column:
    """Replace every PII match with ``token``, applying patterns in
    ``PII_PATTERNS`` order (urls first so an email-shaped userinfo
    inside a URL is consumed by the URL rule). The standard scrub
    pass before a corpus ships to training — pure expressions, a
    100 TB scrub is a linear scan."""
    out = text
    for _, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


def fingerprint(text: Column, normalize: bool = True) -> Column:
    """64-bit document fingerprint: xxhash64 over the
    whitespace-normalized, lower-cased text. The exact-dedup key —
    grouping on a long beats grouping on multi-KB strings by an
    order of magnitude in shuffle bytes at 100 TB."""
    t = F.trim(F.lower(F.regexp_replace(text, r"\s+", " "))) if normalize else text
    return F.xxhash64(t)


def shingle_hash_rows(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    id_alias: str = "_id",
    hash_alias: str = "_g",
):
    """(id, shingle_hash) ROWS — the bulk/scale path for shingle sets.

    Semantically equivalent to exploding ``xxhash64`` over
    ``shingles(text, k)`` (modulo the hash function: this rolls k
    consecutive token hashes instead of hashing the joined string —
    set identity is preserved, which is all Jaccard/MinHash/SimHash
    care about), but built ONLY from codegen-friendly operators:
    ``posexplode(split(...))`` → per-token ``xxhash64`` → window
    ``lead`` chain. The array-lambda route (``transform`` +
    ``slice`` + ``concat_ws``) is CodegenFallback — interpreted,
    ~30 µs/row — and was the dominant cost of every fuzzy-dedup
    operator before this path existed.

    Shingle semantics match ``shingles``: n ≥ k tokens → n−k+1
    shingles; 0 < n < k → ONE shingle of all n tokens (trailing
    ``lead`` nulls are skipped by ``xxhash64``, which folds null
    inputs as no-ops). An all-whitespace/empty document emits ONE
    sentinel row (hash of the empty string, matching ``shingles``'s
    single empty shingle) so two empty documents still land in the
    same minhash/simhash/Jaccard buckets and pair as duplicates;
    null-text documents yield no row.

    Scale: one hash-shuffle on the id (none at all if the input is
    already partitioned by it), then explode/window/aggregate all
    pipeline within the partition. Window state is one row — no
    spill risk regardless of document count per partition.

    Narrower types, projected before the exchange: each token is
    hashed to its 8-byte xxhash64 in the projection BELOW the
    window's hash-exchange, so the exchange carries (id, pos, long)
    instead of (id, pos, token STRING) — the window expressions then
    roll the already-hashed longs. Values are
    unchanged (the rolled hash always was xxhash64 over per-token
    xxhash64s); only where the per-token hash is computed moves.
    """
    from pyspark.sql import Window

    tok = (
        df.select(
            F.col(id_col).alias(id_alias),
            F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
                "_pos", "_t"
            ),
        )
        .filter(F.col("_t") != "")
        .select(id_alias, "_pos", F.xxhash64(F.col("_t")).alias("_h0"))
    )
    w = Window.partitionBy(id_alias).orderBy("_pos")
    h0 = F.col("_h0")
    leads = [F.lead(h0, j).over(w) for j in range(1, k)]
    rolled = tok.select(
        id_alias,
        F.xxhash64(h0, *leads).alias(hash_alias),
        # keep: full shingles (last lead present) + the single
        # all-tokens shingle of short docs (first row, n < k)
        (
            (leads[-1].isNotNull() if leads else F.lit(True))
            | (F.row_number().over(w) == 1)
        ).alias("_keep"),
    )
    empty = df.filter(_no_tokens(F.col(text_col))).select(
        F.col(id_col).alias(id_alias),
        F.xxhash64(F.lit("")).alias(hash_alias),
    )
    return rolled.filter(F.col("_keep")).drop("_keep").unionByName(empty)


def _no_tokens(text: Column) -> Column:
    """True iff the tokenizer (split on ``\\s+``, drop empties) would
    yield ZERO tokens — the empty-doc sentinel predicate for the
    shingle row helpers. Must use the SAME whitespace class as the
    tokenizer's split (Java ``\\s``): ``trim`` strips only ASCII
    spaces, so a tabs/newlines-only doc would otherwise emit no
    shingle row at all while the oracle's tokenize-then-count n=0
    branch emits the sentinel. Null text stays
    excluded (null predicate → filter false)."""
    return F.regexp_replace(text, r"\s", "") == ""


def shingle_string_rows(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    id_alias: str = "_id",
    shingle_alias: str = "_sh",
):
    """(id, shingle STRING) rows — ``shingle_hash_rows``' sibling for
    operators that must key shingles with an ENGINE-REPRODUCIBLE hash
    (md5 of the raw space-joined string; xxhash64 has no DuckDB
    counterpart, so rolled-hash shingles can never be value-oracled).

    Same codegen construction and IDENTICAL shingle semantics
    (``shingles``): posexplode(split) → window ``lead`` chain;
    ``concat_ws`` skips trailing nulls exactly as ``xxhash64`` folds
    them, so the kept first row of an n < k doc is the whole-doc
    shingle, and empty/whitespace-only docs emit the empty-string
    sentinel (two empty docs still pair as duplicates, family-wide);
    null-text docs yield no row."""
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col).alias(id_alias),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "_pos", "_t"
        ),
    ).filter(F.col("_t") != "")
    w = Window.partitionBy(id_alias).orderBy("_pos")
    leads = [F.lead(F.col("_t"), j).over(w) for j in range(1, k)]
    rolled = tok.select(
        id_alias,
        F.concat_ws(" ", F.col("_t"), *leads).alias(shingle_alias),
        (
            (leads[-1].isNotNull() if leads else F.lit(True))
            | (F.row_number().over(w) == 1)
        ).alias("_keep"),
    )
    empty = df.filter(_no_tokens(F.col(text_col))).select(
        F.col(id_col).alias(id_alias),
        F.lit("").alias(shingle_alias),
    )
    return rolled.filter(F.col("_keep")).drop("_keep").unionByName(empty)


def shingles(text: Column, k: int = 5) -> Column:
    """Array of k-token shingles (n-grams of the whitespace tokens) —
    the unit set for Jaccard/MinHash near-dup detection.

    Column form for small projections/tests; bulk pipelines should
    use ``shingle_hash_rows`` (codegen; this form's array lambdas
    are interpreted)."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


#: Latin-1-mojibake signature: the UTF-8 lead bytes 0xC2/0xC3
#: (\u00c2/\u00c3) or the 0xE2 lead of curly-punctuation sequences
#: (\u00e2) surfacing as characters.
_MOJIBAKE_MARKERS = "[\u00c2\u00c3\u00e2]"

#: Any character OUTSIDE the Latin-1 repertoire. A row containing one
#: cannot be pure UTF-8-read-as-Latin-1 mojibake (the misread only
#: ever yields U+0000-U+00FF) — and, load-bearing: Spark 4's ANSI
#: ``encode(_, 'ISO-8859-1')`` raises MALFORMED_CHARACTER_CODING on
#: such a char, so the encode below must never evaluate for those
#: rows ("ch\u00e2teau" plus an em dash / CJK / emoji is realistic
#: clean text, not corruption).
_NON_LATIN1 = r"[^\x00-\xff]"


def is_mojibake(text: Column) -> Column:
    """True when ``text`` shows the classic UTF-8-bytes-read-as-
    Latin-1 corruption AND re-reading its Latin-1 bytes as UTF-8 is
    valid (``is_valid_utf8`` guard): legitimate text that merely
    contains the marker characters (e.g. uppercase "S\u00c3O") fails
    the byte-validity check — the following byte is not a UTF-8
    continuation — and is left alone.

    The byte check runs under a CaseWhen whose condition first
    rejects any row containing a non-Latin-1 char: such rows cannot
    be this corruption (and could crash the scan — ANSI ``encode``
    raises MALFORMED_CHARACTER_CODING on unmappable chars, so
    realistic text like "ch\u00e2teau \u2014 tasting menu" would
    otherwise fail the whole job). Only CaseWhen — not ``&``, which
    does not promise per-row short-circuit — guarantees the encode
    never evaluates for those rows."""
    return text.rlike(_MOJIBAKE_MARKERS) & F.when(
        ~text.rlike(_NON_LATIN1),
        F.is_valid_utf8(F.encode(text, "ISO-8859-1")),
    ).otherwise(F.lit(False))


def fix_mojibake(text: Column) -> Column:
    """Repair UTF-8-as-Latin-1 mojibake ("caf\u00c3\u00a9" →
    "caf\u00e9") entirely in JVM expressions: re-encode the
    characters as Latin-1 bytes and decode them as the UTF-8 they
    originally were — exactly inverse to the corruption. Applied
    ONLY when :func:`is_mojibake` holds (CaseWhen evaluates the
    decode lazily per row, so ANSI mode's
    MALFORMED_CHARACTER_CODING can never fire on clean rows);
    everything else passes through unchanged. The ftfy archetype's
    dominant case, as a curation-scan column op."""
    return F.when(
        is_mojibake(text),
        F.decode(F.encode(text, "ISO-8859-1"), "UTF-8"),
    ).otherwise(text)


def normalize_text(text: Column, form: str = "NFC") -> Column:
    """Unicode normalization (NFC/NFKC/NFD/NFKD) — the canonical
    tokenizer prep step (decomposed accents, compatibility forms,
    width variants all map to one representation, so "cafe\u0301"
    and "caf\u00e9" stop being distinct tokens). Arrow-batched
    pandas UDF over Python's unicodedata (UAX #15 reference
    implementation); Spark has no built-in normalizer, and a
    per-row JVM call via reflection would not beat the vectorized
    Arrow path. Cross-engine exact: DuckDB's nfc_normalize
    (utf8proc) agrees with unicodedata on NFC — pinned by the
    ``doc_nfc_normalize`` oracle query."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize(form, t)
            if t is not None
            else None
        )

    return norm(text)
