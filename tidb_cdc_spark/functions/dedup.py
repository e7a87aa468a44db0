"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

North-star operators (BASELINE.json). All signature computation is
native expressions (xxhash64 / transform / aggregate) — no Python in
the row path. The pair-generation stage is always an equi-join on a
bucket key (band signature / simhash chunk), never a cross join:
that is the property that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.text import (
    fingerprint,
    shingle_hash_rows,
    shingle_string_rows,
    shingles,
    tokens,
)
from tidb_cdc_spark.functions.similarity import as_double, cosine

# Signature subplans feed BOTH sides of a self-join; materialize once
# (lineage kept — see session.materialize) instead of
# executing the shingle+signature pipeline per side.
from tidb_cdc_spark.session import materialize as _materialize


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each exact-duplicate
    group (after whitespace/case normalization).

    Plan: hash-groupBy on a 64-bit fingerprint — shuffle bytes are
    ~16 B/row regardless of document size, the scalable shape for
    100 TB of multi-KB docs (vs. grouping by the full text).
    """
    return (
        df.withColumn("_fp", fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .drop("_fp")
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, sig array<long>) via the scalable shape: rolled shingle
    hashes (``shingle_hash_rows`` — codegen, no interpreted array
    lambdas) feeding ONE codegen'd hash aggregate computing all
    ``num_hashes`` mins (partial map-side combine → shuffle carries
    one row per doc). No distinct pass is needed: ``min`` is
    insensitive to multiset duplicates, so MinHash over the raw
    shingle stream equals MinHash over the shingle SET."""
    exploded = shingle_hash_rows(
        df, id_col, text_col, k=shingle_k, hash_alias="_h"
    )
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("_h"))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    per_doc = exploded.groupBy("_id").agg(*aggs)
    return per_doc.select(
        "_id", F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("_sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Signature split into ``bands`` bands of ``num_hashes/bands``
    rows; docs sharing any band hash become a candidate pair.
    Plan: explode to (band_id, band_hash) → self-equi-join on the
    band key carrying IDS ONLY (~24 B/row through the band shuffle —
    the 64-long signature array would be ~0.5 KB/row/band) → distinct
    pairs → signatures re-attached by two id-joins against the
    materialized signature table for the Jaccard estimate. At 100 TB
    the candidate set is orders of magnitude smaller than the banded
    explosion, so the re-attach joins are cheap compared to what the
    slim band shuffle saves.

    ``max_bucket_size`` guards the one data-driven quadratic left: a
    64-bit band key never collides by accident, but a viral template
    family of b near-identical docs shares most band buckets, and one
    b-sized bucket alone contributes b·(b−1)/2 join rows. Buckets over
    the cap are dropped before the self-join; a true pair is lost only
    when ALL 16 of its shared buckets are oversized — i.e. only inside
    a ≥cap mutual near-dup family, which the pair list could not
    usefully enumerate anyway (pairs grow quadratically in family
    size; collapse such families via exact dedup or cluster the
    surviving pairs). ``None`` disables the guard.
    """
    from pyspark.sql import Window

    rows = num_hashes // bands
    sig = _materialize(
        minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_k)
    )
    banded = sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("_sig")[b * rows + r] for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("_band", "_bhash"),
    )
    if max_bucket_size is not None:
        # materialized for the same reason as simhash_pairs_from_sigs:
        # the guard window must run once, not once per join side, and
        # its (_band, _bhash) clustering carries into the self-join
        banded = _materialize(
            banded.withColumn(
                "_bs", F.count(F.lit(1)).over(Window.partitionBy("_band", "_bhash"))
            )
            .filter(F.col("_bs") <= max_bucket_size)
            .drop("_bs")
        )
    left = banded.select(F.col("_id").alias("id_a"), "_band", "_bhash")
    right = banded.select(F.col("_id").alias("id_b"), "_band", "_bhash")
    cand = (
        left.join(right, ["_band", "_bhash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a")), "id_a"
    ).join(
        sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b")), "id_b"
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_sig_a"), F.col("_sig_b"), lambda a, b: a == b),
                lambda x: x,
            )
        ).cast("double")
        / F.lit(float(len(range(num_hashes))))
    )
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def minhash_lsh_star_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_bucket_size: int | None = 1000,
    with_jaccard: bool = True,
) -> DataFrame:
    """Connectivity-preserving LINEAR alternative to
    :func:`minhash_lsh_pairs`: each band bucket emits only the STAR
    (min-id hub → member) pairs instead of the full clique, so
    output grows linearly in near-dup family size instead of
    quadratically — b·(b−1)/2 → b−1 rows per b-sized bucket.

    Found by the 1×/10×/100× scaling curve (tools/scale_curve.py):
    with ~100-member near-dup families the all-pairs op blew up
    13.7× from 10×→100× on genuinely quadratic output; this variant
    stays flat. The connected components over star pairs EQUAL the
    components over clique pairs (within a bucket the star spans
    every member the clique does), so cluster-consuming pipelines —
    ``dedup_clusters``, keep-best collapse, leakage-safe splits —
    lose nothing. Use the clique form only when per-pair scores for
    ALL pairs are genuinely needed. ``est_jaccard`` attaches per
    emitted (hub, member) pair exactly as in the clique form —
    UNLESS ``with_jaccard=False``, which skips the two signature
    re-attachment joins and returns (id_a, id_b) only: the right
    call for connectivity-only consumers (CC → representatives),
    where the score would be computed and immediately dropped."""
    from pyspark.sql import Window

    rows = num_hashes // bands
    sig = _materialize(
        minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_k)
    )
    banded = sig.select(
        "_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("_sig")[b * rows + r] for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("_band", "_bhash"),
    )
    w = Window.partitionBy("_band", "_bhash")
    banded = banded.withColumn("_bs", F.count(F.lit(1)).over(w)).withColumn(
        "_rep", F.min("_id").over(w)
    )
    if max_bucket_size is not None:
        banded = banded.filter(F.col("_bs") <= max_bucket_size)
    cand = (
        banded.filter(F.col("_id") != F.col("_rep"))
        .select(F.col("_rep").alias("id_a"), F.col("_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if not with_jaccard:
        return cand
    pairs = cand.join(
        sig.select(F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a")),
        "id_a",
    ).join(
        sig.select(F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b")),
        "id_b",
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_sig_a"), F.col("_sig_b"), lambda a, b: a == b),
                lambda x: x,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def minhash_band_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, band, bhash) rows — the PERSISTENT LSH index format: a
    corpus's band table, stored bucketed on (band, bhash), lets any
    later batch find near-dup candidates with one equi-join instead
    of re-hashing the corpus. ~24 B/row × bands per document."""
    rows = num_hashes // bands
    sig = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_k)
    return sig.select(
        F.col("_id").alias(id_col),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col("_sig")[b * rows + r] for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("band", "bhash"),
    )


def near_dup_ingest(
    new_docs: DataFrame,
    band_store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    batch_bands: "DataFrame | None" = None,
    broadcast_batch: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Streaming near-dup admission control: screen an incoming batch
    against the corpus's persistent band table (``minhash_band_rows``
    format) WITHOUT touching corpus text.

    Returns ``(clean, candidates, new_bands)``:
    - ``candidates`` — (new_id, corpus_id, src) pairs sharing ≥1 LSH
      band: ``src='store'`` pairs collide with a stored document,
      ``src='batch'`` pairs collide with a SMALLER-id document of the
      same batch (two near-identical docs arriving together must not
      both be admitted). Verify exactly downstream if the estimated-
      Jaccard threshold matters.
    - ``clean`` — batch docs with NO collision against the store and
      no collision against a smaller-id batch doc (safe to admit).
      The smaller-id rule is deterministic arrival-order admission;
      for collision CHAINS (A←B←C with B∉A's buckets rejected) it is
      conservative — C is rejected even though its only partner B was
      itself rejected; exact re-screening of ``candidates`` recovers
      such docs if that matters.
    - ``new_bands`` — band rows for the ADMITTED (clean) docs only,
      safe to append to the store as-is; appending rejected docs'
      bands would create future candidate pairs against documents
      that were never admitted.

    Scale: the store join STREAMS the band table against the
    BROADCAST batch band rows (``broadcast_batch=True``, the
    micro-batch contract — the store is scanned, never shuffled or
    sorted), and the intra-batch self-join touches only the batch's
    own band rows — so per-batch cost ∝ batch size plus one pruned
    index scan (the admission sink's bucketed layout bounds that
    scan; see ``NearDupAdmissionSink``); the foreachBatch body for
    keeping a 100 TB corpus near-dup-free at ingest. Pass
    ``batch_bands`` (precomputed, persisted ``minhash_band_rows`` of
    the batch) when the caller already needed them — e.g. to collect
    the touched-bucket filter — so the 64-hash signature pass runs
    once.
    """
    if batch_bands is None:
        # materialized: three consumers derive from the batch's band
        # rows (store join, intra-batch self-join ×2 sides,
        # new_bands) — the 64-hash signature pass should run once per
        # batch, not per use. Lifetime: the persist is released by
        # Spark's ContextCleaner once the returned frames go
        # unreachable (per-batch in a foreachBatch loop), same
        # contract as minhash_lsh_pairs' signature persist.
        batch_bands = _materialize(
            minhash_band_rows(
                new_docs, id_col, text_col, num_hashes, bands, shingle_k
            )
        )
    nb = batch_bands.select(
        F.col(id_col).alias("_new_id"), "band", "bhash"
    )
    store = band_store.select(
        F.col(id_col).alias("_corpus_id"), "band", "bhash"
    )
    nb_probe = F.broadcast(nb) if broadcast_batch else nb
    store_hits = (
        nb_probe.join(store, ["band", "bhash"])
        .select(
            F.col("_new_id").alias("new_id"),
            F.col("_corpus_id").alias("corpus_id"),
            F.lit("store").alias("src"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    # the self-join's build side is the same micro-batch — broadcast
    # it under the same contract as the store probe, so the whole
    # screen plans without any sort-merge exchange of band rows
    partner = nb.select(
        F.col("_new_id").alias("_partner_id"), "band", "bhash"
    )
    intra_hits = (
        nb.join(
            F.broadcast(partner) if broadcast_batch else partner,
            ["band", "bhash"],
        )
        .filter(F.col("_partner_id") < F.col("_new_id"))
        .select(
            F.col("_new_id").alias("new_id"),
            F.col("_partner_id").alias("corpus_id"),
            F.lit("batch").alias("src"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    candidates = store_hits.unionByName(intra_hits)
    clean = new_docs.join(
        candidates.select(F.col("new_id").alias(id_col)).distinct(),
        id_col,
        "left_anti",
    )
    new_bands = batch_bands.join(
        clean.select(id_col), id_col, "left_semi"
    )
    return clean, candidates, new_bands


def simhash(text: Column, shingle_k: int = 3) -> Column:
    """64-bit SimHash: bit j of the result is the sign of
    Σ_shingles (±1 depending on bit j of xxhash64(shingle)).

    Computed without explode: per-bit weighted sums via
    transform+aggregate over the shingle array, then bits packed
    into a bigint. Near-dup docs differ in few bits (Hamming)."""
    sh = shingles(text, k=shingle_k)
    hashes = F.transform(sh, lambda s: F.xxhash64(s))

    def bit_sum(j: int):
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    bit_sums = [bit_sum(j) for j in range(64)]
    return _pack_bits(bit_sums)


def _pack_bits(bit_sums: list[Column]) -> Column:
    """Pack sign bits into one long: bit j set iff bit_sums[j] > 0.
    ``shiftleft(bool, j)`` keeps each term a 3-node expression (the
    earlier CASE-with-big-literal form made the 64-term tree heavy
    enough that codegen compile dominated cold runs); j=63 wraps to
    Long.MIN_VALUE, which is exactly the sign bit."""
    out = F.lit(0).cast("long")
    for j, s in enumerate(bit_sums):
        out = out + F.shiftleft((s > 0).cast("long"), j)
    return out


#: 4 × 16-bit SIMD-in-a-register lanes: bits j, j+16, j+32, j+48 of a
#: hash extracted into independent 16-bit counters of one long.
_LANE_MASK = 0x0001000100010001


def simhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, simhash long) via explode + one codegen'd hash aggregate —
    the bulk/scale path; the Column-level ``simhash`` recomputes the
    shingle set per bit in interpreted lambdas and is only for small
    projections.

    The 64 per-bit ±1 sums are packed 4-to-a-long (16-bit lanes, see
    ``_LANE_MASK``): aggregate 16 lane-sums + 1 count instead of 64
    conditional sums — 4× less aggregation work per row. Bit j+16m is
    set iff its ones count c (lane m of ``_s{j}``) satisfies 2c > n,
    identical to sign(Σ±1).

    The majority test is ALSO done SWAR: per lane,
    ``c + (0x8000 − (⌊n/2⌋+1))`` leaves bit 15 of the lane set iff
    c ≥ ⌊n/2⌋+1 ⟺ 2c > n (lane values stay in [0x4000, 0xFFFE], so no
    cross-lane carry); mask the flag bits and shift into place. Only
    the low 3 lanes ride SWAR — the top lane's flag would be bit 63,
    and ANSI mode rejects the (intended, wrap-around) signed overflow
    of getting there, so lane 3 is compared as a scalar. 16 ten-node
    terms instead of the 64-term extract/compare/shift tree — cuts
    the janino codegen compile that dominated cold runs.

    Lane math is exact while every doc has < 32768 shingles (token
    shingles ⇒ docs < 32 Ki tokens); enforced by a runtime
    ``assert_true`` guard rather than a docstring promise — a doc at
    the limit would silently corrupt neighboring lanes.
    """
    exploded = shingle_hash_rows(
        df, id_col, text_col, k=shingle_k, hash_alias="_h"
    )
    sums = [
        F.sum(
            F.shiftright(F.col("_h"), j).bitwiseAND(F.lit(_LANE_MASK))
        ).alias(f"_s{j}")
        for j in range(16)
    ] + [F.count(F.lit(1)).alias("_n")]
    per_doc = exploded.groupBy("_id").agg(*sums)
    guard = F.assert_true(
        F.col("_n") < F.lit(32768),
        F.concat(
            F.lit("simhash lane overflow: document "),
            F.col("_id").cast("string"),
            F.lit(" has >= 32768 shingles; chunk it upstream"),
        ),
    )
    per_doc = per_doc.filter(guard.isNull())
    low_mask = F.lit(0x0000FFFFFFFFFFFF)  # lanes 0-2
    flag_mask_low = F.lit(0x0000800080008000)  # bit 15 of lanes 0-2
    t = F.shiftright(F.col("_n"), 1) + 1  # majority threshold ⌊n/2⌋+1 ≤ 16384
    adj_low = (F.lit(0x8000) - t) * F.lit(0x0000000100010001)
    out = F.lit(0).cast("long")
    for j in range(16):
        s = F.col(f"_s{j}")
        flags = (s.bitwiseAND(low_mask) + adj_low).bitwiseAND(flag_mask_low)
        c3 = F.shiftright(s, 48)  # top-lane count; s ≥ 0 so plain shift
        out = out.bitwiseOR(F.shiftrightunsigned(flags, 15 - j)).bitwiseOR(
            F.shiftleft((c3 >= t).cast("long"), j + 48)
        )
    return per_doc.select("_id", out.alias("_sh"))


def manku_table_keys(
    sig: DataFrame, max_hamming: int = 3, blocks: int = 6
) -> DataFrame:
    """(_id, _sh, _table, _key): one row per Manku permuted table per
    signature — the exploded probe/index format shared by the batch
    pair join (:func:`simhash_pairs_from_sigs`) and the streaming
    perceptual admission store (``streaming/enrich.py::
    PhashAdmissionSink``). The 64-bit hash is split into ``blocks``
    blocks; ≤ ``max_hamming`` differing bits dirty at most
    ``max_hamming`` blocks, so every qualifying pair agrees EXACTLY
    on some ``blocks − max_hamming``-subset — one table per subset,
    keyed on the subset's hashed block values."""
    from itertools import combinations

    if not 0 < blocks - max_hamming:
        raise ValueError("need blocks > max_hamming for the pigeonhole guarantee")
    sizes = [64 // blocks + (1 if i < 64 % blocks else 0) for i in range(blocks)]
    offs = [sum(sizes[:i]) for i in range(blocks)]

    def block(i: int) -> Column:
        # unsigned shift: the top block contains the sign bit
        return F.shiftrightunsigned(F.col("_sh"), offs[i]).bitwiseAND(
            F.lit((1 << sizes[i]) - 1)
        )

    tables = list(combinations(range(blocks), blocks - max_hamming))
    return sig.select(
        "_id",
        "_sh",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.lit(t), *[block(i) for i in combo])
                    for t, combo in enumerate(tables)
                ]
            )
        ).alias("_table", "_key"),
    )


def simhash_pairs_from_sigs(
    sig: DataFrame,
    max_hamming: int = 3,
    blocks: int = 6,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Pair stage of :func:`simhash_pairs` over a precomputed
    ``(_id, _sh)`` signature frame — split out so the candidate-join
    scaling can be tested on synthetic signatures without paying the
    shingle pipeline.

    Manku-style permuted tables (Manku, Jain, Sarma — "Detecting
    Near-Duplicates for Web Crawling", WWW'07): the 64-bit hash is
    split into ``blocks`` blocks; ≤ ``max_hamming`` differing bits
    dirty at most ``max_hamming`` blocks, so every qualifying pair
    agrees EXACTLY on some ``blocks − max_hamming``-subset of blocks —
    one table per such subset (C(6,3) = 20 tables at the defaults),
    keyed on the subset's concatenated block values (~32 bits at the
    defaults). vs. the naive 4×16-bit pigeonhole: random signatures
    collide per table at n²/2^32, not n²/2^16 — at 10⁹ docs that is
    the difference between ~10⁸ accidental candidates per table
    (absorbable) and ~10¹³ (quadratic death). The cost is tables×n
    slim rows (id + two longs) through the explode, linear in n.

    ``max_bucket_size`` is the skew guard (same contract as
    ``ngram_jaccard_pairs.max_doc_freq``): a (table, key) bucket
    holding b rows contributes b·(b−1)/2 join rows, so one viral
    template family — which agrees on EVERY block, hence floods every
    table — would alone re-create the quadratic. Oversized buckets
    are dropped before the self-join; a true pair is lost only if ALL
    of its clean-block tables are oversized, i.e. only inside a
    ≥cap-sized mutual near-dup family, which exact/minhash dedup
    upstream should have collapsed anyway. ``None`` disables.
    """
    from pyspark.sql import Window

    keyed = manku_table_keys(sig, max_hamming=max_hamming, blocks=blocks)
    if max_bucket_size is not None:
        # materialized: the guarded frame feeds BOTH join sides, and
        # Spark re-executes common subplans per consumer — without
        # this the explode+window pipeline runs twice. The cached
        # blocks keep the window's (_table, _key) clustering, so the
        # self-join consumes them with no further exchange.
        keyed = _materialize(
            keyed.withColumn(
                "_bs", F.count(F.lit(1)).over(Window.partitionBy("_table", "_key"))
            )
            .filter(F.col("_bs") <= max_bucket_size)
            .drop("_bs")
        )
    l = keyed.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sh_a"), "_table", "_key")
    r = keyed.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sh_b"), "_table", "_key")
    hamming = F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b")))
    # shuffle fewer bytes: the Hamming test runs BEFORE the
    # pair-dedup exchange — hamming is a pure function of
    # the pair (every duplicate candidate row carries the same
    # signatures), so filtering first drops whole duplicate groups
    # and the dropDuplicates shuffle carries only TRUE pairs instead
    # of every accidental table collision. Output identical.
    return (
        l.join(r, ["_table", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int = 6,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Signatures via :func:`simhash_signatures_df` (SWAR codegen
    aggregate), candidates via :func:`simhash_pairs_from_sigs`
    (Manku permuted-table equi-join, ~32-bit keys, bucket-size skew
    guard), then the exact ``bit_count(xor)`` Hamming filter. No
    cross join at any scale.
    """
    sig = _materialize(simhash_signatures_df(df, id_col, text_col))
    return simhash_pairs_from_sigs(sig, max_hamming, blocks, max_bucket_size)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    min_jaccard: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity for candidate pairs.

    Plan: explode distinct shingle hashes → frequent-shingle pruning →
    self-join on shingle (inverted index) → count common shingles per
    pair → Jaccard = common / (|A| + |B| − common).

    ``max_doc_freq`` is the scale guard: a shingle appearing in more
    than that many documents (viral boilerplate) is dropped BEFORE the
    self-join — one such shingle in d docs would alone contribute
    d·(d−1)/2 join rows, the quadratic blowup that kills an inverted-
    index join at 100 TB. Set sizes ``_n`` are counted AFTER pruning,
    so the Jaccard stays exact over the surviving (discriminative)
    shingle sets; near-dup pairs share mostly rare shingles, so with a
    generous cap results are unchanged on realistic corpora (pinned
    exact on the testdata in tests). ``None`` disables pruning.
    """
    from pyspark.sql import Window

    dist = shingle_hash_rows(df, id_col, text_col, k=shingle_k).dropDuplicates(
        ["_id", "_g"]
    )
    if max_doc_freq is not None:
        dist = (
            dist.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("_g"))
            )
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
        )
    sized = _materialize(
        dist.select(
            "_id", F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_n"), "_g"
        )
    )
    l = sized.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na"), "_g")
    r = sized.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb"), "_g")
    common = (
        l.join(r, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    jac = F.col("_common").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_common")
    ).cast("double")
    return (
        common.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    min_containment: float = 0.9,
    max_doc_freq: int | None = 1000,
    shingle_key: str = "md5",
) -> DataFrame:
    """EXACT n-gram CONTAINMENT (Broder 1997's asymmetric resemblance
    companion): for each candidate pair, C(A→B) = |A∩B| / |A| over
    the distinct-shingle sets. Catches what symmetric Jaccard
    structurally misses — a short document fully quoted inside a much
    longer one has containment 1.0 but Jaccard ≈ |A|/|B| ≈ 0 —
    i.e. subset/quotation/wrapper relations, the common shape of
    boilerplate-wrapped re-posts in a crawl.

    Output: (id_a, id_b, n_a, n_b, common, cont_a_in_b, cont_b_in_a)
    for id_a < id_b where EITHER direction ≥ ``min_containment``.
    Shingle semantics match functions/text.py::shingles exactly,
    via the shared ``shingle_string_rows`` helper (n ≥ k → all
    k-gram windows; 0 ≤ n < k → one whole-doc shingle, including the
    empty-string sentinel — two empty docs pair at containment 1.0
    here just as they pair in the minhash/simhash/Jaccard ops).

    Cross-engine exactness: by default shingles key on their md5 HEX
    string (not xxhash64, which DuckDB cannot reproduce) — this is
    the fuzzy-dedup family's one RAW pair op with a full value-level
    oracle instead of a planted-copy audit. ``max_doc_freq`` is the
    same viral-shingle guard as ``ngram_jaccard_pairs`` (set sizes
    counted AFTER pruning, so the surviving-set containment stays
    exact); the inverted-index join shuffles (id, 32-byte md5) rows
    only — at 100 TB the same plan with the join key narrowed to 16
    bytes of the digest is the standard trade.

    ``shingle_key`` (narrower types, fewer shuffled bytes): every
    OUTPUT column of this op depends only on shingle-set IDENTITY
    (distinct counts, intersections, the df cap) — never on the key's VALUE — so any injective keying of the
    shingle token sequence yields identical rows. ``"xxh64"`` keys on
    the rolled 8-byte xxhash64 (``shingle_hash_rows``): the shingle
    STRING is never built, the dedup/cap/index-join shuffles carry an
    8-byte long instead of a 32-byte hex string, and the whole
    pipeline stays codegen. Collision risk is the same 64-bit
    argument every xxhash64 dedup op here already makes. Reserved
    for ROWS-ONLY declared paths (``dedup_containment_repr``); the
    value-oracled queries keep ``"md5"``, whose computation the
    DuckDB oracle mirrors operation-for-operation (row-identity of
    the two modes is pinned in tests/test_containment.py).

    Quadratic-output caveat (inherent to ALL raw pair ops here, same
    as ``minhash_lsh_pairs`` and winnow — measured on the 100×
    rehearsal's ~100-member planted families): a b-member near-dup
    family whose per-doc shingle count is s emits ~s·b(b−1)/2 join
    rows, UNDER the viral cap when b < max_doc_freq. On family-heavy
    corpora collapse families FIRST (star-LSH → CC → representatives,
    the queries/dedup.py pipeline pattern) and run containment on
    the survivors — cross-family subset relations are preserved."""
    from pyspark.sql import Window

    if shingle_key == "xxh64":
        dist = shingle_hash_rows(
            df, id_col, text_col, k=shingle_k, hash_alias="_g"
        ).dropDuplicates(["_id", "_g"])
    elif shingle_key == "md5":
        dist = (
            shingle_string_rows(df, id_col, text_col, k=shingle_k)
            .select("_id", F.md5("_sh").alias("_g"))
            .dropDuplicates(["_id", "_g"])
        )
    else:
        raise ValueError(
            f"shingle_key={shingle_key!r}: expected 'md5' or 'xxh64'"
        )
    if max_doc_freq is not None:
        viral = (
            dist.groupBy("_g")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("_g")
        )
        dist = dist.join(F.broadcast(viral), "_g", "left_anti")
    sized = _materialize(
        dist.select(
            "_id",
            F.count(F.lit(1)).over(Window.partitionBy("_id")).alias("_n"),
            "_g",
        )
    )
    l = sized.select(F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), "_g")
    r = sized.select(F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), "_g")
    common = (
        l.join(r, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = F.round(F.col("common").cast("double") / F.col("n_a").cast("double"), 6)
    cb = F.round(F.col("common").cast("double") / F.col("n_b").cast("double"), 6)
    return (
        common.select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            "common",
            ca.alias("cont_a_in_b"),
            cb.alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= min_containment)
            | (F.col("cont_b_in_a") >= min_containment)
        )
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold, LSH-bucketed.

    Same hyperplane bucketing as ``knn_lsh``: candidates share a
    signature bucket; exact cosine verifies. Shuffle ∝ collisions.
    """
    from tidb_cdc_spark.functions.similarity import lsh_signature

    d = df.select(F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v"))
    sig = _materialize(d.withColumn("_sig", lsh_signature(F.col("_v"), dim, n_planes)))
    l = sig.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_sig")
    r = sig.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_sig")
    return (
        l.join(r, "_sig")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos") >= min_cosine)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
