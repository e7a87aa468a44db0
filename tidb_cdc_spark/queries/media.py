"""Multimodal queries: container probes, image/audio/video decode,
perceptual hashes, frame plans and the media/audio/video curation
pipelines, as fully value-oracled audits.

Strategy: plant REAL container or codec bytes whose header fields and
pixels derive from the id by fixed integer formulas
(``functions/media_synth.py::synth_*``), run the REAL Arrow-batched
probe or decode (``probe_media``/``decode_pixels`` under
``mapInPandas``), and compare the RECOVERED values against a DuckDB
oracle computing the same formulas. A parser or codec regression
changes a recovered value and fails the value hash.

Most audits share one scaffold: ``_plant`` builds the planted
clusters ``pid = doc_id % m`` with per-variant columns,
``_cluster_audit`` turns their hashes into the near-dup scorecard,
``_curation_pipeline``/``_curation_provenance`` run the exact→fuzzy
funnel, and ``_hash_sql``/``_frame_sql`` are the matching oracles.

Scale shape: the synth→decode→hash chain is one Arrow-batched linear
pass per consumer (materialized to run once); hashes are a few bytes
per row and pixels never shuffle. Lossy VP8/H.264/MP3 remain codec
territory (guarded PIL branch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import media_hash as mh
from tidb_cdc_spark.functions.clusters import cluster_representatives
from tidb_cdc_spark.functions.media_probe import (
    extract_features,
    frame_sample_plan,
    probe_media,
)
from tidb_cdc_spark.functions.media_synth import (
    CODEC_LEGS,
    PNG_DEEP_LEGS,
    synth_anim_probe_media,
    synth_apng_anim_media,
    synth_audio_probe_media,
    synth_avi_media,
    synth_bmp_block16_media,
    synth_bmp_pixel_media,
    synth_codec_pixel_media,
    synth_container_media,
    synth_gif_anim_media,
    synth_image_media,
    synth_mjpeg_avi_media,
    synth_wav_pcm_media,
    synth_wav_windowed_media,
    synth_webp_anim_media,
)
from tidb_cdc_spark.queries.corpus import _docs
from tidb_cdc_spark.session import materialize


# ------------------------------------------------ planted clusters
#: the planted 8-bit pattern byte of cluster ``pid``
_PATTERN = "1 + pid % 254"
#: hash-identical frames, variant 2 trimmed by one frame and shifted
_TRIM_SHIFT = {"base": "pid", "skip": (0, 0, 1), "shift": (0, 0, 20)}


def _plant(
    spark: SparkSession, sf_dir: str, m: int | None = None, **cols
) -> DataFrame:
    """The one read of the documents table behind every media plant:
    the non-negative document ids as ``media_id``.

    The planted-value contract is defined on non-negative ids:
    Python's % (synth side) returns a non-negative residue while
    Spark/DuckDB % follow the dividend's sign, and the 16-bit header
    packs would reject a negative field — the filter makes the domain
    explicit on BOTH engines instead of incidental.

    With a modulus ``m`` the frame also carries the cluster id
    ``pid = doc_id % m`` and one column per keyword: a string is a SQL
    expression over ``pid``; a tuple of k values is indexed by the
    row's variant ``(doc_id div m) % k``."""
    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(F.col("doc_id").alias("media_id"))
    )
    if m is None:
        return ids
    variant = F.expr(f"media_id div {m}")
    return ids.select("media_id", (F.col("media_id") % m).alias("pid")).select(
        "*",
        *[
            (
                F.expr(c)
                if isinstance(c, str)
                else F.element_at(
                    F.array(*map(F.lit, c)), (variant % len(c) + 1).cast("int")
                )
            ).alias(name)
            for name, c in cols.items()
        ],
    )


def _bmp_plant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``multimodal_phash_audit`` plant: cluster ``pid = doc_id %
    101``; variants 0/1 plant byte-identical BMPs of the pid's 8×8
    block pattern, variant 2 a +20 uniform-brightness shift of it."""
    return _plant(spark, sf_dir, 101, pattern=_PATTERN, shift=(0, 0, 20))


def _avi_plant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``multimodal_video_audit`` plant: cluster ``pid = doc_id %
    101``; variants 0/1 byte-identical 8-frame AVIs, variant 2 a
    trim(first frame)+shift(+20) copy."""
    return _plant(spark, sf_dir, 101, **_TRIM_SHIFT)


def _wav_plant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``multimodal_audio_trim_audit`` plant: cluster ``pid =
    doc_id % 101``; variants 0/1 byte-identical 8-window WAVs,
    variant 2 a trim(2 windows)+regain(×3) copy."""
    return _plant(spark, sf_dir, 101, base="pid", skip=(0, 0, 2), gain=(1, 1, 3))


#: multi-row hash columns: the row unit and its containment join
_ROWS = {
    "fhash": ("frame", mh.video_near_dup_pairs),
    "whash": ("window", mh.audio_near_dup_pairs),
}


def _pairs(hashes: DataFrame, hash_col: str, cap: int | None) -> DataFrame:
    """Near-dup pairs over materialized hash rows: a one-per-media
    hash pairs through the Manku banded join at Hamming ≤ 3, frame and
    window hash rows through the inverted-index join on ≥ 4 shared
    hashes. ``cap`` is the join's bucket-size / hash-frequency guard
    (None: uncapped)."""
    if hash_col in _ROWS:
        return _ROWS[hash_col][1](hashes, "media_id", 4, cap)
    return mh.phash_near_dup_pairs(
        hashes, hash_col=hash_col, max_hamming=3, max_bucket_size=cap
    )


def _cluster_audit(
    planted: DataFrame,
    hashes: DataFrame,
    hash_cols: tuple[str, ...] = ("ahash", "dhash"),
    n_codecs: bool = False,
    probed: DataFrame | None = None,
) -> DataFrame:
    """The one scorecard of the planted-cluster audits, over
    ``hashes`` (the hash pass over the plant's synth) joined to the
    plant's ``pid``. That frame is materialized: it feeds three
    aggregate consumers (the global scorecard, the per-cluster
    variant counts, the pair join), and without the persist the
    synth→decode→hash Arrow chain runs once per consumer. Its rows
    are a few bytes each; the payloads are already gone.

    Columns: ``n_media``, ``n_clusters``, then ``n_<unit>_rows`` for
    frame/window hash rows, ``n_codecs`` (distinct planted ``codec``)
    when asked, ``distinct_<first hash>``; for one-per-media hashes
    ``max_cluster_<hash>_variants`` per hash column; then
    ``neardup_pairs`` — uncapped, because the planted clusters ARE
    the duplicate families being measured — and, given ``probed``,
    ``total_duration_ms`` summed over what the real header parse
    recovered (a second read of the payloads: the parse is what is
    under oracle there)."""
    first = hash_cols[0]
    keep = ["media_id", "pid"] + (["codec"] if n_codecs else [])
    h = materialize(hashes.join(planted.select(*keep), "media_id"))
    if first in _ROWS:
        head = [
            F.countDistinct("media_id").alias("n_media"),
            F.countDistinct("pid").alias("n_clusters"),
            F.count(F.lit(1)).alias(f"n_{_ROWS[first][0]}_rows"),
        ]
    else:
        head = [
            F.count(F.lit(1)).alias("n_media"),
            F.countDistinct("pid").alias("n_clusters"),
        ]
    if n_codecs:
        head.append(F.countDistinct("codec").alias("n_codecs"))
    card = h.agg(*head, F.countDistinct(first).alias(f"distinct_{first}"))
    if first not in _ROWS:
        per_cluster = h.groupBy("pid").agg(
            *[F.countDistinct(c).alias(f"_{c}") for c in hash_cols]
        )
        card = card.crossJoin(
            F.broadcast(
                per_cluster.agg(
                    *[
                        F.max(f"_{c}").cast("long").alias(f"max_cluster_{c}_variants")
                        for c in hash_cols
                    ]
                )
            )
        )
    pairs = _pairs(h, first, None)
    card = card.crossJoin(
        F.broadcast(pairs.agg(F.count(F.lit(1)).alias("neardup_pairs")))
    )
    if probed is None:
        return card
    dur = probed.agg(F.sum("duration_ms").cast("long").alias("total_duration_ms"))
    return card.crossJoin(F.broadcast(dur))


def _hash_sql(
    m: int, hashes: tuple[str, ...] = ("ahash", "dhash"), legs: int = 0
) -> str:
    """Oracle of a one-hash-per-media cluster audit. Every planted
    hash is injective across the clusters ``pid = doc_id % m``,
    invariant within one, and any two clusters' hashes lie more than
    τ = 3 bits apart, so distinct = n_clusters, every per-cluster
    variant count is 1 and the τ=3 pairs are exactly the
    within-cluster ones, Σ C(n_pid, 2). ``legs`` adds the codec-leg
    count of a plant whose variant ``(doc_id // m) % legs`` picks the
    codec."""
    leg = f", (doc_id // {m}) % {legs} AS leg" if legs else ""
    n_codecs = (
        "       CAST((SELECT COUNT(DISTINCT leg) FROM m) AS BIGINT) AS n_codecs,\n"
        if legs
        else ""
    )
    variants = "".join(
        f"       CAST(1 AS BIGINT) AS max_cluster_{h}_variants,\n" for h in hashes
    )
    return f"""
WITH m AS (
  SELECT doc_id % {m} AS pid{leg}
  FROM documents WHERE doc_id >= 0
), c AS (
  SELECT pid, COUNT(*) AS n FROM m GROUP BY pid
)
SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_media,
       CAST((SELECT COUNT(DISTINCT pid) FROM m) AS BIGINT) AS n_clusters,
{n_codecs}       CAST((SELECT COUNT(DISTINCT pid) FROM m) AS BIGINT) AS distinct_{hashes[0]},
{variants}       CAST((SELECT SUM(n * (n - 1) // 2) FROM c) AS BIGINT) AS neardup_pairs
"""


def _frame_sql(m: int, duration: str | None = None) -> str:
    """Oracle of a trimmed-copy frame audit over clusters ``pid =
    doc_id % m``: trimmed members (variant 2) carry 7 frames, the
    others 8; a cluster's distinct frame hashes are 8 iff any member
    is untrimmed (frame words are disjoint across clusters), and
    every within-cluster pair shares ≥ 7 ≥ 4 of them. ``duration`` is
    the per-media duration formula over ``trimmed``."""
    dur = (
        f",\n       CAST((SELECT SUM({duration}) FROM m) AS BIGINT)"
        "\n            AS total_duration_ms"
        if duration
        else ""
    )
    return f"""
WITH m AS (
  SELECT doc_id % {m} AS pid,
         CASE WHEN (doc_id // {m}) % 3 = 2 THEN 1 ELSE 0 END AS trimmed
  FROM documents WHERE doc_id >= 0
), c AS (
  SELECT pid, COUNT(*) AS n, MIN(trimmed) AS min_tr FROM m GROUP BY pid
)
SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_media,
       CAST((SELECT COUNT(DISTINCT pid) FROM m) AS BIGINT) AS n_clusters,
       CAST((SELECT SUM(8 - trimmed) FROM m) AS BIGINT) AS n_frame_rows,
       CAST((SELECT SUM(CASE WHEN min_tr = 0 THEN 8 ELSE 7 END) FROM c)
            AS BIGINT) AS distinct_fhash,
       CAST((SELECT SUM(n * (n - 1) // 2) FROM c) AS BIGINT) AS neardup_pairs{dur}
"""


# ------------------------------------------------ curation funnels
def _fuzzy_reps(survivors: DataFrame, hash_fn, hash_col: str) -> DataFrame:
    """Connected-component representatives of the fuzzy stage over
    the exact-dedup survivors only (their hash rows materialized:
    pairs and nodes both read them). Production path ⇒ the CAPPED
    default (1000): survivor families are ≤ 2 per cluster by the
    plant construction — asserted in tests/test_curation.py — and
    what a cap would exclude is never silent (the ``*_cap_report``
    queries)."""
    h = materialize(hash_fn(survivors))
    ids = h.select(F.col("media_id").alias("doc_id"))
    return cluster_representatives(
        ids.distinct() if hash_col in _ROWS else ids, _pairs(h, hash_col, 1000)
    )


def _curation_pipeline(
    media: DataFrame, hash_fn, hash_col: str, stage: str
) -> DataFrame:
    """The composed funnel's scorecard: ``n_media``, ``after_exact``
    (one min-id representative per payload sha2 — 32 B digests
    through the shuffle, never payloads; materialized, since the
    survivor set feeds the fuzzy stage AND the scorecard) and
    ``stage`` (fuzzy-cluster representatives among the survivors)."""
    exact_reps = materialize(
        media.groupBy(F.sha2("payload", 256).alias("_digest"))
        .agg(F.min("media_id").alias("media_id"))
        .select("media_id")
    )
    survivors = media.join(exact_reps, "media_id", "left_semi")
    reps = _fuzzy_reps(survivors, hash_fn, hash_col)
    n_exact = exact_reps.agg(F.count(F.lit(1)).alias("after_exact"))
    n_fuzzy = reps.filter("is_representative").agg(F.count(F.lit(1)).alias(stage))
    return (
        media.agg(F.count(F.lit(1)).alias("n_media"))
        .crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_fuzzy))
    )


def _curation_provenance(
    media: DataFrame, hash_fn, hash_col: str, dropped: str
) -> DataFrame:
    """The funnel with per-media outcomes kept: (media_id, outcome,
    exact_rep, canonical_id). ``exact_rep`` is the min-id keeper of
    the media's byte-identical sha2 class; ``canonical_id`` is its
    fuzzy cluster's representative — TRANSITIVE, since the exact rep
    may itself lose the fuzzy stage (``dropped``). Every media's
    exact rep IS a survivor, so the final join covers all."""
    digests = materialize(
        media.select("media_id", F.sha2("payload", 256).alias("_digest"))
    )
    reps = digests.groupBy("_digest").agg(F.min("media_id").alias("_rep"))
    rep_map = digests.join(reps, "_digest").select("media_id", "_rep")
    survivors = media.join(
        rep_map.filter(F.col("media_id") == F.col("_rep")),
        "media_id",
        "left_semi",
    )
    cr = _fuzzy_reps(survivors, hash_fn, hash_col).select(
        F.col("doc_id").alias("_rep"),
        F.col("cluster_id").alias("canonical_id"),
        "is_representative",
    )
    return (
        rep_map.join(cr, "_rep")
        .select(
            "media_id",
            F.when(F.col("media_id") != F.col("_rep"), F.lit("dropped_exact_dup"))
            .when(~F.col("is_representative"), F.lit(dropped))
            .otherwise(F.lit("kept"))
            .alias("outcome"),
            F.col("_rep").alias("exact_rep"),
            "canonical_id",
        )
        .orderBy("media_id")
    )


def _curation_sql(variant: str, value: int, scale: int, stage: str) -> str:
    """Oracle of a curation funnel's scorecard over cluster ``pid =
    doc_id % 101`` whose variant 2 carries ``variant = value`` (0
    otherwise): the exact stage keeps one payload class per (pid,
    variant), the fuzzy ``stage`` one per pid."""
    return f"""
WITH m AS (
  SELECT doc_id % 101 AS pid,
         CASE WHEN (doc_id // 101) % 3 = 2 THEN {value} ELSE 0 END AS {variant}
  FROM documents WHERE doc_id >= 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(COUNT(DISTINCT pid * {scale} + {variant}) AS BIGINT) AS after_exact,
       CAST(COUNT(DISTINCT pid) AS BIGINT) AS {stage}
FROM m
"""


def _provenance_sql(variant: str, value: int, dropped: str) -> str:
    """Oracle of a curation funnel's provenance over the same plant:
    exact classes are (pid, ``variant``) with min-id reps, fuzzy
    clusters are pid with min-id canonicals — and the pid minimum
    (variant 0) is necessarily its own exact rep, so one hop resolves
    transitively."""
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 101 AS pid,
         CASE WHEN (doc_id // 101) % 3 = 2 THEN {value} ELSE 0 END AS {variant}
  FROM documents WHERE doc_id >= 0
), e AS (
  SELECT media_id,
         MIN(media_id) OVER (PARTITION BY pid, {variant}) AS exact_rep,
         MIN(media_id) OVER (PARTITION BY pid) AS canonical_id
  FROM m
)
SELECT media_id,
       CASE WHEN media_id <> exact_rep THEN 'dropped_exact_dup'
            WHEN media_id <> canonical_id THEN '{dropped}'
            ELSE 'kept' END AS outcome,
       CAST(exact_rep AS BIGINT) AS exact_rep,
       CAST(canonical_id AS BIGINT) AS canonical_id
FROM e ORDER BY media_id
"""


# ------------------------------------------- multimodal feature pass
def multimodal_doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-cast as a media table (payload = UTF-8 bytes,
    metadata first / bytes last) pushed through the REAL multimodal
    path: Arrow-batched ``mapInPandas`` decode → small typed feature
    rows (sha256, byte count, stub-decoded dimensions). The decode
    stub derives dimensions from the payload hash, so the whole
    output — including the fake dims — is oracle-checkable."""
    d = _docs(spark, sf_dir)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("text/plain").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return extract_features(media).orderBy("media_id")


def _hex_byte(sql_expr: str, pos: int) -> str:
    """DuckDB int value of hex chars [pos, pos+1] (1-based) of a hex
    string — mirrors ``hashlib.sha256(...).digest()[i]``."""
    c1 = f"substr({sql_expr}, {pos}, 1)"
    c2 = f"substr({sql_expr}, {pos + 1}, 1)"
    return (
        f"((strpos('0123456789abcdef', {c1}) - 1) * 16"
        f" + (strpos('0123456789abcdef', {c2}) - 1))"
    )


_MULTIMODAL_SQL = f"""
SELECT doc_id AS media_id, 'image' AS kind,
       sha256(text) AS sha256,
       octet_length(encode(text)) AS n_bytes,
       64 + ({_hex_byte('sha256(text)', 1)} % 64) AS feat_width,
       64 + ({_hex_byte('sha256(text)', 3)} % 64) AS feat_height
FROM documents
ORDER BY media_id
"""


def _probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return probe_media(synth_container_media(_plant(spark, sf_dir)))


def multimodal_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-container probe: every document id gets real WAV/MP4
    header bytes (formula-valued fields, v0 AND v1 mvhd layouts, the
    64-bit duration path included), and the output is what the REAL
    parsers recovered — mime + duration_ms per media row. Exact
    value oracle: DuckDB computes the same integer formulas; any
    divergence in the chunk walk / box walk / byte order flips the
    hash."""
    return _probed(spark, sf_dir).select(
        "media_id",
        "kind",
        "mime",
        "duration_ms",
    ).orderBy("media_id")


_PROBE_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'video' END AS kind,
       CASE WHEN doc_id % 2 = 0 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime,
       CAST(CASE
         WHEN doc_id % 2 = 0 THEN
           ((16000 + (doc_id % 1000) * 16) * 1000)
             // (8000 + (doc_id % 32) * 250)
         WHEN doc_id % 4 = 1 THEN
           ((2400 + (doc_id % 3000)) * 1000) // (600 + (doc_id % 400))
         ELSE
           ((8589934592 + (doc_id % 3000)) * 1000)
             // (600 + (doc_id % 400))
       END AS BIGINT) AS duration_ms
FROM documents
WHERE doc_id >= 0
ORDER BY media_id
"""


def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe → frame-sample composition: the v0 videos' PROBED
    durations feed ``frame_sample_plan`` (pure codegen sequence/
    explode — one row per 250 ms sampling timestamp), the plan a
    frame-extraction fleet would join against the decoder. Restricted
    to the version-0 plants (id%4==1, durations 2.4-9 s ⇒ 9-36
    frames each); the v1 plants carry deliberately astronomical
    64-bit durations that exist to exercise the parser, not to be
    exploded. Fully value-oracled: frame counts and timestamps
    derive from the recovered durations."""
    v0 = _probed(spark, sf_dir).filter(F.col("media_id") % 4 == 1)
    return frame_sample_plan(v0, every_ms=250).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    ).orderBy("media_id", "frame_ts_ms")


_FRAME_SQL = """
WITH v AS (
  SELECT doc_id AS media_id,
         CAST(((2400 + (doc_id % 3000)) * 1000)
              // (600 + (doc_id % 400)) AS BIGINT) AS dms
  FROM documents WHERE doc_id % 4 = 1 AND doc_id >= 0
)
SELECT media_id, CAST(i * 250 AS BIGINT) AS frame_ts_ms
FROM (
  SELECT media_id, unnest(range(0, greatest(dms // 250, 1))) AS i
  FROM v
)
ORDER BY media_id, frame_ts_ms
"""


def multimodal_image_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-image probe — the image counterpart of
    ``multimodal_probe_audit``: every document id gets real
    PNG/GIF/BMP-core/BMP-info/JPEG header bytes
    (``synth_image_media`` — formula-valued dims, both GIF magics,
    both DIB header layouts incl. negative top-down heights, a JPEG
    fill-byte run), and the output is what ``parse_image_header``
    recovered through the real Arrow-batched probe — mime + width +
    height per row. Exact value oracle: DuckDB computes the same
    integer formulas; any divergence in endianness, header-size
    branch, abs(), or the marker scan flips the hash."""
    return (
        probe_media(synth_image_media(_plant(spark, sf_dir)))
        .select("media_id", "mime", "width", "height")
        .orderBy("media_id")
    )


_IMAGE_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 5
         WHEN 0 THEN 'image/png'
         WHEN 1 THEN 'image/gif'
         WHEN 4 THEN 'image/jpeg'
         ELSE 'image/bmp'
       END AS mime,
       CAST(16 + doc_id % 60000 AS INT) AS width,
       CAST(16 + doc_id % 40000 AS INT) AS height
FROM documents
WHERE doc_id >= 0
ORDER BY media_id
"""


def multimodal_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup over the opaque binary column — the
    image-corpus dedup pass a LAION-scale crawl runs before any
    decode fleet: ONE hash groupBy on ``sha2(payload, 256)``, fully
    JVM-side (binary hashing is a codegen builtin — the only Python
    is the sanctioned planted synth). Duplicates are planted by
    folding ids mod 211 before the synth, so every payload is a pure
    function of ``doc_id % 211`` and the true unique count per mime
    is computable by ANY engine from the formulas — while the Spark
    side counts distinct ACTUAL payload digests, grouped by the
    mime the REAL probe recovered from the bytes (the plant leaves
    all metadata NULL). A synth nondeterminism, a hash collision in
    the plant space, a parser mis-sniff, or a groupBy that conflates
    distinct byte strings flips the value hash. Output:
    (mime, n_media, n_unique) — the dedup scorecard (total vs
    surviving representatives)."""
    media = probe_media(synth_image_media(_plant(spark, sf_dir, 211), "pid"))
    return (
        media.groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.countDistinct(F.sha2("payload", 256)).alias("n_unique"),
        )
        .orderBy("mime")
    )


# the mime is recovered from the planted layout class (pid % 5) and
# every payload is a pure injective function of pid (w = 16 + pid
# % 60000 differs for every pid < 211), so n_unique per mime is
# exactly the distinct pid count in that class
_DEDUP_SQL = """
WITH m AS (
  SELECT doc_id % 211 AS pid,
         CASE (doc_id % 211) % 5
           WHEN 0 THEN 'image/png'
           WHEN 1 THEN 'image/gif'
           WHEN 4 THEN 'image/jpeg'
           ELSE 'image/bmp'
         END AS mime
  FROM documents
  WHERE doc_id >= 0
)
SELECT mime,
       COUNT(*) AS n_media,
       COUNT(DISTINCT pid) AS n_unique
FROM m
GROUP BY mime
ORDER BY mime
"""


def multimodal_phash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup over REAL decoded pixels — the fuzzy twin
    of ``multimodal_dedup_audit`` and the op a LAION-scale image
    pipeline runs after exact payload dedup: decode uncompressed-BMP
    pixel rows in pure Python inside the sanctioned Arrow pass
    (``decode_bmp_pixels``), compute aHash/dHash (``ahash64`` /
    ``dhash64``), and find Hamming-≤3 pairs with the SAME Manku
    banded join the text SimHash uses (``phash_near_dup_pairs``).

    Planted-transform oracle: cluster ``pid = doc_id % 101``;
    variants 0/1 plant byte-identical BMPs, variant 2 plants a +20
    uniform-brightness shift of the same pattern (different BYTES,
    same pixels up to shift). The synth's 8×8 block pattern makes
    ``ahash64`` provably the pattern byte's bits replicated across
    the 64 cells (see ``synth_bmp_pixel_media`` — injective per
    cluster, ≥8-bit Hamming margin across clusters, δ-invariant
    within), so every output column is derivable from id arithmetic
    alone:

    - ``distinct_ahash = n_clusters`` fails if the decode →
      downsample → threshold chain is shift-variant OR collides
      across clusters;
    - ``max_cluster_*_variants = 1`` fails if either hash varies
      within a cluster (dHash's shift invariance is under the oracle
      here even though its global distinctness is pinned in tests —
      it is not injective over the pattern family by design);
    - ``neardup_pairs = Σ C(m_pid, 2)`` fails if the banded join
      misses a true pair or admits a cross-cluster one (the ≥8-bit
      margin guarantees none exist at τ=3).
    """
    planted = _bmp_plant(spark, sf_dir)
    media = synth_bmp_pixel_media(planted, "media_id")
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def media_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAION-shape media curation pipeline as ONE composed,
    fully value-oracled query — the media twin of
    ``corpus_curation_pipeline``: exact payload dedup (JVM sha2
    min-id representative) → perceptual near-dup collapse over the
    SURVIVORS (real pixel decode → aHash → Manku banded pairs →
    hash-min connected components → min-id representative) →
    per-stage scorecard. This is the composition a crawl actually
    runs: exact dedup first (cheap, catches byte-identical copies),
    perceptual second over the orders-of-magnitude-smaller survivor
    set (catches re-encoded/shifted copies exact hashing cannot).

    Plant: the ``multimodal_phash_audit`` structure (cluster
    ``pid = doc_id % 101``; byte-identical twins within (pid, δ);
    δ=+20 brightness-shifted copies across variants), so both stage
    outputs derive from id arithmetic: ``after_exact`` = distinct
    (pid, δ) payload classes, ``after_perceptual`` = distinct pid
    (shift-invariant aHash + the ≥8-bit cross-cluster margin make
    perceptual families exactly the pid clusters).

    Scale shape: stage 1 shuffles 32 B digests (never payloads);
    stage 2 runs on the deduped survivor set — pairs are banded
    (linear), CC is the checkpoint-truncated hash-min loop over
    nodes-in-pairs only. No Python past the sanctioned synth/hash
    Arrow passes."""
    media = synth_bmp_pixel_media(_bmp_plant(spark, sf_dir), "media_id")
    return _curation_pipeline(
        media, mh.perceptual_hashes, "ahash", "after_perceptual"
    )


def media_curation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance for the media curation funnel — the
    media twin of ``corpus_curation_provenance``: ONE row per input
    media naming the stage that dropped it and where its content
    lives now: ``exact_rep`` (the min-id keeper of its byte-identical
    sha2 class) and ``canonical_id`` (the TRANSITIVE representative —
    the exact rep may itself lose the perceptual stage, so the
    canonical is its perceptual cluster's min id; dedup tooling
    needs the transitive answer to rewrite references).

    Plant: the ``media_curation_pipeline`` structure (cluster
    ``pid = doc_id % 101``, byte-identical twins within (pid, δ),
    δ=+20 shifted copies across variants), so both representatives
    derive from id arithmetic: ``exact_rep`` = min id of the
    (pid, δ) class, ``canonical_id`` = min id of the pid cluster
    (the pid minimum is necessarily also its own exact rep, so the
    transitive chain is exactly one hop here — asserted by the
    oracle equality itself).

    Scale shape: digests and 24 B hash rows through the shuffles,
    payloads never; output corpus-sized BY DESIGN (the audit
    artifact, a write job at 100 TB)."""
    media = synth_bmp_pixel_media(_bmp_plant(spark, sf_dir), "media_id")
    return _curation_provenance(
        media, mh.perceptual_hashes, "ahash", "dropped_perceptual_dup"
    )


def audio_curation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance for the AUDIO curation funnel —
    completing the provenance triple exactly as
    ``video_curation_pipeline`` completed the scorecard triple: ONE
    row per input clip with (outcome, exact_rep, canonical_id),
    where the fuzzy stage is the trim-robust window collapse
    (``audio_curation_pipeline``'s stage 2) instead of the
    perceptual hash. ``canonical_id`` is TRANSITIVE: the exact rep
    may itself lose the window stage; rewriting references needs
    the final keeper.

    Plant: the ``multimodal_audio_trim_audit`` structure (cluster
    ``pid = doc_id % 101``; byte-identical full clips within
    (pid, trimmed); variant 2 a trim(2 windows)+regain(×3) copy —
    different bytes, 6 ≥ 4 shared window hashes), so both
    representatives derive from id arithmetic: ``exact_rep`` = min
    id of the (pid, trimmed) class, ``canonical_id`` = min id of
    the pid cluster; the cluster minimum (variant 0, untrimmed) is
    necessarily its own exact rep, so the transitive chain is one
    hop — asserted by the oracle equality itself.

    Scale shape: 32 B digests and ~20 B window hashes through the
    shuffles, samples never; output corpus-sized BY DESIGN (the
    audit artifact a run writes next to the corpus)."""
    media = synth_wav_windowed_media(_wav_plant(spark, sf_dir), "media_id")
    return _curation_provenance(
        media, mh.audio_window_hashes, "whash", "dropped_trim_dup"
    )


def video_curation_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance for the VIDEO curation funnel — the last
    member of the provenance triple: ONE row per input video with
    (outcome, exact_rep, canonical_id), the fuzzy stage being the
    shot-level frame-hash collapse (``video_curation_pipeline``'s
    stage 2). Plant: the ``multimodal_video_audit`` structure
    (byte-identical 8-frame AVIs within (pid, trimmed); variant 2 a
    trim(first frame)+shift(+20) copy sharing 7 ≥ 4 frame hashes),
    so ``exact_rep`` = min id of the (pid, trimmed) class and
    ``canonical_id`` = min id of the pid cluster, with the one-hop
    transitive property under the oracle equality. Scale shape as
    the audio twin (digests + 28 B frame hashes, frames never
    shuffle; corpus-sized audit artifact by design)."""
    media = synth_avi_media(_avi_plant(spark, sf_dir), "media_id")
    return _curation_provenance(
        media, mh.video_frame_hashes, "fhash", "dropped_shot_dup"
    )


def multimodal_audio_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio perceptual near-dup over REAL decoded PCM samples — the
    audio member of the pixel-path family: decode 16-bit PCM WAV
    sample data in pure Python inside the sanctioned Arrow pass
    (``decode_wav_samples``), compute the energy aHash
    (``audio_fingerprint64``), and find Hamming-≤3 pairs with the
    same Manku banded join. Planted-transform oracle mirroring
    ``multimodal_phash_audit``: cluster ``pid = doc_id % 101``;
    variants 0/1 plant byte-identical WAVs, variant 2 plants a ×3
    amplitude-scaled copy of the same pattern (different BYTES, same
    fingerprint — the loudness-normalized re-encode exact dedup
    cannot catch). The square-wave plant makes the fingerprint
    provably the pattern byte's replicated bits (injective, ≥8-bit
    margin, gain-invariant — ``synth_wav_pcm_media``), so every
    column derives from id arithmetic."""
    planted = _plant(spark, sf_dir, 101, pattern=_PATTERN, gain=(1, 1, 3))
    media = synth_wav_pcm_media(planted, "media_id")
    return _cluster_audit(planted, mh.audio_fingerprints(media), ("afp",))


def multimodal_video_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup over REAL decoded frames — the video member of
    the sample-path family: decode uncompressed-AVI raw-DIB frames in
    pure Python inside the sanctioned Arrow pass
    (``decode_avi_frames``), hash each frame with the shared
    ``ahash64``, and find videos sharing ≥4 distinct frame hashes
    via the inverted-index join (``video_near_dup_pairs``) — the
    shot-level containment test that catches TRIMS, the
    video-specific transform exact dedup cannot catch.

    Planted-transform oracle: cluster ``pid = doc_id % 101``;
    variants 0/1 plant byte-identical 8-frame AVIs, variant 2 plants
    a TRIMMED (first frame dropped) AND brightness-shifted copy —
    different bytes, 7 shared frame hashes. ``synth_avi_media``'s
    16-bit frame patterns make each frame hash provably the pattern
    word's replicated bits (injective over (pid, frame) here, with
    pid·8+7 ≤ 807 ≪ 65534; shift-invariant), so every column
    derives from id arithmetic — including ``total_duration_ms``,
    which the REAL ``avih`` header parse recovers from the planted
    µs-per-frame × total-frames fields (40 ms × 8 or 7)."""
    planted = _avi_plant(spark, sf_dir)
    media = synth_avi_media(planted, "media_id")
    return _cluster_audit(
        planted, mh.video_frame_hashes(media), ("fhash",), probed=probe_media(media)
    )


def multimodal_audio_trim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-robust audio near-dup over REAL decoded PCM windows —
    closes the transform gap the clip-level fingerprint leaves open:
    ``multimodal_audio_audit`` proves gain invariance, but a copy
    TRIMMED by whole windows moves every frame boundary and defeats
    the whole-clip hash. This op hashes fixed 512-sample windows
    (``audio_window_hashes``) and joins on shared window hashes
    (``audio_near_dup_pairs`` — the same inverted-index containment
    join video uses), the audio analog of the video trim audit.

    Planted-transform oracle: cluster ``pid = doc_id % 101``;
    variants 0/1 plant byte-identical 8-window WAVs, variant 2
    plants a TRIM (first 2 windows cut) AND ×3 regain of the same
    stream — different bytes, different clip fingerprint, 6 shared
    window hashes. ``synth_wav_windowed_media``'s 16-bit per-window
    patterns make each window hash provably the pattern word's
    replicated bits (injective over (pid, window) here, with
    pid·8+7 ≤ 807 ≪ 65534; gain-invariant), so every column derives
    from id arithmetic — including ``total_duration_ms``, which the
    REAL RIFF parse recovers from the planted rate/data-length
    fields (64 ms per window: 512 or 384)."""
    planted = _wav_plant(spark, sf_dir)
    media = synth_wav_windowed_media(planted, "media_id")
    return _cluster_audit(
        planted, mh.audio_window_hashes(media), ("whash",), probed=probe_media(media)
    )


# every column derives from the plant arithmetic: window hashes are
# provably the 16-bit pattern word's replicated bits (injective over
# (pid, window), gain-invariant), trims cut exactly 2 windows, and
# min_shared=4 admits every within-cluster pair (8/6/6 shared ≥ 4)
# while injectivity forbids cross-cluster ones
_AUDIO_TRIM_SQL = """
WITH m AS (
  SELECT doc_id % 101 AS pid,
         CASE WHEN (doc_id // 101) % 3 = 2 THEN 1 ELSE 0 END AS trimmed
  FROM documents WHERE doc_id >= 0
), c AS (
  SELECT pid, COUNT(*) AS n, MIN(trimmed) AS min_tr FROM m GROUP BY pid
)
SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_media,
       CAST((SELECT COUNT(DISTINCT pid) FROM m) AS BIGINT) AS n_clusters,
       CAST((SELECT SUM(8 - 2 * trimmed) FROM m) AS BIGINT) AS n_window_rows,
       CAST((SELECT SUM(CASE WHEN min_tr = 0 THEN 8 ELSE 6 END) FROM c)
            AS BIGINT) AS distinct_whash,
       CAST((SELECT SUM(n * (n - 1) // 2) FROM c) AS BIGINT) AS neardup_pairs,
       CAST((SELECT SUM(512 - 128 * trimmed) FROM m) AS BIGINT)
            AS total_duration_ms
"""


def audio_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio curation pipeline as ONE composed, fully
    value-oracled query — the audio twin of
    ``media_curation_pipeline``: exact payload dedup (JVM sha2
    min-id representative) → TRIM-ROBUST window-hash collapse over
    the SURVIVORS (real PCM decode → per-window fingerprints →
    inverted-index containment pairs → hash-min connected components
    → min-id representative) → per-stage scorecard. The composition
    a speech/music crawl actually runs: exact dedup catches
    byte-identical re-uploads; the window pass catches the
    trimmed+regained re-encodes that survive it.

    Plant: the ``multimodal_audio_trim_audit`` structure (cluster
    ``pid = doc_id % 101``; variants 0/1 byte-identical full clips,
    variant 2 a trim(2 windows)+regain(×3) copy), so both stage
    outputs derive from id arithmetic: ``after_exact`` = distinct
    (pid, trimmed) payload classes; ``after_trim_robust`` = distinct
    pid (the trimmed copy shares 6 ≥ 4 window hashes with its full
    twin; 16-bit window-word injectivity forbids cross-pid edges).

    Scale shape: stage 1 shuffles 32 B digests, stage 2 ~20 B window
    hashes — payload bytes never reach a shuffle; pairs are
    inverted-index (linear in total windows), CC is the
    checkpoint-truncated hash-min loop over nodes-in-pairs only."""
    media = synth_wav_windowed_media(_wav_plant(spark, sf_dir), "media_id")
    return _curation_pipeline(
        media, mh.audio_window_hashes, "whash", "after_trim_robust"
    )


def video_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video curation pipeline as ONE composed, fully
    value-oracled query — completing the composed triple
    (``media_curation_pipeline`` for images,
    ``audio_curation_pipeline`` for audio): exact payload dedup (JVM
    sha2 min-id representative) → shot-level frame-hash collapse
    over the SURVIVORS (real AVI frame decode → per-frame aHash →
    inverted-index containment pairs → hash-min connected components
    → min-id representative) → per-stage scorecard. Exact dedup
    catches byte-identical re-uploads; the frame pass catches the
    trimmed+brightness-shifted re-encodes that survive it.

    Plant: the ``multimodal_video_audit`` structure (cluster
    ``pid = doc_id % 101``; variants 0/1 byte-identical 8-frame
    AVIs, variant 2 a trim(first frame)+shift(+20) copy), so both
    stage outputs derive from id arithmetic: ``after_exact`` =
    distinct (pid, trimmed) payload classes; ``after_shot_robust`` =
    distinct pid (the trimmed copy shares 7 ≥ 4 frame hashes with
    its full twin; 16-bit frame-word injectivity forbids cross-pid
    edges).

    Scale shape: stage 1 shuffles 32 B digests, stage 2 ~28 B frame
    hashes — frame bytes never reach a shuffle; pairs are
    inverted-index (linear in total frames), CC is the
    checkpoint-truncated hash-min loop over nodes-in-pairs only."""
    media = synth_avi_media(_avi_plant(spark, sf_dir), "media_id")
    return _curation_pipeline(
        media, mh.video_frame_hashes, "fhash", "after_shot_robust"
    )


def multimodal_dct_phash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash (the pHash algorithm proper) over REAL
    decoded pixels — completes the perceptual family (aHash/dHash/
    pHash): decode uncompressed-BMP pixel rows, 32×32 box-mean
    downsample → 2-D DCT-II → median-threshold the low-frequency
    block (``dct_phash64``), then the same Manku banded join
    (``phash_near_dup_pairs`` over ``phash``).

    Planted-transform oracle: cluster ``pid = doc_id % 101``, 16-bit
    pattern word ``1 + (pid·643) % 65534`` rendered as a 2-D 4×4
    block image (``synth_bmp_block16_media``); variants 0/1 plant
    byte-identical BMPs, variant 2 plants a +20 brightness shift AND
    a ±6 per-pixel checkerboard — HIGH-FREQUENCY noise, the
    transform class pHash's low-pass design exists for. Both
    transforms leave the hash exactly unchanged (checkerboard
    cancels in every even-height downsample box; the shift moves
    only the rounded-away DC), and the 101-word hash set is
    injective with min pairwise Hamming 4 > τ=3 (both pinned over
    the full domain in tests/test_phash.py), so every column derives
    from id arithmetic."""
    planted = _plant(
        spark,
        sf_dir,
        101,
        word="1 + pid * 643 % 65534",
        shift=(0, 0, 20),
        noise=(0, 0, 6),
    )
    media = synth_bmp_block16_media(planted, "media_id")
    return _cluster_audit(planted, mh.dct_phashes(media), ("phash",))


def phash_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps audit for the perceptual-hash banded join —
    what ``phash_near_dup_pairs``'s ``max_bucket_size`` guard
    excludes, reported over the SAME Manku ``(table, key)`` buckets
    the join keys on (``functions/media_hash.py::phash_cap_report``;
    ``winnow_cap_report`` is the template). Run here with cap=4 over
    the ``multimodal_phash_audit`` plant so the exclusions are
    non-trivial and DERIVABLE: within cluster ``pid = doc_id % 101``
    every member's aHash is identical (shift-invariant, injective
    across clusters), so each of the C(6,3)=20 permuted tables holds
    exactly one bucket per pid of size m_pid — the cluster size —
    and (asserted over the full 101-hash family in
    tests/test_cap_reports.py) no two clusters collide on any table
    key. Hence: total_buckets = 20·n_clusters, capped_buckets =
    20·#{pid: m_pid > 4}, affected = blinded = Σ m_pid over capped
    clusters (an identical-hash family floods ALL its tables — the
    equality is itself the structural statement), max_bucket =
    max m_pid — all pure id arithmetic."""
    media = synth_bmp_pixel_media(_bmp_plant(spark, sf_dir), "media_id")
    return mh.phash_cap_report(
        mh.perceptual_hashes(media), max_hamming=3, max_bucket_size=4
    )


# plant arithmetic: identical per-cluster aHash ⇒ one bucket per
# (table, pid) of size m_pid in each of the 20 tables; cross-cluster
# key collisions excluded by the tested no-collision lemma
_PHASH_CAP_SQL = """
WITH fam AS (
  SELECT doc_id % 101 AS pid, COUNT(*) AS m
  FROM documents WHERE doc_id >= 0 GROUP BY pid
)
SELECT CAST(20 * COUNT(*) FILTER (WHERE m > 4) AS BIGINT)
         AS capped_buckets,
       CAST(COALESCE(SUM(m) FILTER (WHERE m > 4), 0) AS BIGINT)
         AS affected_media,
       CAST(COALESCE(SUM(m) FILTER (WHERE m > 4), 0) AS BIGINT)
         AS blinded_media,
       CAST(20 * COUNT(*) AS BIGINT) AS total_buckets,
       CAST(MAX(m) AS BIGINT) AS max_bucket
FROM fam
"""


def video_frame_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps audit for the video inverted-index join — what
    ``video_near_dup_pairs``'s ``max_frame_freq`` viral-frame guard
    excludes (``functions/media_hash.py::video_frame_cap_report``).
    Run with cap=4 over the ``multimodal_video_audit`` plant so the
    exclusions derive from id arithmetic: cluster ``pid = doc_id %
    101`` plants n members of which the trimmed variants drop frame
    0 (shift-invariant per-frame aHash ⇒ trimmed frames 1..7 hash
    identically to the full copy's), so frame hash (pid, 0) has doc
    frequency n_full (un-trimmed members) and (pid, 1..7) have
    frequency n — whence capped_fhashes = Σ (7·[n>4] + [n_full>4]),
    affected_media = Σ n over clusters with n>4 (every member holds
    frames 1..7; n_full ≤ n makes the frame-0 term subsumed),
    total_fhashes = Σ (7 + [n_full>0]), max_freq = max n."""
    media = synth_avi_media(_avi_plant(spark, sf_dir), "media_id")
    return mh.video_frame_cap_report(mh.video_frame_hashes(media), max_frame_freq=4)


_VIDEO_CAP_SQL = """
WITH m AS (
  SELECT doc_id % 101 AS pid,
         CASE WHEN (doc_id // 101) % 3 = 2 THEN 1 ELSE 0 END AS trimmed
  FROM documents WHERE doc_id >= 0
), c AS (
  SELECT pid, COUNT(*) AS n, SUM(1 - trimmed) AS n_full
  FROM m GROUP BY pid
)
SELECT CAST(SUM(7 * CASE WHEN n > 4 THEN 1 ELSE 0 END
             + CASE WHEN n_full > 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS capped_fhashes,
       CAST(SUM(CASE WHEN n > 4 THEN n ELSE 0 END) AS BIGINT)
         AS affected_media,
       CAST(SUM(7 + CASE WHEN n_full > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS total_fhashes,
       CAST(MAX(n) AS BIGINT) AS max_freq
FROM c
"""


def audio_window_cap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-silent-caps audit for the audio inverted-index join — what
    ``audio_near_dup_pairs``'s ``max_window_freq`` viral-window
    guard excludes (``functions/media_hash.py::
    audio_window_cap_report``), completing the cap-report family
    (winnow / phash / video / audio — every guarded join in the repo
    has its exclusion report). Run with cap=4 over the
    ``multimodal_audio_trim_audit`` plant: cluster ``pid = doc_id %
    101`` plants n members of which the trimmed variants cut windows
    0-1 and regain ×3 (gain-invariant per-window hashes ⇒ trimmed
    windows 2..7 hash identically to the full copy's), so window
    hash (pid, 0..1) has doc frequency n_full and (pid, 2..7) has n
    — whence capped_whashes = Σ (6·[n>4] + 2·[n_full>4]),
    affected_media = Σ n over clusters with n>4, total_whashes =
    Σ (6 + 2·[n_full>0]), max_freq = max n. Pure id arithmetic."""
    media = synth_wav_windowed_media(_wav_plant(spark, sf_dir), "media_id")
    return mh.audio_window_cap_report(
        mh.audio_window_hashes(media), max_window_freq=4
    )


_AUDIO_CAP_SQL = """
WITH m AS (
  SELECT doc_id % 101 AS pid,
         CASE WHEN (doc_id // 101) % 3 = 2 THEN 1 ELSE 0 END AS trimmed
  FROM documents WHERE doc_id >= 0
), c AS (
  SELECT pid, COUNT(*) AS n, SUM(1 - trimmed) AS n_full
  FROM m GROUP BY pid
)
SELECT CAST(SUM(6 * CASE WHEN n > 4 THEN 1 ELSE 0 END
             + 2 * CASE WHEN n_full > 4 THEN 1 ELSE 0 END) AS BIGINT)
         AS capped_whashes,
       CAST(SUM(CASE WHEN n > 4 THEN n ELSE 0 END) AS BIGINT)
         AS affected_media,
       CAST(SUM(6 + 2 * CASE WHEN n_full > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS total_whashes,
       CAST(MAX(n) AS BIGINT) AS max_freq
FROM c
"""


def multimodal_anim_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-container probe — the animation counterpart of
    ``multimodal_probe_audit``: every document id gets a REAL animated
    container with formula-valued animation metadata
    (`synth_anim_probe_media` — even ids an animated GIF whose GCE
    delays are ``2 + id % 50`` cs over ``2 + id % 7`` frames, odd ids
    an animated WebP (VP8X+ANIM+ANMF) with ``20 + id % 500`` ms per
    frame), and the output is what the HEADER-ONLY walks recovered
    through the real Arrow-batched `probe_media` pass — mime, canvas
    dims, and the summed duration (frame bitstreams length-skipped:
    cost ∝ frame count, the crawl-scale metadata shape). Exact value
    oracle: DuckDB computes the same integer formulas; any
    divergence in the GCE delay bytes, the VP8X flag/canvas fields,
    the ANMF 24-bit duration, or the even-padding walk flips the
    hash."""
    return (
        probe_media(synth_anim_probe_media(_plant(spark, sf_dir), "media_id"))
        .select(
            "media_id",
            "mime",
            "width",
            "height",
            F.col("duration_ms").cast("long").alias("duration_ms"),
        )
        .orderBy("media_id")
    )


_ANIM_PROBE_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/gif'
            ELSE 'image/webp' END AS mime,
       CAST(8 + doc_id % 24 AS INT) AS width,
       CAST(8 + doc_id % 16 AS INT) AS height,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN (2 + doc_id % 7) * (2 + doc_id % 50) * 10
                 ELSE (2 + doc_id % 7) * (20 + doc_id % 500)
            END AS BIGINT) AS duration_ms
FROM documents
WHERE doc_id >= 0
ORDER BY media_id
"""


def multimodal_audio_probe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted FLAC/MP3 header probe — extending the WAV/MP4 audit
    family to the compressed-audio containers a crawl actually sees:
    every document id gets real FLAC STREAMINFO or MPEG-1 Layer III
    header bytes with formula-valued duration fields
    (`synth_audio_probe_media` — 20-bit rate / 36-bit sample count;
    ID3v2 syncsafe skip + Xing frame count; CBR remaining-bytes
    estimate over a formula-length stream), and the output is what
    `parse_media_header` recovered through the real Arrow-batched
    probe. Exact value oracle: DuckDB computes the same integer
    formulas; any divergence in the bit unpacking, the syncsafe
    arithmetic, the Xing offset (mono side-info), or the bitrate
    table flips the hash."""
    return (
        probe_media(synth_audio_probe_media(_plant(spark, sf_dir), "media_id"))
        .select(
            "media_id",
            "mime",
            F.col("duration_ms").cast("long").alias("duration_ms"),
        )
        .orderBy("media_id")
    )


_AUDIO_PROBE_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'audio/flac'
            ELSE 'audio/mpeg' END AS mime,
       CAST(CASE
         WHEN doc_id % 2 = 0 THEN
           ((16000 + (doc_id % 1000) * 16) * 1000)
             // (8000 + (doc_id % 32) * 250)
         WHEN doc_id % 4 = 1 THEN
           ((200 + doc_id % 800) * 1152 * 1000)
             // (CASE doc_id % 3 WHEN 0 THEN 44100
                 WHEN 1 THEN 48000 ELSE 32000 END)
         ELSE
           ((2000 + doc_id % 6000) * 8)
             // list_extract(
                  [32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                  1 + doc_id % 14)
       END AS BIGINT) AS duration_ms
FROM documents
WHERE doc_id >= 0
ORDER BY media_id
"""


def audio_g711_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 telephony-audio collapse — the first COMPANDED audio
    coding admitted with real samples: `decode_wav_samples` now
    expands 8-bit µ-law (format 7) and A-law (format 6) through the
    256-entry ITU-T tables (pinned bit-exact against stdlib
    ``audioop`` where importable), so a telephony re-encode of a
    clip fingerprints like its 16-bit PCM twin. Variant ``doc_id
    div 109 % 3`` for cluster ``pid = doc_id % 109``: 0 → the PCM16
    anchor, 1 → µ-law of the same signal, 2 → A-law at ×3 gain —
    three byte-disjoint (even bytes-per-sample-disjoint) tellings
    of one signal. Fingerprint survival verified over all 254
    patterns × both gains × both laws (0 mismatches), so
    ``distinct_afp = n_clusters`` iff the expansion tables and the
    format-tag routing are right. All columns from id arithmetic."""
    planted = _plant(
        spark,
        sf_dir,
        109,
        pattern=_PATTERN,
        gain=(1, 1, 3),
        codec=("pcm16", "ulaw", "alaw"),
    )
    media = synth_wav_pcm_media(planted, "media_id", codec_col="codec")
    return _cluster_audit(planted, mh.audio_fingerprints(media), ("afp",))


def audio_adpcm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA ADPCM collapse — the 4-bit ADAPTIVE differential coding
    (WAV format 0x11, the game/telephony workhorse) joins the real
    sample path: `decode_wav_samples` decodes WAV block framing
    (per-block header predictor + step index, low-nibble-first
    groups) through the standard IMA step/index tables
    (`media_decode.py::_ima_adpcm_decode`), pinned one-step-exact
    against stdlib ``audioop.adpcm2lin`` over EVERY (start index ×
    nibble) pair and stream-exact with carried state. Unlike G.711's
    memoryless table lookup, ADPCM is stateful and lossy-adaptive —
    the fingerprint must survive real quantization ERROR, not just
    re-quantization: survival verified over all 254 patterns ×
    gains 1 and 3 (0 mismatches; the energy aHash's 3:1 frame
    margin dominates the bounded tracking error).

    Variant ``doc_id div 127 % 3`` for cluster ``pid = doc_id %
    127``: 0 → the PCM16 anchor, 1 → IMA ADPCM of the same signal,
    2 → IMA ADPCM at ×3 gain — byte-disjoint (4-bit vs 16-bit)
    tellings of one signal, so ``distinct_afp = n_clusters`` iff
    the block walk, the adaptive recurrence, and the format-tag
    routing are all right. All columns from id arithmetic."""
    planted = _plant(
        spark,
        sf_dir,
        127,
        pattern=_PATTERN,
        gain=(1, 1, 3),
        codec=("pcm16", "adpcm", "adpcm"),
    )
    media = synth_wav_pcm_media(planted, "media_id", codec_col="codec")
    return _cluster_audit(planted, mh.audio_fingerprints(media), ("afp",))


def multimodal_png_phash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup over REAL decoded PNG pixels — the
    compressed twin of ``multimodal_phash_audit``: zlib-inflate +
    unfilter 8-bit PNGs in pure Python inside the sanctioned Arrow
    pass (``decode_png_pixels`` via the ``decode_pixels`` boundary),
    compute aHash/dHash, find Hamming-≤3 pairs with the Manku banded
    join.

    Planted-transform oracle: cluster ``pid = doc_id % 97``; variant
    ``doc_id div 97 % 3`` selects the COLOR TYPE — 0 → truecolor RGB
    (type 2), 1 → grayscale (type 0), 2 → palette (type 3) with a
    +20 uniform brightness shift. Scanline filters cycle through all
    five types per row (seed = pattern), so every unfilter
    recurrence (None/Sub/Up/Average/Paeth) is under the oracle on
    every payload. The 8×8 block pattern makes ``ahash64`` provably
    the pattern byte's bits replicated (injective per cluster,
    ≥8-bit cross-cluster margin, shift- and colortype-invariant:
    BT.601 luma of (g,g,g) is exactly g), so:

    - ``distinct_ahash = n_clusters`` fails if inflate → unfilter →
      palette/luma → downsample → threshold is colortype- or
      shift-variant OR collides across clusters;
    - ``max_cluster_*_variants = 1`` fails if any hash varies within
      a cluster (three byte-disjoint encodings of the same pixels);
    - ``neardup_pairs = Σ C(m_pid, 2)`` fails if the banded join
      misses a true pair or admits a cross-cluster one.
    """
    planted = _plant(
        spark,
        sf_dir,
        97,
        pattern=_PATTERN,
        shift=(0, 0, 20),
        codec=("png", "png_gray", "png_pal"),
    )
    media = synth_codec_pixel_media(planted, "media_id")
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def multimodal_codec_matrix_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The cross-codec re-encode audit — the case perceptual dedup
    EXISTS for: the same image saved as BMP, PNG (all three 8-bit
    color types), and GIF (sequential AND interlaced) is six
    byte-disjoint payloads that must collapse to ONE perceptual
    identity. Variant ``doc_id div 89 % 6`` selects the codec leg
    for cluster ``pid = doc_id % 89`` (same planted 8×8 block
    pattern; shift 0 so pixels are bit-identical across legs);
    every payload goes through the ONE ``decode_pixels`` boundary —
    BMP through the uncompressed path, PNG through stdlib-zlib
    inflate + unfilter, GIF through the pure-Python LZW codec
    (+ 4-pass deinterlace for ``gif_i``).

    - ``n_codecs`` pins that the plant actually spans codecs (id
      arithmetic, SQL-recomputable);
    - ``distinct_ahash = n_clusters`` + ``max_cluster_ahash_variants
      = 1`` ARE the cross-codec equality claim: one decoder
      diverging by a single pixel breaks them;
    - ``neardup_pairs = Σ C(m_pid, 2)``: the banded join sees every
      re-encoded pair and no cross-cluster one (≥8-bit margin).
    """
    planted = _plant(
        spark, sf_dir, 89, pattern=_PATTERN, shift="0", codec=CODEC_LEGS
    )
    media = synth_codec_pixel_media(planted, "media_id")
    return _cluster_audit(planted, mh.perceptual_hashes(media), n_codecs=True)


def multimodal_jpeg_phash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup over REAL decoded BASELINE-JPEG pixels —
    the lossy-codec member of the family: pure-Python/numpy Huffman
    + zigzag + dequant + orthogonal IDCT (``functions/jpeg.py``), no
    codec library, wired through the same ``decode_pixels`` boundary.

    JPEG is lossy in general, so the plant is chosen where it is
    provably EXACT: 64×64 images whose 8×8 aHash grid cells coincide
    with the JPEG block grid — every block is FLAT, its spectrum is
    DC-only, quantization step 1 stores ``8·(v−128)`` exactly, and
    the IDCT reproduces the flat value bit-for-bit. The planted
    lemma (``ahash64`` = pattern bits replicated; injective, ≥8-bit
    cross-cluster margin, shift-invariant) therefore carries over
    from the BMP audit UNCHANGED even through the lossy codec.

    Variants per cluster ``pid = doc_id % 83``: 0 → grayscale scan,
    1 → 3-component 4:4:4 with neutral chroma (the Huffman-coded
    stream triples its block count; decoded RGB equals the gray
    exactly under the JFIF integer conversion), 2 → 4:2:0 — the
    layout most real crawls carry (general interleaved MCUs, chroma
    quarter-res through the replication upsample; flat zero chroma
    stays exact) — with a +20 brightness shift (different DCs,
    different BYTES, same hash). Scorecard semantics identical to
    the PNG audit; all columns from id arithmetic alone."""
    planted = _plant(
        spark,
        sf_dir,
        83,
        pattern=_PATTERN,
        shift=(0, 0, 20),
        codec=("jpeg", "jpeg_rgb", "jpeg_420"),
    )
    media = synth_codec_pixel_media(planted, "media_id", width=64, height=64)
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def multimodal_png_deep_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-envelope PNG audit — the format's remaining reject
    paths: Adam7 interlace, 16-bit samples, alpha, sub-byte palette
    depths. Variant ``doc_id div 79 % 6`` selects
    one of the six ``PNG_DEEP_LEGS`` for cluster ``pid = doc_id %
    79``: Adam7-interlaced RGB, 16-bit grayscale (samples v·257 —
    the standard bit-replication expansion, whose high byte is
    exactly v), opaque RGBA and gray+alpha (white compositing at
    a=255 is provably the identity: ``(v·255 + 127)//255 = v``),
    depth-2 palette (the plant has exactly two distinct grays), and
    Adam7+16-bit combined. Six byte-DISJOINT encodings of the SAME
    pixels that must collapse to ONE perceptual identity through
    ``decode_pixels``:

    - ``n_codecs`` pins the plant spans all six legs (id arithmetic,
      SQL-recomputable);
    - ``distinct_ahash = n_clusters`` + ``max_cluster_ahash_variants
      = 1`` ARE the envelope-equality claim — a deinterlace placing
      one pixel wrong, a 16-bit reduction off by one, or compositing
      drifting from the identity at a=255 breaks them;
    - ``neardup_pairs = Σ C(m_pid, 2)``: the banded join sees every
      re-encoded pair and no cross-cluster one (≥8-bit margin).
    """
    planted = _plant(
        spark, sf_dir, 79, pattern=_PATTERN, shift="0", codec=PNG_DEEP_LEGS
    )
    media = synth_codec_pixel_media(planted, "media_id")
    return _cluster_audit(planted, mh.perceptual_hashes(media), n_codecs=True)


def multimodal_jpeg_prog_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PROGRESSIVE-JPEG audit — SOF2 is the web's other dominant
    JPEG flavor, and progressive mode is a LOSSLESS reordering of
    the same quantized coefficients, so a progressive re-save of a
    sequential JPEG must collapse to the SAME perceptual identity.
    Variant ``doc_id div 73 % 3`` for cluster ``pid = doc_id % 73``:
    0 → BASELINE grayscale scan (the cross-MODE reference leg),
    1 → progressive grayscale (seven-stage scan script: DC first at
    Al=1, banded AC first scans with EOB runs, two AC refinement
    levels, DC refinement), 2 → progressive 4:2:0 color with a +20
    brightness shift (interleaved DC scans over subsampled MCUs +
    per-component AC scans whose flat chroma exercises EOB runs
    spanning whole scans). The 64×64 flat-block plant keeps the
    lossy codec provably exact (DC-only spectra at quant 1), so the
    aHash lemma (pattern bits replicated, injective, ≥8-bit margin,
    shift-invariant) carries through the multi-scan reassembly
    unchanged. Scorecard semantics identical to the baseline JPEG
    audit; all columns from id arithmetic alone."""
    planted = _plant(
        spark,
        sf_dir,
        73,
        pattern=_PATTERN,
        shift=(0, 0, 20),
        codec=("jpeg", "jpeg_prog", "jpeg_prog_420"),
    )
    media = synth_codec_pixel_media(planted, "media_id", width=64, height=64)
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def multimodal_webp_phash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VP8L lossless-WebP audit (`functions/webp.py`): RIFF walk,
    VP8L entropy-coded images (simple + normal prefix codes with
    16/17/18 repeats and the max-symbol cap), LZ77 backrefs + color
    cache, and the transform machinery, all pure Python. Variant ``doc_id div 71 %
    3`` for cluster ``pid = doc_id % 71``: 0 → plain ARGB literals,
    1 → color-indexing transform (2-entry palette ⇒ 8-pixel-per-byte
    index bundling), 2 → LZ77 copy-above + color cache + max-symbol
    cap, with a +20 brightness shift. Lossless format ⇒ the planted
    aHash lemma carries over exactly (byte-disjoint encodings,
    identical pixels). Scorecard semantics identical to the PNG
    audit; all columns from id arithmetic alone."""
    planted = _plant(
        spark,
        sf_dir,
        71,
        pattern=_PATTERN,
        shift=(0, 0, 20),
        codec=("webp", "webp_pal", "webp_lz"),
    )
    media = synth_codec_pixel_media(planted, "media_id")
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def multimodal_exif_orientation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The camera-rotation audit — the perceptual-dedup trap EXIF
    orientation creates: a camera stores the sensor's landscape
    pixels plus an orientation tag, so the SAME photo exists as
    byte-different, PIXEL-ROTATED files that only normalize to the
    same image once the tag is honored. ``decode_pixels`` normalizes
    through ``jpeg_exif_orientation`` + ``apply_exif_orientation``
    (functions/jpeg.py); this audit pins it end-to-end: variant
    ``doc_id div 67 % 4`` for cluster ``pid = doc_id % 67`` selects
    orientation 1 (upright, no tag semantics), 3 (rotate 180), 6
    (rotate 90 CW) or 8 (rotate 90 CCW) — each leg stores the
    INVERSE-rotated pixels plus the tag, so normalization must
    recover the identical upright plant. The 64×64 block-aligned
    plant keeps every rotation block-aligned and flat (rotations are
    index permutations), so the exactness lemma carries over and
    ``distinct_ahash = n_clusters`` / ``max_cluster_*_variants = 1``
    / exact τ=3 pair counts all hold iff the tag parse AND the
    normalization transform are correct. All columns from id
    arithmetic alone."""
    planted = _plant(
        spark,
        sf_dir,
        67,
        pattern=_PATTERN,
        shift="0",
        codec=("jpeg", "jpeg_o3", "jpeg_o6", "jpeg_o8"),
    )
    media = synth_codec_pixel_media(planted, "media_id", width=64, height=64)
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def multimodal_webp_lossy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lossy-VP8 WebP audit — the first INHERENTLY-LOSSY codec
    admitted with real pixels: `decode_pixels` routes VP8/VP8X
    payloads the pure VP8L path declines through libwebp's own
    ``WebPDecodeRGBA`` via ctypes (`functions/webp.py::
    decode_webp_lossy_pixels` — this container ships the shared
    library; hosts without it take the NULL-hash admission path and
    this audit would raise at planting time, not lie). Variant
    ``doc_id div 69 % 3`` for cluster ``pid = doc_id % 69``: 0 → the
    exact BMP anchor, 1 → the SAME pixels through libwebp's REAL
    lossy encoder (``WebPEncodeRGBA`` q=95), 2 → lossy with a +20
    brightness shift. The 64×64 flat-block plant's ≥8-bit
    cross-pattern margin (120 gray levels) absorbs VP8's quantization
    noise (verified empirically over all 254 patterns × both shifts:
    aHash and dHash both survive the lossy round-trip bit-exactly), so
    ``distinct_ahash = n_clusters`` iff the tag-sniff → ctypes
    decode → BT.601 reduction chain is correct — a lossy re-save of
    an image collapses onto its exact twin, the admission claim this
    branch exists for. All columns from id arithmetic alone."""
    planted = _plant(
        spark,
        sf_dir,
        69,
        pattern=_PATTERN,
        shift=(0, 0, 20),
        codec=("bmp", "webp_lossy", "webp_lossy"),
    )
    media = synth_codec_pixel_media(planted, "media_id", width=64, height=64)
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def multimodal_tiff_phash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The baseline-TIFF audit — the last common still format joins
    the codec family (`functions/media_decode.py::decode_tiff_pixels`:
    both byte orders, multi-strip, photometric 0/1/2/3, 1/8/16-bit,
    RGBA-over-white, and the TIFF Orientation tag normalized through
    the shared `apply_exif_orientation`). Variant ``doc_id div 97 %
    4`` for cluster ``pid = doc_id % 97``: 0 → the BMP anchor, 1 →
    gray little-endian multi-strip TIFF, 2 → big-endian RGB TIFF
    with a +20 brightness shift, 3 → an Orientation-6 TIFF storing
    the inverse-rotated pixels (the scanner-rotation trap — byte-
    different, pixel-rotated, must normalize onto the upright
    anchor). All legs lossless ⇒ the flat-plant aHash lemma carries
    exactly; ``distinct_ahash = n_clusters`` iff the IFD walk, strip
    assembly, endianness, photometric handling, and orientation
    normalization are all right. All columns from id arithmetic."""
    planted = _plant(
        spark,
        sf_dir,
        97,
        pattern=_PATTERN,
        shift=(0, 0, 20, 0),
        codec=("bmp", "tiff", "tiff_rgb_be", "tiff_o6"),
    )
    media = synth_codec_pixel_media(planted, "media_id", width=64, height=64)
    return _cluster_audit(planted, mh.perceptual_hashes(media))


def animated_gif_video_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-GIF near-dup over REAL composed frames — the web's
    actual animation format reaching the shot-level path
    uncompressed AVI already has (`multimodal_video_audit`):
    `decode_gif_frames` (functions/media_decode.py) LZW-decodes every
    rendering block and COMPOSES it onto the logical screen per
    GIF89a — the planted streams are DELTA-encoded (first frame a
    keyframe, later frames transparent-patched blocks), so each
    frame hash is only right if the transparency compositing is.
    Frames feed the same `video_frame_hashes` → inverted-index
    `video_near_dup_pairs` chain.

    Planted-transform oracle: cluster ``pid = doc_id % 103``;
    variants 0/1 plant byte-identical 8-frame animations, variant 2
    plants a TRIMMED (first frame dropped — its keyframe is frame 1)
    AND brightness-shifted copy — different bytes, 7 shared composed
    frame hashes. `synth_gif_anim_media`'s 16-bit frame words keep
    every composed hash provably the word's replicated bits
    (injective over (pid, frame): pid·8+7 ≤ 823 ≪ 65534;
    shift-invariant), so all columns derive from id arithmetic."""
    planted = _plant(spark, sf_dir, 103, **_TRIM_SHIFT)
    media = synth_gif_anim_media(planted, "media_id")
    return _cluster_audit(planted, mh.video_frame_hashes(media), ("fhash",))


def animated_webp_video_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-WebP near-dup over REAL composed frames — completing
    the animation pair (`animated_gif_video_audit` is the GIF twin):
    `decode_webp_anim_frames` (functions/media_decode.py) decodes each
    ANMF's standalone VP8L bitstream with the conformance-verified
    pure decoder and composes rects per RFC 9649 (2-px-unit offsets,
    no-blend replace, dispose-to-white) — the planted streams are
    keyframe + changed-region rects, so a frame hash is only right
    if both the rect placement and the per-frame decode are. Frames
    feed the same `video_frame_hashes` → `video_near_dup_pairs`
    chain.

    Planted-transform oracle: cluster ``pid = doc_id % 107``;
    variants 0/1 byte-identical 8-frame animations, variant 2 a
    TRIMMED + brightness-shifted re-encode — 7 shared composed
    hashes. 16-bit frame words injective over (pid, frame)
    (pid·8+7 ≤ 855 ≪ 65534; shift-invariant); all columns from id
    arithmetic."""
    planted = _plant(spark, sf_dir, 107, **_TRIM_SHIFT)
    media = synth_webp_anim_media(planted, "media_id")
    return _cluster_audit(planted, mh.video_frame_hashes(media), ("fhash",))


def animated_apng_video_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Animated-PNG near-dup over REAL composed frames — completing
    the web's animation trio with the GIF and WebP audits:
    `decode_apng_frames` (functions/media_decode.py) rewraps each
    frame's fdAT zlib stream as a standalone PNG for the
    conformance-verified still decoder and composes fcTL sub-rects
    per the spec (sequence validation, dispose/blend ops, the
    IDAT-participates-as-frame-0 rule) — the planted streams are
    DELTA-encoded (keyframe + changed-region rects), so each frame
    hash is only right if rect placement AND the per-frame rewrap
    are. Frames feed the same `video_frame_hashes` →
    `video_near_dup_pairs` chain.

    Planted-transform oracle: cluster ``pid = doc_id % 139``;
    variants 0/1 byte-identical 8-frame animations, variant 2 a
    TRIMMED + brightness-shifted re-encode — 7 shared composed
    hashes. 16-bit frame words injective over (pid, frame)
    (pid·8+7 ≤ 1111 ≪ 65534; shift-invariant); all columns from id
    arithmetic."""
    planted = _plant(spark, sf_dir, 139, **_TRIM_SHIFT)
    media = synth_apng_anim_media(planted, "media_id")
    return _cluster_audit(planted, mh.video_frame_hashes(media), ("fhash",))


def multimodal_mjpeg_video_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG near-dup over REAL compressed frames — the dominant
    real-world AVI codec joins the video frame path
    (`functions/media_decode.py::decode_avi_frames`, ``00dc`` chunks):
    each frame is a standalone baseline JPEG decoded with the
    conformance-verified pure decoder, and the OpenDML "AVI1"
    DHT-LESS frame form is decoded through the T.81 K.3 fixed-table
    injection (`functions/jpeg.py::mjpeg_ensure_dht` — tables pinned
    byte-for-byte against javax.imageio's writer in
    tests/test_codec_conformance.py). Frames feed the same
    `video_frame_hashes` → inverted-index `video_near_dup_pairs`
    chain every other video format uses.

    Planted-transform oracle: cluster ``pid = doc_id % 113``;
    variant 0 plants DHT-carrying streams, variant 1 the DHT-less
    AVI1 twin (different bytes, BIT-IDENTICAL pixels — flat
    8×8-block frames at quant step 1 round-trip exactly, so a
    matching frame hash certifies the K.3 injection: the DHT-less
    variant adds no new hashes), variant 2 a TRIMMED (first frame
    dropped) + brightness-shifted DHT-less copy — 7 shared frame
    hashes. `synth_mjpeg_avi_media`'s 16-bit
    frame words keep every hash provably the word's replicated bits
    (injective over (pid, frame): pid·8+7 ≤ 911 ≪ 65534;
    shift-invariant), so all columns derive from id arithmetic."""
    planted = _plant(spark, sf_dir, 113, **_TRIM_SHIFT, strip=(0, 1, 1))
    media = synth_mjpeg_avi_media(planted, "media_id")
    return _cluster_audit(planted, mh.video_frame_hashes(media), ("fhash",))


QUERIES = {
    "multimodal_webp_lossy_audit": multimodal_webp_lossy_audit,
    "animated_gif_video_audit": animated_gif_video_audit,
    "multimodal_webp_phash_audit": multimodal_webp_phash_audit,
    "multimodal_jpeg_prog_audit": multimodal_jpeg_prog_audit,
    "video_curation_pipeline": video_curation_pipeline,
    "video_curation_provenance": video_curation_provenance,
    "video_frame_cap_report": video_frame_cap_report,
    "multimodal_video_audit": multimodal_video_audit,
    "multimodal_doc_features": multimodal_doc_features,
    "multimodal_probe_audit": multimodal_probe_audit,
    "multimodal_frame_plan": multimodal_frame_plan,
    "multimodal_image_audit": multimodal_image_audit,
    "multimodal_dedup_audit": multimodal_dedup_audit,
    "multimodal_phash_audit": multimodal_phash_audit,
    "media_curation_pipeline": media_curation_pipeline,
    "multimodal_audio_audit": multimodal_audio_audit,
    "multimodal_audio_trim_audit": multimodal_audio_trim_audit,
    "multimodal_dct_phash_audit": multimodal_dct_phash_audit,
    "audio_curation_pipeline": audio_curation_pipeline,
    "media_curation_provenance": media_curation_provenance,
    "phash_cap_report": phash_cap_report,
    "audio_window_cap_report": audio_window_cap_report,
    "audio_curation_provenance": audio_curation_provenance,
    "multimodal_anim_probe_audit": multimodal_anim_probe_audit,
    "multimodal_audio_probe_audit": multimodal_audio_probe_audit,
    "audio_g711_audit": audio_g711_audit,
    "audio_adpcm_audit": audio_adpcm_audit,
    "multimodal_png_phash_audit": multimodal_png_phash_audit,
    "multimodal_codec_matrix_audit": multimodal_codec_matrix_audit,
    "multimodal_jpeg_phash_audit": multimodal_jpeg_phash_audit,
    "multimodal_png_deep_audit": multimodal_png_deep_audit,
    "multimodal_exif_orientation_audit": multimodal_exif_orientation_audit,
    "animated_webp_video_audit": animated_webp_video_audit,
    "multimodal_tiff_phash_audit": multimodal_tiff_phash_audit,
    "multimodal_mjpeg_video_audit": multimodal_mjpeg_video_audit,
    "animated_apng_video_audit": animated_apng_video_audit,
}
ORACLE = {
    "multimodal_webp_lossy_audit": _hash_sql(69),
    "animated_gif_video_audit": _frame_sql(103),
    "multimodal_webp_phash_audit": _hash_sql(71),
    "multimodal_jpeg_prog_audit": _hash_sql(73),
    "video_curation_pipeline": _curation_sql("trimmed", 1, 10, "after_shot_robust"),
    "video_curation_provenance": _provenance_sql("trimmed", 1, "dropped_shot_dup"),
    "video_frame_cap_report": _VIDEO_CAP_SQL,
    "multimodal_video_audit": _frame_sql(101, duration="320 - 40 * trimmed"),
    "multimodal_doc_features": _MULTIMODAL_SQL,
    "multimodal_probe_audit": _PROBE_SQL,
    "multimodal_frame_plan": _FRAME_SQL,
    "multimodal_image_audit": _IMAGE_SQL,
    "multimodal_dedup_audit": _DEDUP_SQL,
    "multimodal_phash_audit": _hash_sql(101),
    "media_curation_pipeline": _curation_sql("shift", 20, 100, "after_perceptual"),
    "multimodal_audio_audit": _hash_sql(101, ("afp",)),
    "multimodal_audio_trim_audit": _AUDIO_TRIM_SQL,
    "multimodal_dct_phash_audit": _hash_sql(101, ("phash",)),
    "audio_curation_pipeline": _curation_sql("trimmed", 1, 10, "after_trim_robust"),
    "media_curation_provenance": _provenance_sql("shift", 20, "dropped_perceptual_dup"),
    "phash_cap_report": _PHASH_CAP_SQL,
    "audio_window_cap_report": _AUDIO_CAP_SQL,
    "audio_curation_provenance": _provenance_sql("trimmed", 1, "dropped_trim_dup"),
    "multimodal_anim_probe_audit": _ANIM_PROBE_SQL,
    "multimodal_audio_probe_audit": _AUDIO_PROBE_SQL,
    "audio_g711_audit": _hash_sql(109, ("afp",)),
    "audio_adpcm_audit": _hash_sql(127, ("afp",)),
    "multimodal_png_phash_audit": _hash_sql(97),
    "multimodal_codec_matrix_audit": _hash_sql(89, legs=6),
    "multimodal_jpeg_phash_audit": _hash_sql(83),
    "multimodal_png_deep_audit": _hash_sql(79, legs=6),
    "multimodal_exif_orientation_audit": _hash_sql(67),
    "animated_webp_video_audit": _frame_sql(107),
    "multimodal_tiff_phash_audit": _hash_sql(97),
    "multimodal_mjpeg_video_audit": _frame_sql(113),
    "animated_apng_video_audit": _frame_sql(139),
}
