"""Perceptual and audio hashes over decoded media, and the near-dup
joins and cap reports built on them.

Image hashes — ``ahash64`` / ``dhash64`` (integer box means) and
``dct_phash64`` (32×32 DCT-II low band) — run on the pixels
``media_decode.decode_pixels`` returns; ``video_frame_hashes`` hashes
every AVI / animated GIF / APNG / animated WebP frame;
``audio_fingerprint64`` and ``audio_window_hashes`` fingerprint WAV
samples. Every Spark-side pass goes through one id-preserving Arrow
emitter (``_hash_rows``): payloads stay inside the pass, only small
hash rows leave it. Near-dup pairs reuse the banded Manku join
(``phash_near_dup_pairs``) or the inverted-index containment join
(``video_near_dup_pairs`` / ``audio_near_dup_pairs``), and each skew
guard has a one-row ``*_cap_report`` that says what it excluded.
"""

from __future__ import annotations

from collections.abc import Iterator
from math import comb

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from tidb_cdc_spark.functions.media_decode import (
    decode_apng_frames,
    decode_avi_frames,
    decode_gif_frames,
    decode_pixels,
    decode_wav_samples,
    decode_webp_anim_frames,
)
from tidb_cdc_spark.functions.media_probe import GIF_MAGIC, PNG_MAGIC


def _hash_rows(
    media: DataFrame,
    id_col: str,
    payload_col: str,
    fields: list,
    rows,
) -> DataFrame:
    """The one Arrow pass behind every hash function: ``rows(payload)``
    lists the output tuples (one value per ``fields`` entry) for one
    media row — ``payload`` is None for a NULL cell — and each tuple
    becomes one output row keyed by that media's id. The id column
    keeps its incoming name and type; LongType fields are emitted as
    nullable Int64, IntegerType fields as Int32."""
    out_schema = StructType([media.schema[id_col], *fields])
    dtypes = [
        "Int64" if isinstance(f.dataType, LongType) else "Int32" for f in fields
    ]

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, out = [], []
            for mid, raw in zip(pdf[id_col], pdf[payload_col]):
                for row in rows(None if raw is None else bytes(raw)):
                    ids.append(mid)
                    out.append(row)
            cols = list(zip(*out)) if out else [()] * len(fields)
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype=pdf[id_col].dtype),
                    **{
                        f.name: pd.array(list(c), dtype=dt)
                        for f, c, dt in zip(fields, cols, dtypes)
                    },
                }
            )

    return media.mapInPandas(emit, schema=out_schema)


def _box_means(gray, cells_w: int, cells_h: int):
    """Integer box-downsample: cell (i, j) is the truncating mean of
    pixels x ∈ [j·W//cw, (j+1)·W//cw), y ∈ [i·H//ch, (i+1)·H//ch).
    All-integer so the hash is bit-reproducible on any platform.
    Computed via a summed-area table — one cumsum pass + 4 lookups
    per cell instead of per-cell slice reductions (the hash path runs
    per media row inside the Arrow pass; this is its hot loop)."""
    h, w = gray.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    xs = np.array([j * w // cells_w for j in range(cells_w + 1)])
    ys = np.array([i * h // cells_h for i in range(cells_h + 1)])
    corners = ii[np.ix_(ys, xs)]
    sums = (
        corners[1:, 1:]
        - corners[:-1, 1:]
        - corners[1:, :-1]
        + corners[:-1, :-1]
    )
    areas = np.outer(np.diff(ys), np.diff(xs))
    return sums // areas


def _to_signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def _above(values, thresh) -> int:
    """Signed 64-bit word with bit k set iff ``values[k] > thresh``."""
    h = 0
    for k, val in enumerate(values):
        if val > thresh:
            h |= 1 << k
    return _to_signed64(h)


def ahash64(gray) -> "int | None":
    """Average-hash: 8×8 integer box means, bit b set iff cell b's
    mean exceeds the truncating mean of all 64 cell means (bit index
    = row-major cell index). Invariant under a uniform brightness
    shift that stays in-range: every cell mean and the threshold
    shift by exactly δ (integer means of uniformly shifted pixels),
    so every comparison is unchanged. Returned as a SIGNED 64-bit
    value (Spark LongType two's-complement); None for images smaller
    than 8×8, whose grid would have empty cells."""
    if gray.shape[0] < 8 or gray.shape[1] < 8:
        return None
    m = _box_means(gray, 8, 8)
    return _above(m.ravel().tolist(), int(m.sum()) // 64)


def dhash64(gray) -> "int | None":
    """Difference-hash: 9×8 integer box means, bit (i·8+j) set iff
    cell (i, j+1)'s mean exceeds cell (i, j)'s — horizontal gradient
    signs. Shares the brightness-shift invariance of :func:`ahash64`
    (both means shift by δ exactly). Signed 64-bit; None below 9
    pixels wide or 8 tall."""
    if gray.shape[0] < 8 or gray.shape[1] < 9:
        return None
    m = _box_means(gray, 9, 8)
    return _above((m[:, 1:] - m[:, :-1]).ravel().tolist(), 0)


def perceptual_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-media perceptual hashes via the REAL pixel path: one
    Arrow-batched pass decoding payloads through the
    :func:`~tidb_cdc_spark.functions.media_decode.decode_pixels`
    boundary and emitting (id, ahash, dhash). Payloads with no
    available pixel path emit NULL hashes rather than a fake value —
    no pixel evidence, no perceptual claim. Output rows are 24 B — at
    100 TB of media the hashes shuffle, the pixels never do. The id
    column keeps its incoming name and type."""

    def rows(payload):
        gray = None if payload is None else decode_pixels(payload)
        if gray is None:
            return [(None, None)]
        return [(ahash64(gray), dhash64(gray))]

    return _hash_rows(
        media,
        id_col,
        payload_col,
        [StructField("ahash", LongType()), StructField("dhash", LongType())],
        rows,
    )


#: per-frame hash rows: the inverted-index format for video near-dup.
def video_frame_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, frame_idx, fhash): per-frame aHash rows via the REAL
    video path — one Arrow pass decoding uncompressed-AVI frames
    (``decode_avi_frames``) or ANIMATED-GIF rendering blocks
    composed to logical-screen snapshots (``decode_gif_frames``
    — the web's actual animation format, routed by magic bytes) and
    hashing each with the shared :func:`ahash64`. Media without a
    pure-Python frame path emit NO rows here (route them through
    the header probe / exact digest paths — no frame evidence, no
    frame claim). Output rows are ~28 B: at 100 TB of video only
    frame hashes shuffle."""

    def rows(b):
        if b is None:
            return []
        if b[:6] in GIF_MAGIC:
            # animated GIF: composed logical-screen snapshots
            frames = decode_gif_frames(b)
        elif b[:8] == PNG_MAGIC:
            # animated PNG: fcTL rects composed per the spec
            # (a still PNG has no acTL → None → no rows)
            frames = decode_apng_frames(b)
        elif (
            len(b) >= 21
            and b[:4] == b"RIFF"
            and b[8:12] == b"WEBP"
            and b[12:16] == b"VP8X"
            and b[20] & 0x02
        ):
            # animated WebP: ANMF frames composed per RFC 9649
            frames = decode_webp_anim_frames(b)
        else:
            frames = decode_avi_frames(b)
        # a frame too small to hash is no frame evidence: no row
        hashed = ((k, ahash64(gray)) for k, gray in enumerate(frames or ()))
        return [(k, h) for k, h in hashed if h is not None]

    return _hash_rows(
        media,
        id_col,
        payload_col,
        [
            StructField("frame_idx", IntegerType()),
            StructField("fhash", LongType()),
        ],
        rows,
    )


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    min_shared_frames: int = 4,
    max_frame_freq: "int | None" = 1000,
) -> DataFrame:
    """(id_a, id_b, shared_frames): video near-duplicate pairs —
    videos sharing ≥ ``min_shared_frames`` DISTINCT frame hashes,
    the shot-level containment test that catches trims, re-muxes,
    and brightness-normalized re-encodes (per-frame aHash is
    shift-invariant) without any all-pairs comparison.

    Plan: distinct (id, fhash) → self-equi-join on the frame hash
    (the inverted index — per-hash fan-out bounded by
    ``max_frame_freq``, the viral-frame guard: a black frame or a
    studio logo card appears in MILLIONS of videos and would alone
    re-create the quadratic; same contract as the text ops'
    ``max_doc_freq``) → pair-count aggregate ≥ threshold. Linear in
    total frames; ids-only through the shuffle."""
    fh = frame_hashes.select(
        F.col(id_col).alias("_id"), F.col("fhash").alias("_fh")
    ).distinct()
    if max_frame_freq is not None:
        from tidb_cdc_spark.functions.dedup import _materialize

        fh = _materialize(
            fh.withColumn(
                "_ff", F.count(F.lit(1)).over(Window.partitionBy("_fh"))
            )
            .filter(F.col("_ff") <= max_frame_freq)
            .drop("_ff")
        )
    left = fh.select(F.col("_id").alias("id_a"), "_fh")
    right = fh.select(F.col("_id").alias("id_b"), "_fh")
    return (
        left.join(right, "_fh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared_frames)
    )


def video_frame_cap_report(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "fhash",
    max_frame_freq: int = 1000,
) -> DataFrame:
    """One-row audit of what :func:`video_near_dup_pairs`'s
    ``max_frame_freq`` viral-frame guard EXCLUDES — the video member
    of the no-silent-caps family (``winnow_cap_report`` template):
    ``(capped_fhashes, affected_media, total_fhashes, max_freq)``
    over the distinct ``(media, frame-hash)`` inverted index the
    pair join runs on. ``affected_media`` counts videos holding ≥1
    over-cap frame hash — for those, shared-frame counts (and hence
    the ≥``min_shared_frames`` containment test) run over a reduced
    frame set. A run reads this row next to the pair list to see
    which slice of the catalog the shot-level guarantee is weakened
    for (black frames, logo cards). Cost: the same distinct +
    frame-frequency pass the guarded join already runs; the viral
    list is tiny at any scale."""
    from tidb_cdc_spark.session import materialize

    # materialized twice over: fh feeds the frequency agg AND the
    # affected-media semi-join, freq feeds the stats AND the viral
    # list — without this the upstream synth/decode Arrow chain runs
    # once per consumer (measured 7.5 s → 0.34 s on the audit plant)
    fh = materialize(
        frame_hashes.select(
            F.col(id_col).alias("_id"), F.col(hash_col).alias("_fh")
        ).distinct()
    )
    freq = materialize(
        fh.groupBy("_fh").agg(F.count(F.lit(1)).alias("_ff"))
    )
    stats = freq.agg(
        F.count(F.when(F.col("_ff") > max_frame_freq, F.lit(1))).alias(
            "capped_fhashes"
        ),
        F.count(F.lit(1)).alias("total_fhashes"),
        F.coalesce(F.max("_ff"), F.lit(0)).cast("long").alias("max_freq"),
    )
    viral = freq.filter(F.col("_ff") > max_frame_freq).select("_fh")
    affected = fh.join(F.broadcast(viral), "_fh", "left_semi").agg(
        F.count_distinct("_id").alias("affected_media")
    )
    return stats.crossJoin(F.broadcast(affected)).select(
        "capped_fhashes", "affected_media", "total_fhashes", "max_freq"
    )


def audio_fingerprint64(samples) -> "int | None":
    """Energy aHash over PCM samples: 64 equal frames, bit k set iff
    frame k's truncating mean |amplitude| exceeds the truncating
    mean of all 64 frame energies. The audio analog of
    :func:`ahash64` — invariant under clipping-free amplitude
    scaling (every frame energy and the threshold scale together) —
    computed with the same integer box-mean helper. Signed 64-bit;
    None below 64 samples, where some frame would be empty."""
    if len(samples) < 64:
        return None
    m = _box_means(np.abs(samples)[None, :], 64, 1).ravel()
    return _above(m.tolist(), int(m.sum()) // 64)


def audio_fingerprints(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-media audio fingerprints via the REAL sample path: one
    Arrow-batched pass decoding WAV payloads
    (``decode_wav_samples``) and emitting (id, afp). Payloads
    without a pure-Python sample path emit NULL — no fake values
    (swap the decoder for ffmpeg where codecs exist). Near-dup pairs
    over the fingerprint reuse :func:`phash_near_dup_pairs`
    (any 64-bit hash column)."""

    def rows(payload):
        x = None if payload is None else decode_wav_samples(payload)
        return [(None if x is None else audio_fingerprint64(x),)]

    return _hash_rows(
        media, id_col, payload_col, [StructField("afp", LongType())], rows
    )


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    max_hamming: int = 3,
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """Perceptual near-duplicate pairs over a 64-bit image hash —
    the LAION-pipeline fuzzy twin of the exact payload dedup
    (``queries/media.py::multimodal_dedup_audit``): (id_a, id_b,
    hamming) for every pair within ``max_hamming`` bits.

    The pair join IS :func:`tidb_cdc_spark.functions.dedup.
    simhash_pairs_from_sigs` — Manku permuted tables over the hash,
    linear in corpus size — because a perceptual hash and a SimHash
    pose the identical banded-Hamming-join problem; only the
    signature differs. NULL hashes (undecodable payloads) are
    screened out first. ``max_bucket_size`` is the viral-family skew
    guard (same contract as the text ops); pass ``None`` when the
    workload's duplicate families are the signal being measured."""
    from tidb_cdc_spark.functions.dedup import simhash_pairs_from_sigs

    sig = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_sh")
    )
    return simhash_pairs_from_sigs(
        sig, max_hamming=max_hamming, max_bucket_size=max_bucket_size
    )


def phash_cap_report(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    max_hamming: int = 3,
    blocks: int = 6,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """One-row audit of what :func:`phash_near_dup_pairs`'s
    ``max_bucket_size`` skew guard EXCLUDES — the perceptual-hash
    member of the repo's no-silent-caps family
    (``functions/winnow.py::winnow_cap_report`` is the template):
    ``(capped_buckets, affected_media, blinded_media, total_buckets,
    max_bucket)`` over the SAME Manku permuted-table buckets the
    pair join keys on.

    ``affected_media`` counts media sitting in ≥1 oversized
    ``(table, key)`` bucket — their recall is degraded (some clean-
    block tables dropped). ``blinded_media`` counts media whose
    EVERY table bucket is oversized — these are fully invisible to
    the banded join (the only way a true pair is lost, per
    ``simhash_pairs_from_sigs``'s contract: all of a pair's
    clean-block tables oversized ⇒ both sides inside a ≥cap-sized
    mutual near-dup family). A curation run reads this row next to
    the pair list to see exactly which recall statement it still
    has.

    Cost: the identical explode + bucket-count window pass the
    guarded pair join already runs, minus the self-join — linear in
    n, ids and two longs through the shuffle. The per-id
    oversized-membership count is a second window over the SAME
    explode output (each id appears exactly once per table)."""
    from tidb_cdc_spark.functions.dedup import manku_table_keys
    from tidb_cdc_spark.session import materialize

    n_tables = comb(blocks, blocks - max_hamming)
    sig = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_sh")
    )
    # materialized: the bucket stats AND the per-id oversized count
    # both consume the exploded keys — without this the upstream
    # hash/decode chain runs once per consumer
    keyed = materialize(
        manku_table_keys(
            sig, max_hamming=max_hamming, blocks=blocks
        ).withColumn(
            "_bs",
            F.count(F.lit(1)).over(Window.partitionBy("_table", "_key")),
        )
    )
    buckets = keyed.groupBy("_table", "_key").agg(
        F.first("_bs").alias("_bs")
    )
    stats = buckets.agg(
        F.count(F.when(F.col("_bs") > max_bucket_size, F.lit(1))).alias(
            "capped_buckets"
        ),
        F.count(F.lit(1)).alias("total_buckets"),
        F.coalesce(F.max("_bs"), F.lit(0)).cast("long").alias("max_bucket"),
    )
    per_id = keyed.groupBy("_id").agg(
        F.count(
            F.when(F.col("_bs") > max_bucket_size, F.lit(1))
        ).alias("_over")
    )
    impact = per_id.agg(
        F.count(F.when(F.col("_over") > 0, F.lit(1))).alias(
            "affected_media"
        ),
        F.count(F.when(F.col("_over") == n_tables, F.lit(1))).alias(
            "blinded_media"
        ),
    )
    return stats.crossJoin(F.broadcast(impact)).select(
        "capped_buckets",
        "affected_media",
        "blinded_media",
        "total_buckets",
        "max_bucket",
    )


# --------------------------------------- trim-robust audio near-dup
# The whole-clip fingerprint (``audio_fingerprint64``) is gain-
# invariant but trim-VARIANT: cutting windows off the front moves
# every frame boundary, so a trimmed re-encode hashes differently.
# The fix is the same one video uses (``video_frame_hashes`` →
# ``video_near_dup_pairs``): hash fixed-length WINDOWS and join on
# shared window hashes — a copy trimmed by whole windows still
# shares every surviving aligned window. Arbitrary-offset trims need
# landmark/peak fingerprints (Shazam-style) — codec-adjacent DSP,
# out of scope like compressed audio itself.


def audio_window_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    window_samples: int = 512,
) -> DataFrame:
    """(id, window_idx, whash): per-window energy fingerprints via
    the REAL sample path — the audio analog of
    :func:`video_frame_hashes`. Decodes WAV payloads
    (``decode_wav_samples``), splits the mono stream into fixed
    windows of ``window_samples`` and fingerprints each with the
    shared :func:`audio_fingerprint64` (per-window gain invariance
    carries over). The trailing partial window is dropped — a
    deterministic boundary, so two streams sharing a whole window
    share its hash. Non-WAV payloads emit NO rows (header-probe /
    exact-digest territory — no sample evidence, no window claim).
    Output rows are ~20 B: at 100 TB of audio only window hashes
    shuffle, the samples never do."""

    def rows(payload):
        x = None if payload is None else decode_wav_samples(payload)
        if x is None:
            return []
        hashed = (
            (k, audio_fingerprint64(x[k * window_samples : (k + 1) * window_samples]))
            for k in range(len(x) // window_samples)
        )
        # windows under 64 samples cannot be fingerprinted: no rows
        return [(k, h) for k, h in hashed if h is not None]

    return _hash_rows(
        media,
        id_col,
        payload_col,
        [
            StructField("window_idx", IntegerType()),
            StructField("whash", LongType()),
        ],
        rows,
    )


def audio_near_dup_pairs(
    window_hashes: DataFrame,
    id_col: str = "media_id",
    min_shared_windows: int = 4,
    max_window_freq: "int | None" = 1000,
) -> DataFrame:
    """(id_a, id_b, shared_windows): audio near-duplicate pairs —
    clips sharing ≥ ``min_shared_windows`` DISTINCT window hashes.
    Catches the trim+regain re-encode (different bytes, different
    whole-clip fingerprint) that both the exact digest path and the
    clip fingerprint structurally cannot.

    The join IS :func:`video_near_dup_pairs` — per-window audio
    hashes and per-frame video hashes pose the identical
    inverted-index containment problem (``max_window_freq`` is the
    same viral guard: silence / a jingle appears in millions of
    clips and would alone re-create the quadratic)."""
    wh = window_hashes.select(
        F.col(id_col), F.col("whash").alias("fhash")
    )
    return video_near_dup_pairs(
        wh,
        id_col=id_col,
        min_shared_frames=min_shared_windows,
        max_frame_freq=max_window_freq,
    ).withColumnRenamed("shared_frames", "shared_windows")


def audio_window_cap_report(
    window_hashes: DataFrame,
    id_col: str = "media_id",
    max_window_freq: int = 1000,
) -> DataFrame:
    """One-row audit of what :func:`audio_near_dup_pairs`'s
    ``max_window_freq`` viral-window guard EXCLUDES — the audio
    member of the no-silent-caps family, and (like the pair join
    itself) a direct reuse of the video machinery: digital silence
    or a jingle sting is the audio analog of the black frame.
    Columns ``(capped_whashes, affected_media, total_whashes,
    max_freq)`` over the distinct ``(media, whash)`` inverted index."""
    wh = window_hashes.select(
        F.col(id_col), F.col("whash").alias("fhash")
    )
    return (
        video_frame_cap_report(
            wh, id_col=id_col, max_frame_freq=max_window_freq
        )
        .withColumnRenamed("capped_fhashes", "capped_whashes")
        .withColumnRenamed("total_fhashes", "total_whashes")
    )


# ------------------------------------------- DCT perceptual hash
# The pHash algorithm proper (the third member of the perceptual
# family next to aHash/dHash): downsample, 2-D DCT-II, threshold the
# low-frequency block at its median. Its practical edge over the
# box-mean hashes is low-pass robustness — per-pixel high-frequency
# perturbations (dither, sharpening halos, sensor noise) land in
# DCT frequencies the hash never looks at.


def _dct32_basis():
    """Orthonormal 32-point DCT-II basis (float64). Built from
    ``np.cos`` directly — no scipy dependency."""
    n = 32
    k = np.arange(n)[:, None]
    x = np.arange(n)[None, :]
    c = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    c[0, :] = 1.0 / np.sqrt(n)
    return c


_DCT32 = _dct32_basis()


def dct_phash64(gray) -> "int | None":
    """DCT perceptual hash: 32×32 integer box means → orthonormal
    2-D DCT-II (float64) → keep the top-left 8×8 low-frequency block
    → round each coefficient to the nearest integer → bit k set iff
    coefficient k exceeds the MEDIAN of the 64 (the imagehash
    convention, DC included — DC sits above the median and carries a
    constant bit). Returns None for images smaller than 32×32 (the
    downsample grid would have empty boxes — no hash evidence).

    The integer rounding is load-bearing: a uniform brightness shift
    δ moves ONLY the DC coefficient mathematically (every AC basis
    row sums to zero), but float64 evaluation leaves ~1e-13·δ
    residue on the AC terms — and synthetic/flat images have
    STRUCTURALLY zero AC coefficients whose comparisons would
    otherwise be float-noise coin flips. Rounding quantizes the
    residue away, making the hash tie-deterministic and
    brightness-shift invariant exactly (pinned over the audit's full
    plant domain in tests/test_phash.py). Signed 64-bit.

    Platform caveat: this is the one hash in the perceptual family
    computed in float64 (np.cos basis + two matmuls) — aHash/dHash's
    all-integer determinism does NOT carry over. ``np.rint`` absorbs
    the ~1e-13 residue only while no true coefficient lands near an
    x.5 boundary, where a different BLAS/platform could round the
    other way. For the planted audit family this is PROVABLY
    absorbed: tests/test_phash.py asserts every low-frequency
    coefficient of all 101 plant words (both variants) sits ≥1e-4
    from the nearest .5 boundary (measured min 2.99e-4) — seven
    orders above the ~1e-11 cross-BLAS evaluation error bound — so
    the oracle hash is platform-independent. Arbitrary real images
    carry no such guarantee; treat cross-platform pHash equality as
    probabilistic at the last ulp."""
    if gray.shape[0] < 32 or gray.shape[1] < 32:
        return None
    m = _box_means(gray, 32, 32).astype(np.float64)
    low = np.rint((_DCT32 @ m @ _DCT32.T)[:8, :8].ravel())
    return _above(low.tolist(), np.median(low))


def dct_phashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-media DCT perceptual hashes via the REAL pixel path —
    (id, phash) over payloads decodable through the
    ``decode_pixels`` boundary, NULL for everything else — the same
    contract as :func:`perceptual_hashes`. Near-dup pairs over the
    hash reuse :func:`phash_near_dup_pairs` (``hash_col="phash"``)."""

    def rows(payload):
        gray = None if payload is None else decode_pixels(payload)
        return [(None if gray is None else dct_phash64(gray),)]

    return _hash_rows(
        media, id_col, payload_col, [StructField("phash", LongType())], rows
    )
