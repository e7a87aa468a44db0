"""Pixel-path perceptual hashing: the pure-Python BMP decode, the
aHash/dHash lemmas the planted oracle of ``multimodal_phash_audit``
relies on, and the banded near-dup join.

Lemma inventory (each pinned here, cited by the oracle docstring):
1. aHash of the planted 8×8 block pattern == the pattern byte's bits
   replicated across the 64 cells (⇒ injective over v).
2. Both hashes are invariant under a uniform +20 brightness shift.
3. Any two distinct pattern bytes differ in ≥8 aHash bits (the
   cross-cluster Hamming margin that makes τ=3 pairs exactly the
   within-cluster pairs).
4. dHash's distinct count over the full v domain is pinned (it is
   NOT injective by design — the oracle uses it only through the
   per-cluster-invariance column).
"""

from __future__ import annotations

import numpy as np
import pytest

from tidb_cdc_spark.functions.media_decode import decode_bmp_pixels
from tidb_cdc_spark.functions.media_hash import (
    ahash64,
    dhash64,
    perceptual_hashes,
    phash_near_dup_pairs,
)
from tidb_cdc_spark.functions.media_synth import synth_bmp_pixel_media

W, H = 70, 64


def _pattern(v: int, delta: int) -> np.ndarray:
    """The synth's pixel formula, reconstructed independently."""
    def cells(n):
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    bit_idx = (cells(H)[:, None] * 8 + cells(W)[None, :]) % 8
    return np.where((v >> bit_idx) & 1, 180, 60) + delta


def _unsigned(h: int) -> int:
    return h + (1 << 64) if h < 0 else h


def test_ahash_replication_shift_invariance_and_margin():
    hashes = {}
    for v in range(1, 255):
        g0, g20 = _pattern(v, 0), _pattern(v, 20)
        a0 = _unsigned(ahash64(g0))
        assert a0 == _unsigned(ahash64(g20)), f"ahash shift-variant v={v}"
        assert dhash64(g0) == dhash64(g20), f"dhash shift-variant v={v}"
        expect = sum(((v >> (b % 8)) & 1) << b for b in range(64))
        assert a0 == expect, f"ahash != bit replication at v={v}"
        hashes[v] = a0
    assert len(set(hashes.values())) == 254  # injective
    min_ham = min(
        bin(hashes[a] ^ hashes[b]).count("1")
        for a in range(1, 255)
        for b in range(a + 1, 255)
    )
    assert min_ham == 8  # every flipped v-bit flips its 8 replicas


def test_dhash_distinctness_pinned():
    # NOT injective over v — by design the oracle never relies on
    # dHash's global distinctness, only per-cluster invariance. Pin
    # the measured value so a silent hash change is visible.
    distinct = len({dhash64(_pattern(v, 0)) for v in range(1, 255)})
    assert distinct == 69


def test_bmp_roundtrip_both_orientations(spark):
    from tidb_cdc_spark.functions.media_probe import parse_image_header

    rows = [(1, 7, 0), (2, 8, 20), (3, 101, 0)]  # odd v = top-down
    expected = {mid: (v, d) for mid, v, d in rows}
    df = spark.createDataFrame(rows, "media_id long, pattern int, shift int")
    for r in synth_bmp_pixel_media(df, "media_id").collect():
        v, d = expected[r.media_id]
        gray = decode_bmp_pixels(bytes(r.payload))
        assert gray is not None and gray.shape == (H, W)
        assert (gray == _pattern(v, d)).all()
        # header parser agrees on dims (negative stored height abs'd)
        assert parse_image_header(bytes(r.payload)) == ("image/bmp", W, H)


def test_decode_rejects_non_decodable():
    import struct

    assert decode_bmp_pixels(b"\x89PNG\r\n\x1a\x08" + b"\x00" * 64) is None
    assert decode_bmp_pixels(b"BM" + b"\x00" * 20) is None  # short
    # BITMAPCOREHEADER (no compression field) is header-parse-only
    core = (
        b"BM"
        + b"\x00" * 12
        + struct.pack("<I", 12)
        + struct.pack("<HHHH", 4, 4, 1, 24)
    )
    assert decode_bmp_pixels(core) is None


def test_truncated_payload_rejected(spark):
    df = spark.createDataFrame([(1, 2, 0)], "media_id long, pattern int, shift int")
    payload = bytes(synth_bmp_pixel_media(df, "media_id").collect()[0].payload)
    assert decode_bmp_pixels(payload) is not None
    assert decode_bmp_pixels(payload[: len(payload) // 2]) is None


def test_perceptual_hashes_null_for_unrecognized(spark):
    from tidb_cdc_spark.functions.media_probe import synthesize_media

    hashed = perceptual_hashes(synthesize_media(spark, 6)).collect()
    assert len(hashed) == 6
    assert all(r.ahash is None and r.dhash is None for r in hashed)


def test_phash_near_dup_pairs_planted(spark):
    # 2 clusters of identical/shifted plants + 1 singleton:
    # pairs = C(3,2) + C(2,2→1) = 3 + 1, all hamming 0, no cross pairs
    rows = [
        (10, 5, 0),
        (11, 5, 0),
        (12, 5, 20),
        (20, 9, 0),
        (21, 9, 20),
        (30, 77, 0),
    ]
    df = spark.createDataFrame(rows, "media_id long, pattern int, shift int")
    hashes = perceptual_hashes(synth_bmp_pixel_media(df, "media_id"))
    pairs = phash_near_dup_pairs(hashes, max_bucket_size=None).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got == {
        (10, 11): 0,
        (10, 12): 0,
        (11, 12): 0,
        (20, 21): 0,
    }


def test_phash_pairs_plan_shape(spark):
    """The pair join must be the banded equi-join — no cartesian
    product, no row-at-a-time Python in the join stage."""
    df = spark.createDataFrame(
        [(i, 1 + i % 254, 0) for i in range(20)],
        "media_id long, pattern int, shift int",
    )
    hashes = perceptual_hashes(synth_bmp_pixel_media(df, "media_id"))
    plan = (
        phash_near_dup_pairs(hashes, max_bucket_size=None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_media_curation_pipeline_non_vacuous(spark):
    """Both stages must do real work on the plant: exact dedup
    collapses byte-identical twins, perceptual collapses the
    shifted copies exact hashing cannot."""
    from tidb_cdc_spark.queries.media import media_curation_pipeline

    row = media_curation_pipeline(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_media > row.after_exact > row.after_perceptual > 0


# ------------------------------------------ DCT pHash lemmas
# multimodal_dct_phash_audit's planted oracle rests on three
# deterministic properties of the 101-word plant family — pinned
# here over the FULL domain the audit uses:
# 7. Brightness shift (+20) and per-pixel checkerboard noise (±6)
#    leave dct_phash64 EXACTLY unchanged (shift moves only the
#    rounded-away DC; even-height downsample boxes cancel the
#    checkerboard exactly).
# 8. The hash is injective over the 101 audit words.
# 9. Min pairwise Hamming over those hashes is 4 — strictly above
#    the banded join's tau=3, so no cross-cluster pair can exist.


def _block16_gray(word: int, delta: int, eps: int, w: int = 70, h: int = 64):
    """synth_bmp_block16_media's pixel formula, reconstructed
    independently."""
    def blocks(n):
        bounds = [i * n // 4 for i in range(1, 4)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = blocks(w), blocks(h)
    bit_idx = yb[:, None] * 4 + xb[None, :]
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    checker = np.where((xx + yy) % 2 == 0, 1, -1)
    return (
        np.where((word >> bit_idx) & 1, 180, 60) + delta + eps * checker
    ).astype(np.int64)


def test_dct_phash_invariance_injectivity_margin():
    from itertools import combinations

    from tidb_cdc_spark.functions.media_hash import dct_phash64

    words = [1 + (pid * 643) % 65534 for pid in range(101)]
    assert len(set(words)) == 101
    hashes = []
    for wd in words:
        base = dct_phash64(_block16_gray(wd, 0, 0))
        for delta, eps in [(20, 0), (0, 6), (20, 6)]:
            assert dct_phash64(_block16_gray(wd, delta, eps)) == base, (
                wd, delta, eps,
            )
        hashes.append(_unsigned(base))
    assert len(set(hashes)) == 101  # injective over the audit words
    assert min(
        bin(a ^ b).count("1") for a, b in combinations(hashes, 2)
    ) == 4  # margin > tau=3: cross-cluster pairs impossible


def test_dct_phash_small_image_returns_none():
    from tidb_cdc_spark.functions.media_hash import dct_phash64

    assert dct_phash64(np.full((16, 70), 100, dtype=np.int64)) is None
    assert dct_phash64(np.full((64, 16), 100, dtype=np.int64)) is None


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_box_mean_hashes_refuse_empty_cells():
    """Below 8×8 pixels (9 wide for dHash) or 64 audio samples some
    box-mean cell is empty: the hashes return None instead of dividing
    by a zero area. Runs with RuntimeWarning as an error, so a
    division by zero fails the test."""
    from tidb_cdc_spark.functions.media_hash import audio_fingerprint64

    for shape in [(4, 4), (7, 70), (64, 7), (0, 0)]:
        assert ahash64(np.full(shape, 100, dtype=np.int64)) is None, shape
    for shape in [(8, 8), (7, 70), (64, 3)]:
        assert dhash64(np.full(shape, 100, dtype=np.int64)) is None, shape
    for n in (0, 1, 63):
        assert audio_fingerprint64(np.full(n, 1000, dtype=np.int16)) is None, n
    # the smallest sizes with no empty cell still hash
    assert ahash64(np.full((8, 8), 100, dtype=np.int64)) is not None
    assert dhash64(np.full((8, 9), 100, dtype=np.int64)) is not None
    assert audio_fingerprint64(np.full(64, 1000, dtype=np.int16)) is not None


def test_dct_phashes_roundtrip_and_null_contract(spark):
    """Spark path: synthesized block-16 BMPs hash to the numpy
    reference; unrecognized payloads get NULL (not a fake value)."""
    from tidb_cdc_spark.functions.media_hash import dct_phash64, dct_phashes
    from tidb_cdc_spark.functions.media_synth import synth_bmp_block16_media

    ids = spark.createDataFrame(
        [(1, 777, 0, 0), (2, 777, 20, 6), (3, 31000, 0, 0)],
        "media_id long, word int, shift int, noise int",
    )
    media = synth_bmp_block16_media(ids, "media_id")
    rows = {r.media_id: r.phash for r in dct_phashes(media).collect()}
    assert rows[1] == rows[2] == dct_phash64(_block16_gray(777, 0, 0))
    assert rows[3] == dct_phash64(_block16_gray(31000, 0, 0))
    assert rows[1] != rows[3]
    junk = spark.createDataFrame(
        [(9, b"\x89PNG not a bmp")], "media_id long, payload binary"
    )
    assert [r.phash for r in dct_phashes(junk).collect()] == [None]


def test_decode_pixels_boundary_bmp_and_null():
    """decode_pixels prefers the deterministic pure-Python BMP path
    and returns None (the documented NULL-hash path) for compressed
    formats when no codec library exists."""
    from tidb_cdc_spark.functions.media_decode import decode_pixels

    import struct

    v, d = 9, 0
    # build a BMP through the synth formula indirectly: reuse the
    # decode path on a known-good payload is circular — instead
    # check decode_pixels == decode_bmp_pixels on a synth payload
    # (exercised via Spark elsewhere; here a handmade 2x2 BMP)
    w, h = 2, 2
    stride = (w * 3 + 3) & ~3
    px = bytearray()
    for row in ((10, 200), (60, 180)):
        line = bytearray()
        for val in row:
            line += bytes([val, val, val])
        line += b"\x00" * (stride - len(line))
        px += line
    payload = (
        b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(px), 0, 0, 0, 0)
        + bytes(px)
    )
    from tidb_cdc_spark.functions.media_decode import decode_bmp_pixels

    a, b = decode_pixels(payload), decode_bmp_pixels(payload)
    assert a is not None and (a == b).all()


def test_jpeg_decodes_to_same_ahash_as_bmp_twin():
    """Guarded PIL-branch contract: a JPEG and an
    uncompressed-BMP encoding of the SAME 8x8 block image must aHash
    identically — the BMP through the pure-Python path, the JPEG
    through decode_pixels' PIL branch. The block plant's 120-luma
    cell contrast dwarfs JPEG quantization noise, so the equality is
    robust at quality 95. SKIPS in this container (no PIL — the
    skip reason below is itself pinned by
    test_pil_absent_in_container_pins_skip_reason)."""
    import pytest

    from tidb_cdc_spark.functions.media_decode import decode_pixels
    from tidb_cdc_spark.functions.media_hash import ahash64
    from tidb_cdc_spark.functions.media_probe import _PIL_Image

    if _PIL_Image is None:
        pytest.skip(
            "PIL not importable in this container — the JPEG decode "
            "branch is exercised only on decode fleets with codecs"
        )
    import io

    gray = _pattern(23, 0)
    rgb = np.repeat(gray[:, :, None], 3, axis=2).astype(np.uint8)
    im = _PIL_Image.fromarray(rgb, "RGB")
    bmp_buf, jpg_buf = io.BytesIO(), io.BytesIO()
    im.save(bmp_buf, "BMP")
    im.save(jpg_buf, "JPEG", quality=95)
    g_bmp = decode_pixels(bmp_buf.getvalue())
    g_jpg = decode_pixels(jpg_buf.getvalue())
    assert g_bmp is not None and g_jpg is not None
    assert ahash64(g_bmp) == ahash64(g_jpg)


def test_pil_absent_in_container_pins_skip_reason():
    """Pin the environment fact the guarded test's skip rests on: if
    PIL ever becomes importable here, this fails and the JPEG-twin
    test above must be the one running instead."""
    from tidb_cdc_spark.functions.media_probe import _PIL_Image

    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    assert (_PIL_Image is not None) == have_pil


def test_dct_plant_coefficients_clear_rounding_boundaries():
    """dct_phash64 is float64 (BLAS matmuls) — rounding
    determinism across platforms holds only if no true coefficient
    sits near an x.5 boundary where float residue could flip
    np.rint the other way. Prove the audit family is safe: every
    low-frequency coefficient of all 101 plant words, BOTH variants,
    sits >= 1e-4 from the nearest .5 boundary (measured minimum
    2.99e-4). Cross-BLAS evaluation error on a 32-point orthonormal
    DCT of means <= ~6400 is O(n*eps*|x|) ~ 1e-11 — the margin
    dominates it by seven orders, so cross-platform drift is
    provably absorbed. (A 0.05 margin was once proposed;
    that margin is empirically FALSE for this family — 200 of the
    12,928 coefficients sit closer — so the guard pins the margin
    that is actually true and still conclusive.)"""
    from tidb_cdc_spark.functions.media_hash import _box_means, _dct32_basis

    c = _dct32_basis()
    worst = 1.0
    for pid in range(101):
        wd = 1 + (pid * 643) % 65534
        for delta, eps in [(0, 0), (20, 6)]:
            m = _box_means(_block16_gray(wd, delta, eps), 32, 32).astype(
                np.float64
            )
            low = (c @ m @ c.T)[:8, :8].ravel()
            frac = np.abs(low - np.floor(low) - 0.5)  # 0 at a boundary
            worst = min(worst, float(frac.min()))
    assert worst >= 1e-4, f"coefficient within {worst} of a .5 boundary"
