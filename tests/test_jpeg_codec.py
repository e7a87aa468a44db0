"""Baseline-JPEG decode (functions/jpeg.py): the lossy codec made
provably exact on block-aligned flat plants (DC-only spectra, quant
step 1), with round-trip tolerance bounds for general images and
rejects pinned for everything outside the supported envelope."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tidb_cdc_spark.functions.jpeg import (
    _IDCT_M,
    decode_jpeg_pixels,
    encode_jpeg,
    encode_jpeg_progressive,
)
from tidb_cdc_spark.functions.media_decode import decode_pixels
from tidb_cdc_spark.functions.media_hash import ahash64


def _rng():
    return np.random.default_rng(20260817)


def _pattern64(v: int, shift: int = 0):
    """The 64×64 block-aligned plant (8×8 cells coincide with JPEG
    blocks — every block flat)."""
    idx = np.arange(64) // 8
    bit_idx = (idx[:, None] * 8 + idx[None, :]) % 8
    return np.where((v >> bit_idx) & 1, 180, 60) + shift


class TestFlatBlockExactness:
    @pytest.mark.parametrize("v", [1, 37, 85, 170, 254])
    def test_gray_exact(self, v):
        g = _pattern64(v)
        got = decode_jpeg_pixels(encode_jpeg(g))
        assert (got == g).all()

    @pytest.mark.parametrize("v", [1, 85, 254])
    def test_color_exact(self, v):
        """Neutral-chroma 3-component scan decodes to the same gray
        bit-for-bit (JFIF integer conversion with Cb = Cr = 0)."""
        g = _pattern64(v)
        got = decode_jpeg_pixels(encode_jpeg(g, color=True))
        assert (got == g).all()

    @pytest.mark.parametrize("v", [1, 85, 254])
    def test_420_exact(self, v):
        """4:2:0 — general interleaved MCUs (2×2 Y blocks + 1 Cb +
        1 Cr), flat zero chroma through the replication upsample:
        still bit-exact on block-aligned plants."""
        g = _pattern64(v)
        got = decode_jpeg_pixels(encode_jpeg(g, color=True, subsampling="420"))
        assert (got == g).all()

    def test_nonzero_flat_chroma_exact_conversion(self):
        """A flat nonzero chroma plane quantizes exactly, so the
        decoded luma must equal the JFIF integer conversion computed
        independently — the color path under test with real chroma
        signal, through BOTH sampling layouts."""
        g = _pattern64(37)
        for sub in ("444", "420"):
            raw = encode_jpeg(
                g, color=True, subsampling=sub, cb_const=-24, cr_const=16
            )
            got = decode_jpeg_pixels(raw)
            y = g.astype(np.float64)
            r = np.clip(np.floor(y + 1.402 * 16 + 0.5), 0, 255).astype(np.int64)
            gg = np.clip(
                np.floor(y - 0.344136 * -24 - 0.714136 * 16 + 0.5), 0, 255
            ).astype(np.int64)
            b = np.clip(np.floor(y + 1.772 * -24 + 0.5), 0, 255).astype(np.int64)
            expect = (r * 299 + gg * 587 + b * 114) // 1000
            assert (got == expect).all(), sub

    def test_420_random_tolerance_and_odd_dims(self):
        g = _rng().integers(0, 256, size=(35, 41)).astype(np.int64)
        got = decode_jpeg_pixels(encode_jpeg(g, color=True, subsampling="420"))
        assert got.shape == (35, 41) and np.abs(got - g).max() <= 3

    def test_420_restart_markers(self):
        g = _rng().integers(0, 256, size=(32, 48)).astype(np.int64)
        raw = encode_jpeg(
            g, color=True, subsampling="420", restart_interval=2
        )
        got = decode_jpeg_pixels(raw)
        assert got is not None and np.abs(got - g).max() <= 3

    def test_shift_exact_and_hash_invariant(self):
        g0, g20 = _pattern64(85), _pattern64(85, 20)
        d0 = decode_jpeg_pixels(encode_jpeg(g0))
        d20 = decode_jpeg_pixels(encode_jpeg(g20))
        assert (d0 == g0).all() and (d20 == g20).all()
        assert ahash64(d0) == ahash64(d20)

    def test_dc_coefficients_clear_rounding_boundaries(self):
        """The exactness lemma rests on np.rint
        of float64 DCs — assert every planted DC sits ≥0.4 from the
        nearest .5 boundary over the full (v, shift) domain, so
        cross-platform BLAS residue (~1e-13) is provably absorbed."""
        for v in range(1, 255):
            for shift in (0, 20):
                g = _pattern64(v, shift)
                for by in range(8):
                    for bx in range(8):
                        blk = g[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                        f = _IDCT_M @ (blk - 128.0) @ _IDCT_M.T
                        frac = np.abs(f - np.floor(f) - 0.5)
                        assert frac.min() >= 0.4


class TestGeneralRoundTrip:
    def test_gray_tolerance(self):
        g = _rng().integers(0, 256, size=(64, 64)).astype(np.int64)
        got = decode_jpeg_pixels(encode_jpeg(g))
        assert np.abs(got - g).max() <= 2

    def test_color_tolerance(self):
        g = _rng().integers(0, 256, size=(48, 48)).astype(np.int64)
        got = decode_jpeg_pixels(encode_jpeg(g, color=True))
        assert np.abs(got - g).max() <= 3

    def test_non_multiple_of_8_dims_cropped(self):
        g = _rng().integers(0, 256, size=(33, 70)).astype(np.int64)
        got = decode_jpeg_pixels(encode_jpeg(g))
        assert got.shape == (33, 70) and np.abs(got - g).max() <= 2

    def test_restart_markers(self):
        g = _rng().integers(0, 256, size=(24, 40)).astype(np.int64)
        raw = encode_jpeg(g, restart_interval=2)
        assert any(
            raw[i] == 0xFF and 0xD0 <= raw[i + 1] <= 0xD7
            for i in range(len(raw) - 1)
        )
        got = decode_jpeg_pixels(raw)
        assert np.abs(got - g).max() <= 2

    def test_byte_stuffing_exercised(self):
        """The pinned seed produces 0xFF entropy bytes, so the
        0xFF00 stuff/unstuff pair is actually on the tested path."""
        g = _rng().integers(0, 256, size=(64, 64)).astype(np.int64)
        raw = encode_jpeg(g)
        body = raw[raw.index(b"\xff\xda") :]
        assert b"\xff\x00" in body

    def test_extreme_values_spec_valid(self):
        """All-0 / all-255 / checkerboard extremes stay within the
        baseline AC category range (the encoder clamp) and decode
        within tolerance."""
        for g in (
            np.zeros((16, 16), dtype=np.int64),
            np.full((16, 16), 255, dtype=np.int64),
            np.indices((16, 16)).sum(0) % 2 * 255,
        ):
            got = decode_jpeg_pixels(encode_jpeg(g))
            assert got is not None and np.abs(got - g).max() <= 3


class TestRejects:
    def test_garbage_and_truncation(self):
        assert decode_jpeg_pixels(b"\xff\xd8junk") is None
        g = _rng().integers(0, 256, size=(16, 16)).astype(np.int64)
        raw = encode_jpeg(g)
        assert decode_jpeg_pixels(raw[: len(raw) // 2]) is None
        assert decode_jpeg_pixels(b"") is None

    def _patch_sof(self, raw: bytes, marker=0xC0, prec=8, hv=0x11) -> bytes:
        i = raw.index(b"\xff\xc0")
        out = bytearray(raw)
        out[i + 1] = marker
        out[i + 4] = prec
        out[i + 11] = hv  # first component's sampling factors
        return bytes(out)

    def test_baseline_scan_header_invalid_in_progressive_frame(self):
        """Re-marking a baseline file's SOF as SOF2 leaves a scan
        header (Ss=0, Se=63) that is malformed for progressive —
        DC scans must have Se=0. None, not a guess."""
        g = _rng().integers(0, 256, size=(16, 16)).astype(np.int64)
        raw = encode_jpeg(g)
        assert decode_jpeg_pixels(self._patch_sof(raw, marker=0xC2)) is None

    def test_lossless_and_arithmetic_rejected(self):
        g = _rng().integers(0, 256, size=(16, 16)).astype(np.int64)
        raw = encode_jpeg(g)
        for m in (0xC3, 0xC7, 0xC9, 0xCA, 0xCB):
            assert decode_jpeg_pixels(self._patch_sof(raw, marker=m)) is None

    def test_12bit_rejected(self):
        g = _rng().integers(0, 256, size=(16, 16)).astype(np.int64)
        raw = encode_jpeg(g)
        assert decode_jpeg_pixels(self._patch_sof(raw, prec=12)) is None

    def test_invalid_sampling_rejected(self):
        """Zero or >4 sampling factors, and non-integer upsample
        ratios (hmax % h_i != 0), are malformed/unsupported — None,
        never a guess."""
        g = _rng().integers(0, 256, size=(16, 16)).astype(np.int64)
        raw = encode_jpeg(g, color=True)
        assert decode_jpeg_pixels(self._patch_sof(raw, hv=0x00)) is None
        assert decode_jpeg_pixels(self._patch_sof(raw, hv=0x53)) is None
        # Y at 3×3 with Cb at 2×2 → upsample ratio 3/2: reject at
        # the SOF parse (before any entropy decode is attempted)
        raw420 = encode_jpeg(g, color=True, subsampling="420")
        i = raw420.index(b"\xff\xc0")
        patched = bytearray(raw420)
        patched[i + 11] = 0x33  # Y
        patched[i + 14] = 0x22  # Cb
        assert decode_jpeg_pixels(bytes(patched)) is None


class TestProgressive:
    """SOF2: a lossless reordering of the same quantized
    coefficients — the decode must be PIXEL-IDENTICAL to the
    sequential twin once all scans are consumed. The fixture's
    seven-stage scan script drives every progressive path: DC first
    scan at Al=1, DC refinement bits, AC first scans with point
    transform and EOB runs, two levels of AC refinement (ZRL,
    correction bits, EOB-run folding), restart intervals in MCU and
    block units."""

    def test_gray_identical_to_sequential(self):
        rng = _rng()
        for h, w in [(8, 8), (16, 24), (13, 17), (64, 64), (1, 1), (100, 7)]:
            g = rng.integers(0, 256, (h, w)).astype(np.int64)
            base = decode_jpeg_pixels(encode_jpeg(g))
            prog = decode_jpeg_pixels(encode_jpeg_progressive(g))
            assert prog is not None, (h, w)
            assert (prog == base).all(), (h, w)

    @pytest.mark.parametrize("sub", ["444", "420"])
    def test_color_identical_to_sequential(self, sub):
        rng = _rng()
        for h, w in [(16, 24), (13, 17), (31, 33)]:
            g = rng.integers(0, 256, (h, w)).astype(np.int64)
            for cb, cr in [(0, 0), (17, -9)]:
                base = decode_jpeg_pixels(
                    encode_jpeg(
                        g, color=True, subsampling=sub,
                        cb_const=cb, cr_const=cr,
                    )
                )
                prog = decode_jpeg_pixels(
                    encode_jpeg_progressive(
                        g, color=True, subsampling=sub,
                        cb_const=cb, cr_const=cr,
                    )
                )
                assert prog is not None, (h, w, sub, cb, cr)
                assert (prog == base).all(), (h, w, sub, cb, cr)

    def test_restart_intervals(self):
        rng = _rng()
        g = rng.integers(0, 256, (24, 40)).astype(np.int64)
        base = decode_jpeg_pixels(encode_jpeg(g))
        for ri in (1, 2, 3, 7):
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(g, restart_interval=ri)
            )
            assert prog is not None and (prog == base).all(), ri
        g2 = rng.integers(0, 256, (24, 24)).astype(np.int64)
        base2 = decode_jpeg_pixels(
            encode_jpeg(g2, color=True, subsampling="420",
                        cb_const=5, cr_const=-5)
        )
        for ri in (1, 2):
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(
                    g2, color=True, subsampling="420",
                    cb_const=5, cr_const=-5, restart_interval=ri,
                )
            )
            assert prog is not None and (prog == base2).all(), ri

    def test_flat_block_plants_exact(self):
        """The audit lemma carries through progressive: block-aligned
        flat plants decode BIT-exactly (DC-only spectra at quant 1,
        reassembled across seven scans)."""
        for v in (1, 85, 170, 254):
            for shift in (0, 20):
                g = _pattern64(v, shift)
                got = decode_jpeg_pixels(encode_jpeg_progressive(g))
                assert (got == g).all(), (v, shift)
                got = decode_jpeg_pixels(
                    encode_jpeg_progressive(
                        g, color=True, subsampling="420"
                    )
                )
                assert (got == g).all(), (v, shift, "420")
                # and the hash identity the audit pins
                assert ahash64(g) == ahash64(
                    decode_jpeg_pixels(encode_jpeg_progressive(g))
                )

    def test_dc_per_component_identical_to_sequential(self):
        """Non-interleaved DC scans (Ns=1, Ss=0) cover the
        component's OWN ceil(dims/8) grid, not the MCU-padded one
        (T.81 A.2) — an earlier decoder iterated the padded grid and
        returned None on this spec-legal shape. Gray, 4:4:4, and the
        4:2:0 case (where padded ≠ own grid for luma at odd MCU
        counts) must all decode pixel-identically to sequential."""
        rng = _rng()
        for h, w in [(8, 8), (24, 24), (13, 17), (100, 7)]:
            g = rng.integers(0, 256, (h, w)).astype(np.int64)
            base = decode_jpeg_pixels(encode_jpeg(g))
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(g, dc_per_component=True)
            )
            assert prog is not None, (h, w)
            assert (prog == base).all(), (h, w)
        for sub in ("444", "420"):
            for h, w in [(24, 24), (13, 17)]:
                g = rng.integers(0, 256, (h, w)).astype(np.int64)
                base = decode_jpeg_pixels(
                    encode_jpeg(g, color=True, subsampling=sub,
                                cb_const=17, cr_const=-9)
                )
                prog = decode_jpeg_pixels(
                    encode_jpeg_progressive(
                        g, color=True, subsampling=sub,
                        cb_const=17, cr_const=-9, dc_per_component=True,
                    )
                )
                assert prog is not None, (h, w, sub)
                assert (prog == base).all(), (h, w, sub)
        # restart intervals count in BLOCK units for Ns=1 DC scans
        g = rng.integers(0, 256, (24, 40)).astype(np.int64)
        base = decode_jpeg_pixels(encode_jpeg(g))
        for ri in (1, 3):
            prog = decode_jpeg_pixels(
                encode_jpeg_progressive(
                    g, dc_per_component=True, restart_interval=ri
                )
            )
            assert prog is not None and (prog == base).all(), ri

    def test_truncated_progressive_rejected(self):
        g = _rng().integers(0, 256, (16, 16)).astype(np.int64)
        raw = encode_jpeg_progressive(g)
        # cut inside the scan sequence: no EOI ⇒ None (no guess from
        # partial scans — a crawl stores the bytes it fetched)
        assert decode_jpeg_pixels(raw[: len(raw) - 10]) is None
        assert decode_jpeg_pixels(raw[: len(raw) // 2]) is None

    def test_progressive_routes_through_decode_pixels(self):
        g = _pattern64(85)
        got = decode_pixels(encode_jpeg_progressive(g))
        assert got is not None and (got == g).all()


class TestBoundary:
    def test_decode_pixels_routes_jpeg(self):
        g = _pattern64(85)
        got = decode_pixels(encode_jpeg(g))
        assert got is not None and (got == g).all()

    def test_synth_leg(self, spark):
        """Spark-side: jpeg and jpeg_rgb legs of the codec synth
        hash identically to each other and to the formula."""
        from tidb_cdc_spark.functions.media_hash import perceptual_hashes
        from tidb_cdc_spark.functions.media_synth import (
            synth_codec_pixel_media,
        )

        ids = spark.createDataFrame(
            [(1, 85, 0, "jpeg"), (2, 85, 0, "jpeg_rgb"), (3, 85, 20, "jpeg")],
            "media_id long, pattern int, shift int, codec string",
        )
        media = synth_codec_pixel_media(ids, width=64, height=64)
        got = perceptual_hashes(media).toPandas()
        assert got["ahash"].notna().all()
        assert got["ahash"].nunique() == 1
        assert int(got["ahash"].iloc[0]) == ahash64(_pattern64(85))


class TestExifOrientation:
    """Camera rotation: the orientation tag in APP1 must normalize
    at the decode boundary or rotated copies evade perceptual
    dedup."""

    @staticmethod
    def _store_for(gray, o):
        """Stored pixels whose normalization under orientation o
        yields ``gray`` (inverse display transforms)."""
        inv = {
            1: lambda a: a,
            2: lambda a: a[:, ::-1],
            3: lambda a: a[::-1, ::-1],
            4: lambda a: a[::-1, :],
            5: lambda a: a.T,
            6: lambda a: a[:, ::-1].T,
            7: lambda a: a[::-1, ::-1].T,
            8: lambda a: a.T[:, ::-1],
        }
        return np.ascontiguousarray(inv[o](gray))

    def test_parse_and_default(self):
        from tidb_cdc_spark.functions.jpeg import jpeg_exif_orientation

        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        assert jpeg_exif_orientation(encode_jpeg(g)) == 1  # no APP1
        for o in range(1, 9):
            raw = encode_jpeg(g, exif_orientation=o)
            assert jpeg_exif_orientation(raw) == o
        # out-of-range values fall back to upright
        raw = bytearray(encode_jpeg(g, exif_orientation=1))
        i = raw.index(b"\x12\x01")  # tag 0x0112 little-endian
        raw[i + 8] = 9
        assert jpeg_exif_orientation(bytes(raw)) == 1

    def test_big_endian_tiff_parsed(self):
        """Cameras write MM (big-endian) TIFF headers too."""
        import struct as _s

        from tidb_cdc_spark.functions.jpeg import jpeg_exif_orientation

        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        tiff = (
            b"MM\x00*" + _s.pack(">I", 8)
            + _s.pack(">H", 1)
            + _s.pack(">HHIHH", 0x0112, 3, 1, 6, 0)
            + _s.pack(">I", 0)
        )
        body = b"Exif\x00\x00" + tiff
        app1 = b"\xff\xe1" + _s.pack(">H", 2 + len(body)) + body
        raw = encode_jpeg(g)
        assert jpeg_exif_orientation(raw[:2] + app1 + raw[2:]) == 6

    def test_all_eight_orientations_normalize(self):
        from tidb_cdc_spark.functions.jpeg import (
            apply_exif_orientation,
            decode_jpeg_pixels,
            jpeg_exif_orientation,
        )

        g = _rng().integers(0, 256, (24, 16)).astype(np.int64)
        for o in range(1, 9):
            raw = encode_jpeg(self._store_for(g, o), exif_orientation=o)
            norm = apply_exif_orientation(
                decode_jpeg_pixels(raw), jpeg_exif_orientation(raw)
            )
            assert norm.shape == g.shape, o
            assert int(np.abs(norm - g).max()) <= 2, o  # IDCT bound

    def test_rotated_copies_hash_identically(self):
        """The dedup claim: all eight tag-rotated encodings of the
        same flat-block plant (rotations are index permutations —
        exact) collapse to ONE hash through decode_pixels."""
        g = _pattern64(85)
        base = ahash64(decode_pixels(encode_jpeg(g)))
        for o in range(1, 9):
            raw = encode_jpeg(self._store_for(g, o), exif_orientation=o)
            got = decode_pixels(raw)
            assert (got == g).all(), o
            assert ahash64(got) == base, o
