"""Compressed-codec pixel decode: PNG over its FULL envelope
(stdlib zlib + all five scanline unfilters, every spec-legal
color-type/bit-depth combination, Adam7, alpha-over-white, eXIf
orientation) and GIF (pure-Python LZW, sequential + interlaced) —
the image-decode gap closed with real byte paths. Round-trips
are exact (encode is the test fixture, decode is the engine);
rejects are pinned so corrupt/spec-illegal payloads keep the
documented NULL-hash treatment."""

from __future__ import annotations

import numpy as np
import pytest

from tidb_cdc_spark.functions.media_decode import (
    _gif_lzw_decode,
    decode_gif_pixels,
    decode_pixels,
    decode_png_pixels,
)
from tidb_cdc_spark.functions.media_hash import ahash64, dhash64
from tidb_cdc_spark.functions.media_synth import (
    CODEC_LEGS,
    _encode_gif,
    _encode_png,
    _gif_lzw_encode,
)


def _rng():
    return np.random.default_rng(20260816)


class TestPngDecode:
    @pytest.mark.parametrize("seed", range(5))
    @pytest.mark.parametrize("mode", ["rgb", "gray"])
    def test_roundtrip_every_filter_leads(self, mode, seed):
        """filter_seed rotates which filter type each row gets, so
        the five seeds jointly put every unfilter recurrence on
        every row position, including row 0 (prev = zeros)."""
        g = _rng().integers(0, 256, size=(13, 17)).astype(np.int64)
        got = decode_png_pixels(_encode_png(g, mode, filter_seed=seed))
        assert got is not None and (got == g).all()

    def test_roundtrip_palette(self):
        g = np.where(
            _rng().integers(0, 2, size=(64, 70)) == 1, 200, 80
        ).astype(np.int64)
        got = decode_png_pixels(_encode_png(g, "pal", filter_seed=2))
        assert (got == g).all()

    def test_gray_equals_rgb_luma_identity(self):
        """luma(g,g,g) = (299+587+114)·g // 1000 = g exactly — the
        lemma that makes color type a hash-invariant choice."""
        g = _rng().integers(0, 256, size=(9, 9)).astype(np.int64)
        a = decode_png_pixels(_encode_png(g, "gray"))
        b = decode_png_pixels(_encode_png(g, "rgb"))
        assert (a == b).all() and (a == g).all()

    def test_crc_corruption_rejected(self):
        g = _rng().integers(0, 256, size=(8, 8)).astype(np.int64)
        raw = bytearray(_encode_png(g, "rgb"))
        raw[45] ^= 0x40  # flip a bit inside IDAT without fixing CRC
        assert decode_png_pixels(bytes(raw)) is None

    def test_truncated_rejected(self):
        g = _rng().integers(0, 256, size=(8, 8)).astype(np.int64)
        raw = _encode_png(g, "rgb")
        assert decode_png_pixels(raw[: len(raw) // 2]) is None

    def test_spec_illegal_shapes_rejected(self):
        """Spec-ILLEGAL (color, depth) combinations and unknown
        interlace methods must return None, not guess (the legal
        envelope — Adam7, 16-bit, alpha, sub-byte — is a real path
        covered by TestPngFullEnvelope)."""
        import struct
        import zlib

        from tidb_cdc_spark.functions.media_decode import _png_chunk

        def png_with_ihdr(depth, color, interlace):
            ihdr = struct.pack(">IIBBBBB", 4, 4, depth, color, 0, 0, interlace)
            return (
                b"\x89PNG\r\n\x1a\n"
                + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 100))
                + _png_chunk(b"IEND", b"")
            )

        assert decode_png_pixels(png_with_ihdr(4, 2, 0)) is None  # RGB@4
        assert decode_png_pixels(png_with_ihdr(16, 3, 0)) is None  # pal@16
        assert decode_png_pixels(png_with_ihdr(2, 6, 0)) is None  # RGBA@2
        assert decode_png_pixels(png_with_ihdr(3, 0, 0)) is None  # depth 3
        assert decode_png_pixels(png_with_ihdr(8, 5, 0)) is None  # color 5
        assert decode_png_pixels(png_with_ihdr(8, 2, 2)) is None  # method 2

    def test_palette_index_overrun_rejected(self):
        """An index past PLTE is malformed — None, not a wrapped
        read."""
        g = np.array([[0, 1], [2, 3]], dtype=np.int64)
        raw = _encode_png(g, "pal")
        # shrink PLTE to one entry: rebuild with a truncated palette
        import struct

        from tidb_cdc_spark.functions.media_decode import _png_chunk

        pos = 8
        out = b"\x89PNG\r\n\x1a\n"
        while pos + 12 <= len(raw):
            (clen,) = struct.unpack_from(">I", raw, pos)
            ctype = raw[pos + 4 : pos + 8]
            data = raw[pos + 8 : pos + 8 + clen]
            if ctype == b"PLTE":
                data = data[:3]
            out += _png_chunk(ctype, data)
            pos += 12 + clen
        assert decode_png_pixels(out) is None


class TestPngFullEnvelope:
    """Adam7 interlace, 16-bit, sub-byte depths, alpha — every
    spec-legal shape is a REAL pure-Python path through the same
    ``decode_png_pixels``."""

    @pytest.mark.parametrize("interlaced", [False, True])
    @pytest.mark.parametrize("size", [(13, 17), (5, 3), (1, 1), (2, 2)])
    def test_roundtrip_gray_and_rgb_all_depths(self, interlaced, size):
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        h, w = size
        rng = _rng()
        g = rng.integers(0, 256, (h, w)).astype(np.int64)
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.int64)
        luma = (rgb[:, :, 0] * 299 + rgb[:, :, 1] * 587 + rgb[:, :, 2] * 114) // 1000
        for seed in range(5):
            got = decode_png_pixels(_encode_png_ex(g, 0, 8, interlaced, seed))
            assert (got == g).all()
            got = decode_png_pixels(_encode_png_ex(rgb, 2, 8, interlaced, seed))
            assert (got == luma).all()
            # 16-bit legs store v·257: high-byte reduction recovers v
            got = decode_png_pixels(
                _encode_png_ex(g[:, :, None] * 257, 0, 16, interlaced, seed)
            )
            assert (got == g).all()
            got = decode_png_pixels(
                _encode_png_ex(rgb * 257, 2, 16, interlaced, seed)
            )
            assert (got == luma).all()
            # sub-byte grayscale: left-bit replication scaling
            for d in (1, 2, 4):
                gv = rng.integers(0, 1 << d, (h, w)).astype(np.int64)
                got = decode_png_pixels(
                    _encode_png_ex(gv[:, :, None], 0, d, interlaced, seed)
                )
                assert (got == gv * (255 // ((1 << d) - 1))).all()

    @pytest.mark.parametrize("interlaced", [False, True])
    def test_roundtrip_subbyte_palette(self, interlaced):
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        rng = _rng()
        vals = np.array([10, 60, 180, 240], dtype=np.int64)
        idx = rng.integers(0, 4, (9, 7)).astype(np.int64)
        pal = np.repeat(vals, 3).astype(np.uint8).tobytes()
        for depth in (2, 4, 8):
            got = decode_png_pixels(
                _encode_png_ex(
                    idx[:, :, None], 3, depth, interlaced, palette=pal
                )
            )
            assert (got == vals[idx]).all()

    def test_alpha_composites_over_white_round_half_up(self):
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        g = np.full((4, 4), 100, dtype=np.int64)
        a = np.array([[0, 64, 128, 255]] * 4, dtype=np.int64)
        got = decode_png_pixels(
            _encode_png_ex(np.stack([g, a], axis=2), 4, 8)
        )
        expect = (g * a + 255 * (255 - a) + 127) // 255
        assert (got == expect).all()
        assert got[0, 0] == 255 and got[0, 3] == 100  # a=0→white, a=255→v
        # RGBA: per-channel composite, then luma
        rgb = _rng().integers(0, 256, (4, 4, 3)).astype(np.int64)
        rgba = np.concatenate([rgb, a[:, :, None]], axis=2)
        comp = (rgb * a[:, :, None] + 255 * (255 - a[:, :, None]) + 127) // 255
        expect = (
            comp[:, :, 0] * 299 + comp[:, :, 1] * 587 + comp[:, :, 2] * 114
        ) // 1000
        assert (decode_png_pixels(_encode_png_ex(rgba, 6, 8)) == expect).all()

    def test_opaque_alpha_is_luma_identical_to_rgb(self):
        """a=255 composite is the identity: an opaque RGBA re-save of
        an RGB image must hash identically — the perceptual-dedup
        claim the deep audit pins at scale."""
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        rgb = _rng().integers(0, 256, (8, 8, 3)).astype(np.int64)
        rgba = np.concatenate(
            [rgb, np.full((8, 8, 1), 255, dtype=np.int64)], axis=2
        )
        a = decode_png_pixels(_encode_png_ex(rgb, 2, 8))
        b = decode_png_pixels(_encode_png_ex(rgba, 6, 8))
        assert (a == b).all()

    def test_16bit_msb_rule_on_non_replicated_samples(self):
        """Arbitrary 16-bit samples (not of the v·257 form) reduce by
        the HIGH byte — deterministic, platform-free."""
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        v16 = np.array(
            [[0x1234, 0xFFFF], [0x00FF, 0x8000]], dtype=np.int64
        )
        got = decode_png_pixels(_encode_png_ex(v16[:, :, None], 0, 16))
        assert (got == (v16 >> 8)).all()

    def test_adam7_truncated_pass_rejected(self):
        """Dropping the last pass's bytes must fail the stream-length
        check, not return a half-painted image."""
        import struct
        import zlib

        from tidb_cdc_spark.functions.media_decode import _png_chunk
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        raw = _encode_png_ex(g, 0, 8, interlaced=True)
        # rebuild with the inflated stream cut short by one byte
        pos = 8
        out = b"\x89PNG\r\n\x1a\n"
        while pos + 12 <= len(raw):
            (clen,) = struct.unpack_from(">I", raw, pos)
            ctype = raw[pos + 4 : pos + 8]
            data = raw[pos + 8 : pos + 8 + clen]
            if ctype == b"IDAT":
                data = zlib.compress(zlib.decompress(data)[:-1])
            out += _png_chunk(ctype, data)
            pos += 12 + clen
        assert decode_png_pixels(out) is None

    def test_trailing_pixel_bytes_rejected(self):
        """Extra bytes after the final pass are malformed — None."""
        import struct
        import zlib

        from tidb_cdc_spark.functions.media_decode import _png_chunk
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        for interlaced in (False, True):
            raw = _encode_png_ex(g, 0, 8, interlaced=interlaced)
            pos = 8
            out = b"\x89PNG\r\n\x1a\n"
            while pos + 12 <= len(raw):
                (clen,) = struct.unpack_from(">I", raw, pos)
                ctype = raw[pos + 4 : pos + 8]
                data = raw[pos + 8 : pos + 8 + clen]
                if ctype == b"IDAT":
                    data = zlib.compress(zlib.decompress(data) + b"\x00")
                out += _png_chunk(ctype, data)
                pos += 12 + clen
            assert decode_png_pixels(out) is None

    def test_deep_legs_hash_identically_sparkside(self, spark):
        """Spark-side: the six PNG_DEEP_LEGS byte-disjoint encodings
        of the same pattern collapse to one (ahash, dhash) — the
        deep audit's core claim in miniature."""
        from tidb_cdc_spark.functions.media_hash import perceptual_hashes
        from tidb_cdc_spark.functions.media_synth import (
            PNG_DEEP_LEGS,
            synth_codec_pixel_media,
        )

        rows = []
        for pid, v in enumerate((3, 170)):
            for leg_i, leg in enumerate(PNG_DEEP_LEGS):
                rows.append((pid * 10 + leg_i, v, 0, leg))
        ids = spark.createDataFrame(
            rows, "media_id long, pattern int, shift int, codec string"
        )
        media = synth_codec_pixel_media(ids)
        got = perceptual_hashes(media).toPandas()
        assert got["ahash"].notna().all()
        by_pattern = {}
        for _, r in got.iterrows():
            by_pattern.setdefault(int(r["media_id"]) // 10, set()).add(
                (int(r["ahash"]), int(r["dhash"]))
            )
        assert all(len(s) == 1 for s in by_pattern.values())
        assert by_pattern[0] != by_pattern[1]
        # and the deep legs agree with the classic 8-bit leg
        classic = spark.createDataFrame(
            [(0, 3, 0, "png")],
            "media_id long, pattern int, shift int, codec string",
        )
        chash = (
            perceptual_hashes(synth_codec_pixel_media(classic))
            .toPandas()
            .iloc[0]
        )
        assert (int(chash["ahash"]), int(chash["dhash"])) in by_pattern[0]


class TestGifDecode:
    @pytest.mark.parametrize("interlaced", [False, True])
    def test_roundtrip(self, interlaced):
        g = np.where(
            _rng().integers(0, 3, size=(33, 21)) == 1, 180, 60
        ).astype(np.int64)
        got = decode_gif_pixels(_encode_gif(g, interlaced=interlaced))
        assert got is not None and (got == g).all()

    def test_lzw_dictionary_growth_to_cap(self):
        """A 128×128 full-byte-palette random image forces the LZW
        dictionary through every code width up to 12 bits and across
        the 4096-entry clear/reset — the sync cases that desync
        buggy encoder/decoder pairs."""
        g = _rng().integers(0, 256, size=(128, 128)).astype(np.int64)
        got = decode_gif_pixels(_encode_gif(g))
        assert got is not None and (got == g).all()

    def test_lzw_stream_property(self):
        """Raw LZW round-trip on adversarial index streams,
        including the kwkwk pattern (code == len(table))."""
        for seq in (
            [0, 0, 0, 0, 0],  # immediate kwkwk
            [1, 2, 1, 2, 1, 2, 1],  # alternation
            list(_rng().integers(0, 4, size=500)),
        ):
            enc = _gif_lzw_encode(seq, 2)
            assert _gif_lzw_decode(enc, 2) == list(map(int, seq))

    def test_malformed_rejected(self):
        import struct

        assert decode_gif_pixels(b"GIF87a" + b"\x00" * 30) is None
        # trailer before any image descriptor
        no_gct = b"GIF87a" + struct.pack("<HHBBB", 2, 1, 0, 0, 0) + b"\x3b"
        assert decode_gif_pixels(no_gct) is None
        # image data truncated mid-sub-block
        g = np.where(
            _rng().integers(0, 2, size=(16, 16)) == 1, 180, 60
        ).astype(np.int64)
        raw = _encode_gif(g)
        assert decode_gif_pixels(raw[: len(raw) - 12]) is None


class TestDecodeBoundary:
    def test_cross_codec_hash_equality(self):
        """THE claim: one image, six byte-disjoint encodings, one
        perceptual identity — through the single decode_pixels
        boundary the whole chain reads."""
        xb = np.searchsorted(
            [i * 70 // 8 for i in range(1, 8)], np.arange(70), side="right"
        )
        yb = np.searchsorted(
            [i * 64 // 8 for i in range(1, 8)], np.arange(64), side="right"
        )
        bit_idx = (yb[:, None] * 8 + xb[None, :]) % 8
        for v in (1, 85, 254):
            gray = np.where((v >> bit_idx) & 1, 180, 60)
            payloads = [
                _encode_png(gray, "rgb", v),
                _encode_png(gray, "gray", v),
                _encode_png(gray, "pal", v),
                _encode_gif(gray),
                _encode_gif(gray, interlaced=True),
            ]
            hashes = set()
            for p in payloads:
                d = decode_pixels(p)
                assert d is not None and (d == gray).all()
                hashes.add((ahash64(d), dhash64(d)))
            assert hashes == {(ahash64(gray), dhash64(gray))}

    def test_boundary_rejects_garbage(self):
        assert decode_pixels(b"\x89PNG\r\n\x1a\n" + b"nope" * 8) is None
        assert decode_pixels(b"GIF89a" + b"\xff" * 8) is None
        assert decode_pixels(b"not an image at all") is None


class TestSynthCodecMedia:
    def test_all_legs_hash_identically(self, spark):
        """Spark-side: synth the same pattern through every codec
        leg; perceptual_hashes must collapse them to one (ahash,
        dhash) per pattern, equal to the formula hash."""
        rows = []
        for pid, v in enumerate((3, 170)):
            for leg_i, leg in enumerate(CODEC_LEGS):
                rows.append((pid * 10 + leg_i, v, 0, leg))
        ids = spark.createDataFrame(
            rows, "media_id long, pattern int, shift int, codec string"
        )
        from tidb_cdc_spark.functions.media_hash import perceptual_hashes
        from tidb_cdc_spark.functions.media_synth import (
            synth_codec_pixel_media,
        )

        media = synth_codec_pixel_media(ids)
        got = perceptual_hashes(media).toPandas()
        assert got["ahash"].notna().all()
        by_pattern = {}
        for _, r in got.iterrows():
            by_pattern.setdefault(int(r["media_id"]) // 10, set()).add(
                (int(r["ahash"]), int(r["dhash"]))
            )
        assert all(len(s) == 1 for s in by_pattern.values())
        assert by_pattern[0] != by_pattern[1]

    def test_unknown_leg_raises(self, spark):
        from tidb_cdc_spark.functions.media_synth import (
            synth_codec_pixel_media,
        )

        ids = spark.createDataFrame(
            [(1, 3, 0, "avif")],
            "media_id long, pattern int, shift int, codec string",
        )
        with pytest.raises(Exception, match="unknown codec leg"):
            synth_codec_pixel_media(ids).collect()


class TestPngExifOrientation:
    """PNG carries camera rotation too (the eXIf chunk, PNG 1.5
    extension) — normalized at the decode boundary exactly like
    JPEG APP1."""

    @staticmethod
    def _with_exif(raw: bytes, orientation: int) -> bytes:
        import struct as _s

        from tidb_cdc_spark.functions.media_decode import _png_chunk

        tiff = (
            b"II*\x00" + _s.pack("<I", 8) + _s.pack("<H", 1)
            + _s.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
            + _s.pack("<I", 0)
        )
        i = raw.index(b"IDAT") - 4
        return raw[:i] + _png_chunk(b"eXIf", tiff) + raw[i:]

    def test_all_eight_orientations_normalize_exactly(self):
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        g = _rng().integers(0, 256, (12, 9)).astype(np.int64)
        inv = {
            1: lambda a: a, 2: lambda a: a[:, ::-1],
            3: lambda a: a[::-1, ::-1], 4: lambda a: a[::-1, :],
            5: lambda a: a.T, 6: lambda a: a[:, ::-1].T,
            7: lambda a: a[::-1, ::-1].T, 8: lambda a: a.T[:, ::-1],
        }
        for o in range(1, 9):
            raw = self._with_exif(
                _encode_png_ex(np.ascontiguousarray(inv[o](g)), 0, 8), o
            )
            out = decode_png_pixels(raw)
            assert out is not None and out.shape == g.shape, o
            assert (out == g).all(), o  # PNG is lossless: exact

    def test_malformed_exif_falls_back_upright(self):
        from tidb_cdc_spark.functions.media_decode import _png_chunk
        from tidb_cdc_spark.functions.media_synth import _encode_png_ex

        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        raw = _encode_png_ex(g, 0, 8)
        i = raw.index(b"IDAT") - 4
        bad = raw[:i] + _png_chunk(b"eXIf", b"garbage") + raw[i:]
        out = decode_png_pixels(bad)
        assert out is not None and (out == g).all()


class TestAnimatedGif:
    """decode_gif_frames: the GIF89a animation semantics — per-block
    composition with offsets, transparency, local palettes, disposal
    0/1/2/3, app-extension skip — feeding the video frame path."""

    def _quant(self, a):
        # palette grays only (the fixture stores exact gray entries)
        return (a // 30 * 30).astype(np.int64)

    def test_delta_encoded_animation_composes_exactly(self):
        from tidb_cdc_spark.functions.media_decode import decode_gif_frames
        from tidb_cdc_spark.functions.media_synth import _encode_gif_anim

        rng = _rng()
        f0 = rng.integers(0, 4, (24, 18)).astype(np.int64) * 60 + 30
        f1 = f0.copy()
        f1[5:12, 3:15] = 255 - f1[5:12, 3:15]
        f2 = f1.copy()
        f2[0:6, 0:6] = 0
        d1 = np.where(f1 != f0, f1, -1)[5:12, 3:15]
        d2 = np.where(f2 != f1, f2, -1)
        p = _encode_gif_anim([(f0, 0, 0, 1), (d1, 3, 5, 1), (d2, 0, 0, 1)])
        frames = decode_gif_frames(p)
        assert frames is not None and len(frames) == 3
        assert (frames[0] == f0).all()
        assert (frames[1] == f1).all()
        assert (frames[2] == f2).all()

    def test_disposal_methods(self):
        from tidb_cdc_spark.functions.media_decode import decode_gif_frames
        from tidb_cdc_spark.functions.media_synth import _encode_gif_anim

        base = np.full((8, 8), 100, dtype=np.int64)
        patch = np.full((4, 4), 0, dtype=np.int64)
        probe = np.full((1, 1), -1, dtype=np.int64)  # all-transparent
        # disposal 2: patched region restores to the white paper
        fr = decode_gif_frames(
            _encode_gif_anim(
                [(base, 0, 0, 1), (patch, 2, 2, 2), (probe, 0, 0, 1)]
            )
        )
        assert (fr[1][2:6, 2:6] == 0).all()
        assert (fr[2][2:6, 2:6] == 255).all()
        assert fr[2][0, 0] == 100  # outside the region untouched
        # disposal 3: restores the previous contents
        fr = decode_gif_frames(
            _encode_gif_anim(
                [(base, 0, 0, 1), (patch, 2, 2, 3), (probe, 0, 0, 1)]
            )
        )
        assert (fr[1][2:6, 2:6] == 0).all()
        assert (fr[2][2:6, 2:6] == 100).all()

    def test_single_image_gif_is_one_frame_equal_to_image_path(self):
        from tidb_cdc_spark.functions.media_decode import decode_gif_frames

        g = np.where(
            _rng().integers(0, 2, size=(16, 16)) == 1, 180, 60
        ).astype(np.int64)
        raw = _encode_gif(g)
        frames = decode_gif_frames(raw)
        assert len(frames) == 1
        assert (frames[0] == decode_gif_pixels(raw)).all()

    def test_out_of_screen_frame_and_truncation_rejected(self):
        import struct

        from tidb_cdc_spark.functions.media_decode import decode_gif_frames
        from tidb_cdc_spark.functions.media_synth import _encode_gif_anim

        base = np.full((8, 8), 100, dtype=np.int64)
        p = _encode_gif_anim([(base, 0, 0, 1), (base, 4, 4, 1)])
        assert decode_gif_frames(p) is None  # 4+8 > 8: outside screen
        ok = _encode_gif_anim([(base, 0, 0, 1), (base[:4, :4], 4, 4, 1)])
        assert decode_gif_frames(ok) is not None
        assert decode_gif_frames(ok[: len(ok) - 12]) is None
        assert decode_gif_frames(b"GIF89a" + struct.pack("<HHBBB", 0, 0, 0, 0, 0)) is None

    def test_trim_shares_composed_hashes(self):
        """The audit lemma: a trimmed delta re-encode shares all its
        composed-frame hashes with the original's tail frames."""
        from tidb_cdc_spark.functions.media_decode import decode_gif_frames
        from tidb_cdc_spark.functions.media_synth import _encode_gif_anim

        idx = np.arange(16) // 2
        bit_idx = (idx[:, None] * 8 + idx[None, :]) % 16

        def anim(skip, shift):
            blocks, prev = [], None
            for f in range(skip, 8):
                v = 1 + (5 * 8 + f) % 65534
                gray = np.where((v >> bit_idx) & 1, 180, 60) + shift
                blocks.append(
                    (gray, 0, 0, 1) if prev is None
                    else (np.where(gray != prev, gray, -1), 0, 0, 1)
                )
                prev = gray
            return _encode_gif_anim(blocks)

        full = [ahash64(g) for g in decode_gif_frames(anim(0, 0))]
        trim = [ahash64(g) for g in decode_gif_frames(anim(1, 20))]
        assert len(full) == 8 and len(trim) == 7
        assert full[1:] == trim  # shift-invariant, trim-aligned

    def test_video_frame_hashes_routes_gif(self, spark):
        from tidb_cdc_spark.functions.media_hash import video_frame_hashes
        from tidb_cdc_spark.functions.media_synth import synth_gif_anim_media

        ids = spark.createDataFrame(
            [(1, 3, 0, 0), (2, 3, 1, 20)],
            "media_id long, base long, skip int, shift int",
        )
        media = synth_gif_anim_media(ids)
        rows = video_frame_hashes(media).collect()
        per = {}
        for r in rows:
            per.setdefault(r.media_id, []).append(r.fhash)
        assert len(per[1]) == 8 and len(per[2]) == 7
        assert per[1][1:] == per[2]


class TestAnimationInfo:
    """Header-only animation probes: GCE delay sums (GIF) and ANMF
    duration sums (animated WebP) without decoding any frame."""

    def test_gif_delays_summed(self):
        from tidb_cdc_spark.functions.media_probe import gif_animation_info
        from tidb_cdc_spark.functions.media_synth import _encode_gif_anim

        g = np.full((6, 8), 120, dtype=np.int64)
        p = _encode_gif_anim(
            [(g, 0, 0, 1), (g + 10, 0, 0, 1), (g + 20, 0, 0, 1)],
            delays=[7, 12, 300],
        )
        assert gif_animation_info(p) == (3, 3190)
        # single-image GIF: one frame, zero duration; non-GIF: None
        assert gif_animation_info(_encode_gif(g)) == (1, 0)
        assert gif_animation_info(b"GIF89a") is None
        assert gif_animation_info(p[: len(p) - 9]) == (3, 3190)  # no trailer: accepted like the decoder

    def test_webp_anmf_durations_summed(self):
        from tidb_cdc_spark.functions.media_probe import (
            parse_image_header,
            webp_animation_info,
        )
        from tidb_cdc_spark.functions.media_synth import _encode_webp_anim
        from tidb_cdc_spark.functions.webp import encode_webp_lossless

        g = np.full((6, 8), 120, dtype=np.int64)
        w = _encode_webp_anim([(g, 40), (g + 10, 70), (g + 20, 100000)], 8, 6)
        assert webp_animation_info(w) == (3, 100110)
        # the dims probe reads the VP8X canvas of the same bytes
        assert parse_image_header(w) == ("image/webp", 8, 6)
        # a still VP8L is the image path's business
        assert webp_animation_info(encode_webp_lossless(g, "literal")) is None
        # truncated ANMF chunk: reject, no partial sums
        assert webp_animation_info(w[: len(w) - 4]) is None

    def test_probe_media_fills_animation_duration(self, spark):
        from tidb_cdc_spark.functions.media_probe import probe_media
        from tidb_cdc_spark.functions.media_synth import synth_anim_probe_media

        ids = spark.createDataFrame([(0,), (1,), (6,)], "doc_id long")
        rows = {
            r.media_id: r
            for r in probe_media(synth_anim_probe_media(ids)).collect()
        }
        # id 0: GIF, 2 frames x 2 cs -> 40 ms; id 1: WebP, 3 x 21 ms
        assert rows[0].mime == "image/gif" and rows[0].duration_ms == 40
        assert rows[1].mime == "image/webp" and rows[1].duration_ms == 63
        assert rows[6].duration_ms == (2 + 6 % 7) * (2 + 6 % 50) * 10
        assert rows[0].width == 8 and rows[1].height == 9


class TestAnimatedWebp:
    """decode_webp_anim_frames: per-ANMF VP8L decode + RFC 9649
    composition (2-px offsets, no-blend replace, dispose-to-white),
    the WebP twin of TestAnimatedGif."""

    def test_rect_composition_exact(self):
        from tidb_cdc_spark.functions.media_decode import (
            decode_webp_anim_frames,
        )
        from tidb_cdc_spark.functions.media_synth import _encode_webp_anim

        rng = _rng()
        f0 = rng.integers(0, 256, (12, 16)).astype(np.int64)
        f1 = rng.integers(0, 256, (12, 16)).astype(np.int64)
        patch = rng.integers(0, 256, (4, 6)).astype(np.int64)
        p = _encode_webp_anim(
            [(f0, 40), (f1, 70), (patch, 30, 4, 2, 0x03)], 16, 12
        )
        fr = decode_webp_anim_frames(p)
        assert fr is not None and len(fr) == 3
        assert (fr[0] == f0).all() and (fr[1] == f1).all()
        exp = f1.copy()
        exp[2:6, 4:10] = patch
        assert (fr[2] == exp).all()

    def test_dispose_to_background_is_white(self):
        from tidb_cdc_spark.functions.media_decode import (
            decode_webp_anim_frames,
        )
        from tidb_cdc_spark.functions.media_synth import _encode_webp_anim

        f0 = np.full((12, 16), 100, dtype=np.int64)
        patch = np.full((4, 6), 0, dtype=np.int64)
        tail = np.full((2, 2), 7, dtype=np.int64)
        p = _encode_webp_anim(
            [(f0, 40), (patch, 30, 4, 2, 0x01), (tail, 10, 0, 0, 0)],
            16, 12,
        )
        fr = decode_webp_anim_frames(p)
        assert (fr[1][2:6, 4:10] == 0).all()
        assert (fr[2][2:6, 4:10] == 255).all()
        assert fr[2][0, 0] == 7

    def test_rejects(self):
        from tidb_cdc_spark.functions.media_decode import (
            decode_webp_anim_frames,
        )
        from tidb_cdc_spark.functions.media_synth import _encode_webp_anim
        from tidb_cdc_spark.functions.webp import encode_webp_lossless

        f0 = np.full((12, 16), 100, dtype=np.int64)
        patch = np.full((4, 6), 0, dtype=np.int64)
        # frame rect outside the canvas
        bad = _encode_webp_anim([(f0, 40), (patch, 30, 12, 10, 2)], 16, 12)
        assert decode_webp_anim_frames(bad) is None
        # truncated mid-ANMF
        ok = _encode_webp_anim([(f0, 40), (f0, 40)], 16, 12)
        assert decode_webp_anim_frames(ok[: len(ok) - 6]) is None
        # a still VP8L is not an animation
        assert decode_webp_anim_frames(
            encode_webp_lossless(f0, "literal")
        ) is None

    def test_trim_shares_composed_hashes_and_routing(self, spark):
        from tidb_cdc_spark.functions.media_hash import video_frame_hashes
        from tidb_cdc_spark.functions.media_synth import synth_webp_anim_media

        ids = spark.createDataFrame(
            [(1, 5, 0, 0), (2, 5, 1, 20)],
            "media_id long, base long, skip int, shift int",
        )
        rows = video_frame_hashes(synth_webp_anim_media(ids)).collect()
        per = {}
        for r in rows:
            per.setdefault(r.media_id, []).append(r.fhash)
        assert len(per[1]) == 8 and len(per[2]) == 7
        assert per[1][1:] == per[2]  # trim-aligned, shift-invariant


class TestTiffDecode:
    """decode_tiff_pixels: uncompressed baseline TIFF — both byte
    orders, multi-strip, photometric 0/1/2, 8/16-bit, RGBA, the
    Orientation tag, and the fail-closed rejects."""

    def test_envelope_roundtrips(self):
        from tidb_cdc_spark.functions.media_decode import decode_tiff_pixels
        from tidb_cdc_spark.functions.media_synth import _encode_tiff

        g = _rng().integers(0, 256, (33, 47)).astype(np.int64)
        cases = [
            dict(rows_per_strip=10),
            dict(endian=">"),
            dict(photometric=0),  # WhiteIsZero inverts back
            dict(rgb=True),
            dict(rgb=True, endian=">"),
            dict(bits=16, rows_per_strip=7),
            dict(bits=16, endian=">"),
            dict(rgb=True, bits=16),
            dict(rgba=True),
        ]
        for kw in cases:
            got = decode_tiff_pixels(_encode_tiff(g, **kw))
            assert got is not None and (got == g).all(), kw

    def test_orientation_normalizes(self):
        import numpy as np

        from tidb_cdc_spark.functions.media_decode import decode_tiff_pixels
        from tidb_cdc_spark.functions.media_synth import _encode_tiff

        g = _rng().integers(0, 256, (24, 24)).astype(np.int64)
        inv = {
            2: lambda a: a[:, ::-1], 3: lambda a: a[::-1, ::-1],
            4: lambda a: a[::-1, :], 5: lambda a: a.T,
            6: lambda a: a[:, ::-1].T, 7: lambda a: a[::-1, ::-1].T,
            8: lambda a: a.T[:, ::-1],
        }
        for o, f in inv.items():
            p = _encode_tiff(np.ascontiguousarray(f(g)), orientation=o)
            got = decode_tiff_pixels(p)
            assert got is not None and (got == g).all(), o

    def test_probe_and_boundary_route(self):
        from tidb_cdc_spark.functions.media_decode import decode_pixels
        from tidb_cdc_spark.functions.media_probe import parse_image_header
        from tidb_cdc_spark.functions.media_synth import _encode_tiff

        g = _rng().integers(0, 256, (16, 20)).astype(np.int64)
        p = _encode_tiff(g)
        assert parse_image_header(p) == ("image/tiff", 20, 16)
        assert (decode_pixels(p) == g).all()

    def test_rejects_fail_closed(self):
        import struct

        from tidb_cdc_spark.functions.media_decode import decode_tiff_pixels
        from tidb_cdc_spark.functions.media_synth import _encode_tiff

        g = _rng().integers(0, 256, (16, 16)).astype(np.int64)
        p = _encode_tiff(g)
        # truncated strip: no fabricated pixels
        assert decode_tiff_pixels(p[:-10]) is None
        # compression tag flipped to LZW: codec territory
        bad = bytearray(p)
        (ifd0,) = struct.unpack_from("<I", bad, 4)
        (n,) = struct.unpack_from("<H", bad, ifd0)
        for i in range(n):
            off = ifd0 + 2 + 12 * i
            tag = struct.unpack_from("<H", bad, off)[0]
            if tag == 259:
                struct.pack_into("<H", bad, off + 8, 5)
        assert decode_tiff_pixels(bytes(bad)) is None
        assert decode_tiff_pixels(b"II*\x00" + b"\x00" * 20) is None
        assert decode_tiff_pixels(b"garbage") is None

    def test_cross_codec_hash_identity(self):
        """A TIFF re-save of a BMP/PNG image hashes IDENTICALLY —
        the cross-codec claim extended to the sixth format."""
        from tidb_cdc_spark.functions.media_decode import decode_pixels
        from tidb_cdc_spark.functions.media_hash import ahash64
        from tidb_cdc_spark.functions.media_synth import _encode_tiff

        idx = np.arange(64) // 8
        bit_idx = (idx[:, None] * 8 + idx[None, :]) % 8
        for v in (1, 85, 254):
            g = np.where((v >> bit_idx) & 1, 180, 60).astype(np.int64)
            assert ahash64(decode_pixels(_encode_tiff(g))) == ahash64(g)
            assert ahash64(
                decode_pixels(_encode_tiff(g, rgb=True, endian=">"))
            ) == ahash64(g)
