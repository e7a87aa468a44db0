"""VP8L lossless-WebP decode (functions/webp.py): entropy-coded
images (simple + normal prefix codes, 16/17/18 repeats, max-symbol
cap), LZ77 + color cache, all four transforms, the pinned
neighbor-distance prefix, and the documented no-guess rejects."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tidb_cdc_spark.functions.media_decode import decode_pixels
from tidb_cdc_spark.functions.media_hash import ahash64
from tidb_cdc_spark.functions.webp import (
    _DIST_MAP,
    _inv_predictor,
    decode_webp_lossless_pixels,
    encode_webp_lossless,
)


def _px_bytes(v):
    """The (a, r, g, b) bytes of an ARGB int as an int64 array."""
    return np.array(
        [(v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF],
        dtype=np.int64,
    )


def _rng():
    return np.random.default_rng(20260816)


VARIANTS = ("literal", "sg", "lz", "pred")


class TestRoundTrips:
    @pytest.mark.parametrize("variant", VARIANTS)
    @pytest.mark.parametrize(
        "size", [(8, 8), (13, 17), (5, 3), (1, 1), (64, 70)]
    )
    def test_gray_roundtrip(self, variant, size):
        h, w = size
        g = _rng().integers(0, 256, (h, w)).astype(np.int64)
        out = decode_webp_lossless_pixels(encode_webp_lossless(g, variant))
        assert out is not None and (out == g).all()

    @pytest.mark.parametrize("variant", ("literal", "pal", "lz"))
    def test_palette_images_roundtrip(self, variant):
        rng = _rng()
        vals = np.array([10, 60, 180, 240])
        for h, w in [(8, 8), (13, 17), (9, 7)]:
            g = vals[rng.integers(0, 4, (h, w))].astype(np.int64)
            out = decode_webp_lossless_pixels(
                encode_webp_lossless(g, variant)
            )
            assert out is not None and (out == g).all()

    def test_two_color_bundling_eight_per_byte(self):
        g = np.where(
            _rng().integers(0, 2, (11, 19)) > 0, 200, 40
        ).astype(np.int64)
        out = decode_webp_lossless_pixels(encode_webp_lossless(g, "pal"))
        assert out is not None and (out == g).all()

    def test_lz77_copy_above_fires(self):
        """Repeated rows make the encoder emit real backrefs via
        neighbor-distance code 1 = (0, 1); exactness pins the copy
        loop + cache insertion along the copied range."""
        base = _rng().integers(0, 256, (4, 16)).astype(np.int64)
        g = np.repeat(base, 4, axis=0)
        raw = encode_webp_lossless(g, "lz")
        plain = encode_webp_lossless(g, "literal")
        assert len(raw) < len(plain)  # backrefs actually compress
        out = decode_webp_lossless_pixels(raw)
        assert out is not None and (out == g).all()

    def test_alpha_composites_over_white(self):
        """Same round-half-up white compositing as the PNG path:
        a=255 is the identity, a=0 is white."""
        g = np.full((4, 4), 100, dtype=np.int64)
        for a in (0, 64, 128, 255):
            out = decode_webp_lossless_pixels(
                encode_webp_lossless(g, "literal", alpha=a)
            )
            expect = (100 * a + 255 * (255 - a) + 127) // 255
            assert (out == expect).all(), a


class TestPredictorInverse:
    """All 14 predictor modes, inverted against an independent
    forward implementation (residual = pixel − predictor, mod 256
    per channel, spec edge rules)."""

    @staticmethod
    def _forward(argb, mode):
        h, w = argb.shape
        res = np.zeros_like(argb)
        for y in range(h):
            for x in range(w):
                i = y * w + x
                cur = _px_bytes(int(argb[y, x]))
                if x == 0 and y == 0:
                    pred = _px_bytes(0xFF000000)
                elif y == 0:
                    pred = _px_bytes(int(argb[y, x - 1]))
                elif x == 0:
                    pred = _px_bytes(int(argb[y - 1, x]))
                else:
                    flat = argb.reshape(-1)
                    L = _px_bytes(int(flat[i - 1]))
                    T = _px_bytes(int(flat[i - w]))
                    TL = _px_bytes(int(flat[i - w - 1]))
                    TR = _px_bytes(int(flat[i - w + 1]))
                    if mode == 0:
                        pred = _px_bytes(0xFF000000)
                    elif mode == 1:
                        pred = L
                    elif mode == 2:
                        pred = T
                    elif mode == 3:
                        pred = TR
                    elif mode == 4:
                        pred = TL
                    elif mode == 5:
                        pred = ((L + TR) // 2 + T) // 2
                    elif mode == 6:
                        pred = (L + TL) // 2
                    elif mode == 7:
                        pred = (L + T) // 2
                    elif mode == 8:
                        pred = (TL + T) // 2
                    elif mode == 9:
                        pred = (T + TR) // 2
                    elif mode == 10:
                        pred = ((L + TL) // 2 + (T + TR) // 2) // 2
                    elif mode == 11:
                        # RFC 9649 Select: ties go to T (strict <)
                        p = L + T - TL
                        pe = int(np.abs(p - L).sum())
                        te = int(np.abs(p - T).sum())
                        pred = L if pe < te else T
                    elif mode == 12:
                        pred = np.clip(L + T - TL, 0, 255)
                    else:
                        # AddSubtractComponentHalf: C division
                        # truncates toward zero, not floor
                        a = (L + T) // 2
                        d = a - TL
                        pred = np.clip(
                            a + np.sign(d) * (np.abs(d) // 2), 0, 255
                        )
                d = (cur - pred) % 256
                res[y, x] = (
                    (int(d[0]) << 24) | (int(d[1]) << 16)
                    | (int(d[2]) << 8) | int(d[3])
                )
        return res

    @pytest.mark.parametrize("mode", list(range(14)))
    def test_all_modes_roundtrip(self, mode):
        rng = _rng()
        h, w = 6, 7
        vals = rng.integers(0, 256, (h, w, 4)).astype(np.int64)
        argb = (
            (vals[:, :, 0] << 24) | (vals[:, :, 1] << 16)
            | (vals[:, :, 2] << 8) | vals[:, :, 3]
        ).astype(np.uint32)
        res = self._forward(argb.astype(np.int64), mode)
        # one tile covering everything, the mode in the green channel
        tiles = np.array([0xFF000000 | (mode << 8)], dtype=np.uint32)
        out = _inv_predictor(
            res.reshape(-1).astype(np.uint32), w, h, 9, tiles
        )
        assert out is not None
        assert (out.reshape(h, w) == argb).all(), mode


class TestDistanceMap:
    def test_table_shape_and_spot_values(self):
        """The 120-entry literal is the libwebp-derived record (the
        guarded conformance test re-derives it against the real
        decoder wherever libwebp.so exists): unique, complete, and
        the spot entries both ends + the irregular tail region."""
        assert len(_DIST_MAP) == 120
        assert len(set(_DIST_MAP)) == 120
        assert _DIST_MAP[0] == (0, 1)  # copy-above
        assert _DIST_MAP[1] == (1, 0)  # copy-left
        assert _DIST_MAP[96] == (8, 0)
        assert _DIST_MAP[101] == (8, 1)
        assert _DIST_MAP[119] == (8, 7)
        assert all(0 <= dy <= 7 and -7 <= dx <= 8 for dx, dy in _DIST_MAP)


class TestRejects:
    def test_garbage_and_wrong_container(self):
        assert decode_webp_lossless_pixels(b"") is None
        assert decode_webp_lossless_pixels(b"RIFF" + b"\x00" * 30) is None
        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        raw = bytearray(encode_webp_lossless(g, "literal"))
        # lossy VP8 chunk tag: codec territory
        lossy = bytes(raw[:12]) + b"VP8 " + bytes(raw[16:])
        assert decode_webp_lossless_pixels(lossy) is None
        # VP8X extended container
        ext = bytes(raw[:12]) + b"VP8X" + bytes(raw[16:])
        assert decode_webp_lossless_pixels(ext) is None

    def test_bad_signature_and_version(self):
        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        raw = bytearray(encode_webp_lossless(g, "literal"))
        bad = bytearray(raw)
        bad[20] = 0x2E  # signature byte
        assert decode_webp_lossless_pixels(bytes(bad)) is None
        bad = bytearray(raw)
        bad[24] |= 0xE0  # version bits (top 3 of the 5th header byte)
        assert decode_webp_lossless_pixels(bytes(bad)) is None

    def test_truncation(self):
        g = _rng().integers(0, 256, (16, 16)).astype(np.int64)
        raw = encode_webp_lossless(g, "literal")
        assert decode_webp_lossless_pixels(raw[: len(raw) // 2]) is None


class TestHeaderProbe:
    """parse_image_header knows all three WebP chunk flavors — the
    crawl metadata pass needs dims without a codec library."""

    def test_vp8l_dims(self):
        from tidb_cdc_spark.functions.media_probe import parse_image_header

        for h, w in [(1, 1), (13, 17), (480, 640), (16383, 16383)]:
            g = np.zeros((min(h, 8), min(w, 8)), dtype=np.int64)
            raw = bytearray(encode_webp_lossless(g, "literal"))
            # patch the 14-bit dims to the probed values
            wm1, hm1 = w - 1, h - 1
            raw[21] = wm1 & 0xFF
            raw[22] = (wm1 >> 8) | ((hm1 & 0x3) << 6)
            raw[23] = (hm1 >> 2) & 0xFF
            raw[24] = (raw[24] & 0xF0) | (hm1 >> 10)
            got = parse_image_header(bytes(raw))
            assert got == ("image/webp", w, h)

    def test_vp8_lossy_dims(self):
        from tidb_cdc_spark.functions.media_probe import parse_image_header

        body = bytes(3) + b"\x9d\x01\x2a" + struct.pack("<HH", 640, 480)
        body += bytes(10)
        p = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBP"
            + b"VP8 " + struct.pack("<I", len(body)) + body
        )
        assert parse_image_header(p) == ("image/webp", 640, 480)

    def test_vp8x_dims(self):
        from tidb_cdc_spark.functions.media_probe import parse_image_header

        body = bytes(4) + (639).to_bytes(3, "little") + (479).to_bytes(
            3, "little"
        ) + bytes(10)
        p = (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBP"
            + b"VP8X" + struct.pack("<I", len(body)) + body
        )
        assert parse_image_header(p) == ("image/webp", 640, 480)


class TestBoundary:
    def test_decode_pixels_routes_webp(self):
        g = _rng().integers(0, 256, (16, 16)).astype(np.int64)
        for variant in VARIANTS:
            out = decode_pixels(encode_webp_lossless(g, variant))
            assert out is not None and (out == g).all()

    def test_cross_codec_hash_equality(self):
        """The same pixels through WebP (all variants), PNG and BMP
        must produce ONE aHash — the cross-codec re-encode claim."""
        from tidb_cdc_spark.functions.media_synth import _encode_png

        vals = np.array([40, 200])
        g = vals[_rng().integers(0, 2, (64, 70))].astype(np.int64)
        hashes = {ahash64(decode_pixels(_encode_png(g, "rgb")))}
        for variant in ("literal", "sg", "lz", "pred", "pal"):
            hashes.add(
                ahash64(decode_pixels(encode_webp_lossless(g, variant)))
            )
        assert len(hashes) == 1

    def test_synth_webp_legs(self, spark):
        from tidb_cdc_spark.functions.media_hash import perceptual_hashes
        from tidb_cdc_spark.functions.media_synth import (
            synth_codec_pixel_media,
        )

        legs = ("webp", "webp_pal", "webp_sg", "webp_lz", "webp_pred")
        rows = []
        for pid, v in enumerate((3, 170)):
            for leg_i, leg in enumerate(legs):
                rows.append((pid * 10 + leg_i, v, 0, leg))
        ids = spark.createDataFrame(
            rows, "media_id long, pattern int, shift int, codec string"
        )
        got = perceptual_hashes(synth_codec_pixel_media(ids)).toPandas()
        assert got["ahash"].notna().all()
        by_pattern = {}
        for _, r in got.iterrows():
            by_pattern.setdefault(int(r["media_id"]) // 10, set()).add(
                (int(r["ahash"]), int(r["dhash"]))
            )
        assert all(len(s) == 1 for s in by_pattern.values())
        assert by_pattern[0] != by_pattern[1]
