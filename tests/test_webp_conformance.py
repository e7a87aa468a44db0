"""VP8L conformance against libwebp ITSELF, via ctypes — no Python
codec package needed, just the C library this container ships
(``libwebp.so.7``). Two directions:

1. REAL-encoder round-trips: ``WebPEncodeLosslessRGBA`` over a
   diverse image battery (noise / gradients / tiles / palettes /
   alpha / photo-like — the shapes that make the production encoder
   reach for predictor+color transforms, meta prefix tiles, the
   color cache, and far LZ77 backrefs), decoded by OUR pure-Python
   path, must reproduce the source pixels EXACTLY (lossless).
2. Distance-map derivation: for every one of the 120 neighbor
   distance codes, craft a minimal stream with position-stamped
   literals and one backref using that code, decode it with the
   REAL ``WebPDecodeRGBA``, read off which source pixel it copied,
   and assert our ``_DIST_MAP`` entry matches — re-deriving the
   whole table from the reference implementation.

Skips cleanly where libwebp.so is absent; the literal table in
``functions/webp.py`` is the verified record either way.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import struct

import numpy as np
import pytest

import tidb_cdc_spark.functions.webp as W


def _load_libwebp():
    for name in ("libwebp.so.7", "libwebp.so", "webp"):
        try:
            if name == "webp":
                found = ctypes.util.find_library("webp")
                if not found:
                    return None
                name = found
            lib = ctypes.CDLL(name)
            break
        except OSError:
            continue
    else:
        return None
    lib.WebPEncodeLosslessRGBA.restype = ctypes.c_size_t
    lib.WebPEncodeLosslessRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
    ]
    lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
    lib.WebPDecodeRGBA.argtypes = [
        ctypes.c_char_p, ctypes.c_size_t,
        ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
    ]
    lib.WebPFree.argtypes = [ctypes.c_void_p]
    return lib


_LIB = _load_libwebp()
pytestmark = pytest.mark.skipif(
    _LIB is None, reason="libwebp shared library not present"
)


def _encode_rgba(rgba: np.ndarray) -> bytes:
    h, w, _ = rgba.shape
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = _LIB.WebPEncodeLosslessRGBA(
        rgba.astype(np.uint8).tobytes(), w, h, w * 4, ctypes.byref(out)
    )
    assert n > 0, "libwebp encode failed"
    data = ctypes.string_at(out, n)
    _LIB.WebPFree(out)
    return data


def _libwebp_decode(data: bytes):
    wi, hi = ctypes.c_int(), ctypes.c_int()
    ptr = _LIB.WebPDecodeRGBA(data, len(data), ctypes.byref(wi), ctypes.byref(hi))
    if not ptr:
        return None
    w, h = wi.value, hi.value
    buf = ctypes.string_at(ptr, w * h * 4)
    _LIB.WebPFree(ptr)
    return np.frombuffer(buf, np.uint8).reshape(h, w, 4)


def _expected_luma(rgba: np.ndarray) -> np.ndarray:
    a = rgba[:, :, 3].astype(np.int64)
    comp = [
        (rgba[:, :, c].astype(np.int64) * a + 255 * (255 - a) + 127) // 255
        for c in range(3)
    ]
    return (comp[0] * 299 + comp[1] * 587 + comp[2] * 114) // 1000


def _battery():
    rng = np.random.default_rng(20260816)
    cases = []
    for h, w in [(8, 8), (33, 47), (64, 64)]:
        x = np.zeros((h, w, 4), np.uint8)
        x[:, :, :3] = rng.integers(0, 256, (h, w, 3))
        x[:, :, 3] = 255
        cases.append(("noise", x))
    for h, w in [(64, 64), (120, 200)]:
        yy, xx = np.mgrid[0:h, 0:w]
        x = np.zeros((h, w, 4), np.uint8)
        x[:, :, 0] = (yy * 255 // max(h - 1, 1)).astype(np.uint8)
        x[:, :, 1] = (xx * 255 // max(w - 1, 1)).astype(np.uint8)
        x[:, :, 2] = ((xx + yy) % 256).astype(np.uint8)
        x[:, :, 3] = 255
        cases.append(("gradient", x))
    tile = rng.integers(0, 256, (8, 16, 3))
    h, w = 96, 160
    x = np.zeros((h, w, 4), np.uint8)
    x[:, :, :3] = np.tile(tile, (h // 8, w // 16, 1))
    x[:, :, 3] = 255
    cases.append(("tiles", x))
    pal = rng.integers(0, 256, (5, 3))
    idx = rng.integers(0, 5, (128, 128))
    x = np.zeros((128, 128, 4), np.uint8)
    x[:, :, :3] = pal[idx]
    x[:, :, 3] = 255
    cases.append(("palette", x))
    h, w = 48, 64
    x = np.zeros((h, w, 4), np.uint8)
    x[:, :, :3] = rng.integers(0, 256, (h, w, 3))
    x[:, :, 3] = rng.integers(0, 256, (h, w))
    cases.append(("alpha", x))
    h, w = 160, 240
    yy, xx = np.mgrid[0:h, 0:w]
    base = (128 + 80 * np.sin(yy / 17.0) + 40 * np.cos(xx / 23.0)).astype(
        np.int64
    )
    x = np.zeros((h, w, 4), np.uint8)
    x[:, :, 0] = np.clip(base + rng.integers(-8, 9, (h, w)), 0, 255)
    x[:, :, 1] = np.clip(base // 2 + rng.integers(-8, 9, (h, w)), 0, 255)
    x[:, :, 2] = np.clip(255 - base + rng.integers(-8, 9, (h, w)), 0, 255)
    x[:, :, 3] = 255
    cases.append(("photo", x))
    return cases


class TestRealEncoderRoundTrip:
    @pytest.mark.parametrize(
        "name,rgba", _battery(), ids=[n for n, _ in _battery()]
    )
    def test_decodes_real_libwebp_output_exactly(self, name, rgba):
        payload = _encode_rgba(rgba)
        out = W.decode_webp_lossless_pixels(payload)
        assert out is not None, name
        assert (out == _expected_luma(rgba)).all(), name


def _riff(bw) -> bytes:
    data = b"\x2f" + bw.flush()
    padded = data + (b"\x00" if len(data) % 2 else b"")
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(padded)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(data)) + padded
    )


def _craft_backref_stream(w, h, backref_at, length, dcode):
    """Minimal VP8L stream: position-stamped literals (pos in
    green + red bit 8), one backref of ``length`` using neighbor
    distance code ``dcode`` at ``backref_at``."""
    bw = W._LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)  # no transforms
    lcode, lx, lxb = W._prefix_symbol(length)
    dpref, dxv, dxb = W._prefix_symbol(dcode)
    image = []
    i = 0
    while i < w * h:
        if i == backref_at:
            image += [(0, 256 + lcode, lx, lxb), (4, dpref, dxv, dxb)]
            i += length
            continue
        image.append(0xFF000000 | ((i >> 8) & 1) << 16 | (i & 0xFF) << 8)
        i += 1
    W._write_image(bw, image, level0=True, use_max=True)
    return _riff(bw)


class TestDistanceMapDerivation:
    def test_all_120_codes_against_libwebp(self):
        """Re-derive the complete neighbor map from the reference
        decoder and assert it equals the literal in webp.py — AND
        that our decoder agrees pixel-for-pixel on every stream."""
        w, h = 24, 14
        backref_at = 11 * w + 12
        for code in range(1, 121):
            p = _craft_backref_stream(w, h, backref_at, 3, code)
            truth = _libwebp_decode(p)
            assert truth is not None, f"libwebp rejected code {code}"
            flat_g = truth[:, :, 1].reshape(-1).astype(np.int64)
            flat_r = truth[:, :, 0].reshape(-1).astype(np.int64)
            src = int(flat_r[backref_at]) * 256 + int(flat_g[backref_at])
            dist = backref_at - src
            dy = (dist + 8) // w
            dx = dist - dy * w
            assert W._DIST_MAP[code - 1] == (dx, dy), (
                f"code {code}: libwebp says ({dx}, {dy}), "
                f"table says {W._DIST_MAP[code - 1]}"
            )
            mine = W.decode_webp_lossless_pixels(p)
            tl = (
                flat_r * 0  # alpha 255 everywhere: plain BT.601
                + truth[:, :, 0].reshape(-1).astype(np.int64) * 299
                + truth[:, :, 1].reshape(-1).astype(np.int64) * 587
                + truth[:, :, 2].reshape(-1).astype(np.int64) * 114
            ) // 1000
            assert mine is not None, code
            assert (mine.reshape(-1) == tl).all(), code


def _craft_predictor_stream(w, h, mode, rng):
    """Minimal VP8L stream: predictor transform with ONE tile
    (size_bits=9) set to ``mode``, main image = RANDOM residuals in
    all four channels — the operand patterns the real encoder's
    round-trips never exercise (it only picks a mode when residuals
    are small), so each of the 14 inverse-predictor rules is pinned
    directly against WebPDecodeRGBA."""
    bw = W._LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(1, 1)  # transform present
    bw.write(0, 2)  # predictor transform
    bw.write(7, 3)  # size_bits = 9 -> one 512x512 tile
    W._write_image(bw, [mode << 8])  # tile image: 1x1, mode in green
    bw.write(0, 1)  # no more transforms
    # main image: random residuals, all four channels
    res = rng.integers(0, 256, (h * w, 4))  # g, r, b, a
    W._write_image(
        bw,
        [a << 24 | r << 16 | g << 8 | b for g, r, b, a in res.tolist()],
        level0=True,
        use_max=True,
    )
    return _riff(bw)


class TestPredictorModeConformance:
    """Directed per-mode streams (random residuals) vs WebPDecodeRGBA.

    The encoder round-trip battery above cannot pin modes whose
    divergent operand patterns the production encoder avoids — the
    Select tie-break and AddSubtractComponentHalf truncation
    bugs both survived it. These streams force every mode over
    uniform-random operands, so any arithmetic divergence in the
    inverse predictor shows as a pixel mismatch."""

    @pytest.mark.parametrize("mode", range(14))
    def test_mode_matches_libwebp(self, mode):
        rng = np.random.default_rng(77000 + mode)
        for trial in range(3):
            p = _craft_predictor_stream(17, 13, mode, rng)
            truth = _libwebp_decode(p)
            assert truth is not None, f"libwebp rejected mode {mode}"
            mine = W.decode_webp_lossless_pixels(p)
            assert mine is not None, f"mode {mode} trial {trial}"
            assert (mine == _expected_luma(truth)).all(), (
                f"mode {mode} trial {trial}: pixel divergence vs libwebp"
            )


class TestLossyVp8Decode:
    """The lossy branch: `decode_webp_lossy_pixels` is ctypes to
    THIS library, so conformance is definitional — these tests pin
    the wiring (tag routing, luma reduction, hash survival) rather
    than the codec math."""

    def test_real_lossy_stream_decodes_close_to_source(self):
        from tidb_cdc_spark.functions.media_decode import decode_pixels
        from tidb_cdc_spark.functions.webp import (
            decode_webp_lossless_pixels,
            decode_webp_lossy_pixels,
            encode_webp_lossy,
        )

        rng = np.random.default_rng(20260816)
        h, w = 48, 64
        yy, xx = np.mgrid[0:h, 0:w]
        g = np.clip(
            128 + 60 * np.sin(yy / 11.0) + 40 * np.cos(xx / 13.0), 0, 255
        ).astype(np.int64)
        p = encode_webp_lossy(g, 95.0)
        assert p[12:16] == b"VP8 "  # really lossy, not VP8L
        assert decode_webp_lossless_pixels(p) is None  # pure path declines
        got = decode_webp_lossy_pixels(p)
        assert got is not None and got.shape == (h, w)
        assert int(np.abs(got - g).max()) <= 16  # q=95 smooth image
        # the boundary routes it identically
        routed = decode_pixels(p)
        assert routed is not None and (routed == got).all()

    def test_luma_reduction_matches_reference_rgba(self):
        """Our reduction of libwebp's RGBA equals the shared
        alpha-over-white + BT.601 formula bit-for-bit (the same
        _expected_luma the lossless battery uses)."""
        from tidb_cdc_spark.functions.webp import (
            decode_webp_lossy_pixels,
        )

        rng = np.random.default_rng(7)
        x = np.zeros((20, 30, 4), np.uint8)
        x[:, :, :3] = rng.integers(0, 256, (20, 30, 3))
        x[:, :, 3] = rng.integers(0, 256, (20, 30))
        payload = _encode_rgba(x)  # lossless — exact RGBA known
        got = decode_webp_lossy_pixels(payload)  # ctypes handles VP8L too
        assert got is not None
        assert (got == _expected_luma(x)).all()

    def test_flat_plant_hashes_survive_lossy_roundtrip(self):
        """The audit lemma for `multimodal_webp_lossy_audit`: the
        64×64 flat-block plant's aHash AND dHash survive the
        WebPEncodeRGBA(q=95) → decode chain bit-exactly, for a
        pattern sample and both shifts (the full 254×2 sweep was
        run once during development: 0 mismatches)."""
        from tidb_cdc_spark.functions.media_hash import ahash64, dhash64
        from tidb_cdc_spark.functions.webp import (
            decode_webp_lossy_pixels,
            encode_webp_lossy,
        )

        idx = np.arange(64) // 8
        bit_idx = (idx[:, None] * 8 + idx[None, :]) % 8
        for v in (1, 37, 85, 170, 203, 254):
            for d in (0, 20):
                g = np.where((v >> bit_idx) & 1, 180, 60) + d
                got = decode_webp_lossy_pixels(encode_webp_lossy(g, 95.0))
                assert got is not None
                assert ahash64(got) == ahash64(g), (v, d)
                assert dhash64(got) == dhash64(g), (v, d)

    def test_absent_library_is_null_hash_path(self, monkeypatch):
        """Where libwebp is missing the branch degrades to the
        documented NULL-hash admission, never an exception."""
        import tidb_cdc_spark.functions.webp as WW

        monkeypatch.setattr(WW, "_LIBWEBP", False)
        fake_vp8 = (
            b"RIFF" + struct.pack("<I", 20) + b"WEBP"
            + b"VP8 " + struct.pack("<I", 8) + b"\x00" * 8
        )
        assert WW.decode_webp_lossy_pixels(fake_vp8) is None
        with pytest.raises(RuntimeError):
            WW.encode_webp_lossy(np.zeros((8, 8), dtype=np.int64))

    def test_synth_leg_emits_real_vp8(self, spark):
        from tidb_cdc_spark.functions.media_synth import (
            synth_codec_pixel_media,
        )

        ids = spark.createDataFrame(
            [(i, 1 + i % 254, 0, "webp_lossy") for i in range(4)],
            "media_id long, pattern int, shift int, codec string",
        )
        rows = synth_codec_pixel_media(
            ids, "media_id", width=64, height=64
        ).collect()
        assert len(rows) == 4
        for r in rows:
            assert bytes(r.payload[12:16]) == b"VP8 "
