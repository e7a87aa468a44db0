"""A few header bytes must not buy an unbounded canvas.

The JPEG decoder sizes its coefficient grid, the PNG decoder its
sample planes, the GIF, APNG and animated-WebP frame decoders their
canvas, and both WebP pixel paths (pure VP8L and libwebp) their
image, from dimensions the payload declares. Each returns None before
allocating when the declared canvas exceeds ``MAX_CANVAS_PIXELS``.
Nor may a small compressed stream expand past the image it declares:
a 16×16 PNG whose IDAT inflates to 100 MiB, and a 16×16 GIF whose
LZW codes repeat the longest table entry thousands of times. Every
decoder and probe is run under ``tracemalloc`` (numpy reports its
buffers to it) on these payloads and must stay under 64 MB.
``tracemalloc`` cannot see libwebp's C heap, so libwebp's
``WebPDecodeRGBA`` is replaced by a recorder that must never be
called: the libwebp path refuses from the header alone.
"""

from __future__ import annotations

import struct
import tracemalloc
import zlib

import numpy as np

from tests.test_media_bytes import PURE, namespace, single_partition_plants
from tests.test_media_sweep import planted_payloads

PEAK_BYTES = 64 << 20


def _traced(fn, p):
    """(result, peak traced bytes) of ``fn(p)``."""
    tracemalloc.start()
    try:
        out = fn(p)
        return out, tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def _png(ns, w: int, h: int, idat: bytes) -> bytes:
    """An 8-bit grayscale PNG declaring ``w``×``h`` around ``idat``."""
    chunk = ns["_png_chunk"]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        ns["PNG_MAGIC"] + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _deflate(n_rows: int, row: bytes) -> bytes:
    """``n_rows`` copies of ``row`` as one zlib stream, compressed a
    row at a time."""
    z = zlib.compressobj(9)
    return b"".join(z.compress(row) for _ in range(n_rows)) + z.flush()


def _gif_lzw_bomb() -> bytes:
    """A 16×16 GIF whose LZW stream (2-bit codes) grows the table one
    entry per code — each the previous entry plus its first index —
    until it is full, then repeats its last, longest code: ~2,250×
    the stream's size in palette indices, all of them 0."""
    codes, size, width = [4, 0], 6, 3  # clear, then index 0
    widths = [3, 3]
    while size < 4096:
        codes.append(size)  # the entry being defined: prev + prev[0]
        widths.append(width)
        size += 1
        if size == 1 << width and width < 12:
            width += 1
    codes += [4095] * 6300
    widths += [12] * 6300
    acc = nbits = 0
    lzw = bytearray()
    for c, n in zip(codes, widths):
        acc |= c << nbits
        nbits += n
        while nbits >= 8:
            lzw.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    lzw.append(acc)
    blocks = b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    palette = bytes([30, 60, 90]) + bytes(9)
    return (
        b"GIF89a" + struct.pack("<HHBBB", 16, 16, 0x81, 0, 0) + palette
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 16, 16, 0)
        + b"\x02" + blocks + b"\x00\x3b"
    )


def _oversized(spark, ns) -> dict:
    """{label: (payload, a decoder, what it must return)}: None for
    every payload but the GIF bomb, whose first 256 indices are a
    valid image (palette entry 0 everywhere)."""
    g = np.full((16, 16), 100, dtype=np.int64)
    jpeg = bytearray(ns["encode_jpeg"](g))
    sof = jpeg.find(b"\xff\xc0")
    jpeg[sof + 5 : sof + 9] = b"\xff\xff\xff\xff"  # 65535 × 65535
    gif = bytearray(ns["_encode_gif"](g))
    gif[6:10] = b"\xff\xff\xff\xff"  # 65535 × 65535 logical screen
    apng = bytearray(ns["_encode_apng"]([(g, 0, 0, 0, 0)], 16, 16))
    assert apng[12:16] == b"IHDR"
    apng[16:24] = struct.pack(">II", 1 << 16, 1 << 15)  # 2^31 pixels
    apng[29:33] = struct.pack(">I", zlib.crc32(bytes(apng[12:29])))
    # single-symbol prefix codes read zero bits per pixel, so a 16×16
    # flat literal stream decodes at any declared size
    vp8l = bytearray(ns["encode_webp_lossless"](g, "literal"))
    vp8l[21:25] = struct.pack("<I", 16382 | 16382 << 14)  # 16383 × 16383
    webp = planted_payloads(spark, ns)["webp_anim"]
    out = {
        "jpeg": (bytes(jpeg), "decode_jpeg_pixels", None),
        "gif": (bytes(gif), "decode_gif_frames", None),
        "apng": (bytes(apng), "decode_apng_frames", None),
        "vp8l 16383x16383": (bytes(vp8l), "decode_pixels", None),
        # 100 MiB of zeros behind a 16×16 header (16 · 17 bytes)
        "png 16x16 inflating to 100 MiB": (
            _png(ns, 16, 16, _deflate(100, bytes(1 << 20))),
            "decode_png_pixels", None,
        ),
        "png 8200x8192": (
            _png(ns, 8200, 8192, _deflate(8192, bytes(8201))),
            "decode_pixels", None,
        ),
        "gif lzw bomb": (
            _gif_lzw_bomb(), "decode_gif_pixels",
            np.full((16, 16), (30 * 299 + 60 * 587 + 90 * 114) // 1000),
        ),
    }
    for i in (26, 29):  # the sweep's canvas-width and -height variants
        out[f"webp_anim byte {i}:=255"] = (
            webp[:i] + b"\xff" + webp[i + 1 :], "decode_webp_anim_frames",
            None,
        )
    return out


class _DecodeRecorder:
    """libwebp with ``WebPDecodeRGBA`` recording its callers instead of
    decoding."""

    def __init__(self, lib):
        self._lib = lib
        self.calls = []

    def __getattr__(self, name):
        return getattr(self._lib, name)

    def WebPDecodeRGBA(self, payload, *args):  # noqa: N802 — libwebp's name
        self.calls.append(len(payload))


def test_declared_canvas_is_bounded(spark, monkeypatch):
    from tidb_cdc_spark.functions import webp

    single_partition_plants(monkeypatch)
    ns = namespace()
    lib = webp._libwebp()
    if lib is not None:
        lib = _DecodeRecorder(lib)
        monkeypatch.setattr(webp, "_LIBWEBP", lib)
    over = []
    for label, (p, decoder, want) in _oversized(spark, ns).items():
        for name in PURE:
            out, peak = _traced(ns[name], p)
            if name == decoder and want is None:
                assert out is None, label
            elif name == decoder:
                assert np.array_equal(out, want), label
            if peak >= PEAK_BYTES:
                over.append(f"{label}: {name} peaked at {peak >> 20} MB")
    assert not over, over
    assert lib is None or not lib.calls, lib.calls
