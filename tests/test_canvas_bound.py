"""A few header bytes must not buy an unbounded canvas.

The JPEG decoder sizes its coefficient grid, the GIF, APNG and
animated-WebP frame decoders size their canvas, and both WebP pixel
paths (pure VP8L and libwebp) size their image, from dimensions the
payload declares. Each returns None before allocating when the
declared canvas exceeds ``MAX_CANVAS_PIXELS``. Every decoder and
probe is run under ``tracemalloc`` (numpy reports its buffers to it)
on payloads that declare billions of pixels, and must stay under
64 MB. ``tracemalloc`` cannot see libwebp's C heap, so libwebp's
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


def _oversized(spark, ns) -> dict:
    """{label: (payload, the decoder that must return None)}."""
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
        "jpeg": (bytes(jpeg), "decode_jpeg_pixels"),
        "gif": (bytes(gif), "decode_gif_frames"),
        "apng": (bytes(apng), "decode_apng_frames"),
        "vp8l 16383x16383": (bytes(vp8l), "decode_pixels"),
    }
    for i in (26, 29):  # the sweep's canvas-width and -height variants
        out[f"webp_anim byte {i}:=255"] = (
            webp[:i] + b"\xff" + webp[i + 1 :], "decode_webp_anim_frames"
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
    for label, (p, decoder) in _oversized(spark, ns).items():
        for name in PURE:
            out, peak = _traced(ns[name], p)
            if name == decoder:
                assert out is None, label
            if peak >= PEAK_BYTES:
                over.append(f"{label}: {name} peaked at {peak >> 20} MB")
    assert not over, over
    assert lib is None or not lib.calls, lib.calls
