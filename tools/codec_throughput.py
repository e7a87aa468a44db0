"""Per-core decode throughput of the pure-Python codec chain —
the honest number behind the "a decode fleet swaps in libpng/libjpeg"
story: how many MB/s (encoded bytes) and Mpx/s (decoded pixels) one
core sustains per format, measured over the same 22-leg corpus the
scale curve exercises (64×64 flat-block plants, the audits' shape).

No Spark involved: the decode runs inside the Arrow pass per row, so
single-core throughput IS the unit of fleet capacity (cores × this
table = fleet decode rate). The ctypes-libwebp lossy row is the
comparison anchor — a C decoder on the identical reduction chain —
quantifying the pure-Python gap directly.

Regenerate the NOTES.md table with:  python tools/codec_throughput.py
"""
from __future__ import annotations

import time

import numpy as np


def _plant(v: int, d: int = 0, n: int = 64):
    idx = np.arange(n) // 8
    bit_idx = (idx[:, None] * 8 + idx[None, :]) % 8
    return np.where((v >> bit_idx) & 1, 180, 60) + d


def _payloads(leg: str, patterns):
    from tidb_cdc_spark.functions import media_synth as M

    out = []
    for v in patterns:
        g = _plant(v)
        if leg == "bmp":
            out.append(M._encode_bmp(g))
        elif leg.startswith("png"):
            kind = {"png": "rgb", "png_gray": "gray", "png_pal": "pal"}[leg]
            out.append(M._encode_png(g, kind, filter_seed=v))
        elif leg == "gif":
            out.append(M._encode_gif(g))
        elif leg == "gif_i":
            out.append(M._encode_gif(g, interlaced=True))
        elif leg == "gif_anim":
            blocks, prev = [], None
            for f in range(4):
                gf = _plant(1 + (v * 4 + f) % 254)
                blocks.append(
                    (gf, 0, 0, 1) if prev is None
                    else (np.where(gf != prev, gf, -1), 0, 0, 1)
                )
                prev = gf
            out.append(M._encode_gif_anim(blocks))
        elif leg == "webp_anim":
            out.append(
                M._encode_webp_anim(
                    [(_plant(1 + (v * 4 + f) % 254), 40) for f in range(4)],
                    64, 64,
                )
            )
        elif leg == "apng_anim":
            frames, prev = [], None
            for f in range(4):
                gf = _plant(1 + (v * 4 + f) % 254)
                if prev is None:
                    frames.append((gf, 0, 0, 0, 0))
                else:
                    ys, xs = np.nonzero(gf != prev)
                    if len(ys):
                        y0, x0 = int(ys.min()), int(xs.min())
                        y1, x1 = int(ys.max()) + 1, int(xs.max()) + 1
                        frames.append((gf[y0:y1, x0:x1], x0, y0, 0, 0))
                    else:
                        frames.append((gf[:1, :1], 0, 0, 0, 0))
                prev = gf
            out.append(M._encode_apng(frames, 64, 64))
        elif leg == "mjpeg_avi":
            from tidb_cdc_spark.functions.jpeg import (
                encode_jpeg,
                mjpeg_strip_dht,
            )

            frames = [
                mjpeg_strip_dht(
                    encode_jpeg(_plant(1 + (v * 4 + f) % 254), tables="standard")
                )
                for f in range(4)
            ]
            out.append(M._avi(b"00dc", frames, 64, 64, 40_000))
        elif leg.startswith("jpeg"):
            from tidb_cdc_spark.functions.jpeg import (
                encode_jpeg,
                encode_jpeg_progressive,
            )

            if leg == "jpeg":
                out.append(encode_jpeg(g))
            elif leg == "jpeg_420":
                out.append(encode_jpeg(g, color=True, subsampling="420"))
            elif leg == "jpeg_prog":
                out.append(encode_jpeg_progressive(g))
            else:  # jpeg_prog_420
                out.append(
                    encode_jpeg_progressive(g, color=True, subsampling="420")
                )
        elif leg == "webp_lossy":
            from tidb_cdc_spark.functions.webp import encode_webp_lossy

            out.append(encode_webp_lossy(g, 95.0))
        elif leg.startswith("webp"):
            from tidb_cdc_spark.functions.webp import encode_webp_lossless

            variant = leg[5:] if len(leg) > 4 else "literal"
            out.append(encode_webp_lossless(g, variant))
        else:
            raise ValueError(leg)
    return out


LEGS = [
    ("bmp", "uncompressed BMP"),
    ("png", "PNG rgb"),
    ("png_gray", "PNG gray"),
    ("png_pal", "PNG palette"),
    ("gif", "GIF"),
    ("gif_i", "GIF interlaced"),
    ("gif_anim", "GIF animated 4-frame (frame path)"),
    ("webp_anim", "WebP animated 4-frame (frame path)"),
    ("apng_anim", "APNG animated 4-frame (frame path)"),
    ("mjpeg_avi", "MJPEG AVI 4-frame DHT-less (frame path)"),
    ("jpeg", "JPEG baseline gray"),
    ("jpeg_420", "JPEG baseline 4:2:0"),
    ("jpeg_prog", "JPEG progressive gray"),
    ("jpeg_prog_420", "JPEG progressive 4:2:0"),
    ("webp", "VP8L literal"),
    ("webp_pal", "VP8L palette-bundled"),
    ("webp_sg", "VP8L subtract-green"),
    ("webp_lz", "VP8L LZ77+cache"),
    ("webp_pred", "VP8L predictor"),
    ("webp_lossy", "lossy VP8 (ctypes libwebp)"),
]


def measure(n_payloads: int = 120, repeat: int = 3):
    from tidb_cdc_spark.functions.media_decode import (
        decode_gif_frames,
        decode_pixels,
    )

    patterns = [1 + (i * 37) % 254 for i in range(n_payloads)]
    rows = []
    for leg, label in LEGS:
        try:
            payloads = _payloads(leg, patterns)
        except RuntimeError:
            continue  # libwebp absent: skip the lossy row
        nbytes = sum(len(p) for p in payloads)
        anim = leg in ("gif_anim", "webp_anim", "mjpeg_avi", "apng_anim")
        npx = 64 * 64 * len(payloads) * (4 if anim else 1)
        if leg == "gif_anim":
            dec = decode_gif_frames
        elif leg == "apng_anim":
            from tidb_cdc_spark.functions.media_decode import (
                decode_apng_frames,
            )

            dec = decode_apng_frames
        elif leg == "webp_anim":
            from tidb_cdc_spark.functions.media_decode import (
                decode_webp_anim_frames,
            )

            dec = decode_webp_anim_frames
        elif leg == "mjpeg_avi":
            from tidb_cdc_spark.functions.media_decode import decode_avi_frames

            dec = decode_avi_frames
        else:
            dec = decode_pixels
        best = float("inf")
        for _ in range(repeat):
            t0 = time.perf_counter()
            for p in payloads:
                out = dec(p)
                assert out is not None
            best = min(best, time.perf_counter() - t0)
        rows.append(
            (
                label,
                nbytes / best / 1e6,
                npx / best / 1e6,
                nbytes / len(payloads),
            )
        )
    return rows


def main() -> None:
    rows = measure()
    print("| format | MB/s-per-core (encoded) | Mpx/s-per-core | bytes/img |")
    print("|---|---|---|---|")
    for label, mbs, mpxs, b in rows:
        print(f"| {label} | {mbs:.2f} | {mpxs:.2f} | {b:.0f} |")


if __name__ == "__main__":
    main()
