"""Byte identity of the media functions against a recorded fixture.

``tests/fixtures/media_bytes.json`` holds sha256 digests of

- every ``synth_*`` planter's output rows (payload included) over
  fixed id frames covering the skip, shift, noise and codec variants;
- every ``_encode_*`` fixture encoder's output on fixed arrays;
- every decoder's and probe's result on each of those payloads (one
  digest per payload over all of them, plus the image and audio hashes
  of the decoded pixels and samples), and the Spark-side probe / hash
  passes over the planted media.

``media_digests`` resolves every function by name from one namespace
dict, so the same code computes the digests for any layout of the
media modules; the fixture was recorded from the single
``functions/multimodal.py`` module the four ``media_*`` modules
replaced.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
from pyspark.sql import functions as F

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "media_bytes.json")

#: every pure-Python decoder and probe, applied to every payload
PURE = (
    "parse_image_header",
    "parse_media_header",
    "parse_avi_header",
    "gif_animation_info",
    "webp_animation_info",
    "apng_animation_info",
    "decode_image_dims",
    "decode_bmp_pixels",
    "decode_png_pixels",
    "decode_gif_pixels",
    "decode_gif_frames",
    "decode_apng_frames",
    "decode_webp_anim_frames",
    "decode_tiff_pixels",
    "decode_avi_frames",
    "decode_wav_samples",
    "decode_pixels",
)

#: Spark passes run over the union of the planted media
PASSES = (
    "probe_media",
    "extract_features",
    "perceptual_hashes",
    "dct_phashes",
    "audio_fingerprints",
    "video_frame_hashes",
    "audio_window_hashes",
)


def _feed(h, v) -> None:
    if v is None:
        h.update(b"N;")
    elif isinstance(v, np.ndarray):
        h.update(f"A{v.shape}{v.dtype};".encode())
        h.update(np.ascontiguousarray(v).tobytes())
    elif isinstance(v, (bytes, bytearray, memoryview)):
        h.update(b"B%d;" % len(v))
        h.update(bytes(v))
    elif isinstance(v, (list, tuple)):
        h.update(b"L%d;" % len(v))
        for x in v:
            _feed(h, x)
    else:
        h.update(f"V{v!r};".encode())


def _digest(v) -> str:
    h = hashlib.sha256()
    _feed(h, v)
    return h.hexdigest()


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: tuple(map(repr, r))
    )


def _plants(spark, ns):
    """{planter label: DataFrame} over fixed id frames."""

    def frame(schema, rows):  # one partition: no per-slice Python tasks
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

    anim = frame(
        "media_id long, base long, skip int, shift int",
        [(0, 3, 0, 0), (1, 3, 1, 0), (2, 3, 0, 7), (3, 40, 1, -5)],
    )
    legs = (
        list(ns["CODEC_LEGS"]) + list(ns["PNG_DEEP_LEGS"])
        + ["jpeg", "jpeg_rgb", "jpeg_420", "jpeg_prog", "jpeg_prog_420"]
        + [f"jpeg_o{o}" for o in range(1, 9)]
        + ["tiff", "tiff_rgb_be", "tiff_16", "tiff_rgba", "tiff_wiz"]
        + [f"tiff_o{o}" for o in range(1, 9)]
        + ["webp", "webp_sg", "webp_pal", "webp_lz", "webp_pred"]
    )  # not webp_lossy: its bytes come from the host's libwebp build
    codec_rows = [
        (i, 1 + (i * 37) % 254, (i % 3) * 5, c) for i, c in enumerate(legs)
    ]
    codec_ids = frame(
        "media_id long, pattern int, shift int, codec string", codec_rows
    )
    base_legs = list(ns["CODEC_LEGS"]) + list(ns["PNG_DEEP_LEGS"])
    codec70 = frame(
        "media_id long, pattern int, shift int, codec string",
        [(i, 1 + (i * 53) % 254, i % 2 * 9, c) for i, c in enumerate(base_legs)],
    )
    wav_rows = [
        (i, 1 + (i * 29) % 254, 1 + i % 3, c)
        for i, c in enumerate(["pcm16", "ulaw", "alaw", "adpcm"] * 2)
    ]
    wav = frame("media_id long, pattern int, gain int, codec string", wav_rows)
    return {
        "container": ns["synth_container_media"](
            spark.range(0, 16).withColumnRenamed("id", "media_id")
        ),
        "image": ns["synth_image_media"](
            spark.range(0, 20).withColumnRenamed("id", "media_id")
        ),
        "avi": ns["synth_avi_media"](anim),
        "mjpeg": ns["synth_mjpeg_avi_media"](
            frame(
                "media_id long, base long, skip int, shift int, strip int",
                [(0, 3, 0, 0, 0), (1, 3, 1, 4, 1)],
            ),
            n_frames=3,
        ),
        "gif_anim": ns["synth_gif_anim_media"](anim),
        "webp_anim": ns["synth_webp_anim_media"](anim),
        "apng_anim": ns["synth_apng_anim_media"](anim),
        "wav_pcm": ns["synth_wav_pcm_media"](wav, codec_col="codec"),
        "wav_pcm_default": ns["synth_wav_pcm_media"](wav.drop("codec")),
        "bmp_pixel": ns["synth_bmp_pixel_media"](
            frame(
                "media_id long, pattern int, shift int",
                [(0, 1, 0), (1, 2, 0), (2, 77, 7), (3, 254, -3)],
            )
        ),
        "audio_probe": ns["synth_audio_probe_media"](
            spark.range(0, 12).withColumnRenamed("id", "doc_id")
        ),
        "anim_probe": ns["synth_anim_probe_media"](
            spark.range(0, 6).withColumnRenamed("id", "doc_id")
        ),
        "codec64": ns["synth_codec_pixel_media"](
            codec_ids, width=64, height=64
        ),
        "codec70": ns["synth_codec_pixel_media"](codec70),
        "wav_windowed": ns["synth_wav_windowed_media"](
            frame(
                "media_id long, base long, skip int, gain int",
                [(0, 3, 0, 1), (1, 3, 1, 2), (2, 3, 8, 1)],
            )
        ),
        "bmp_block16": ns["synth_bmp_block16_media"](
            frame(
                "media_id long, word int, shift int, noise int",
                [(0, 643, 0, 0), (1, 643, 5, 1), (2, 1286, 0, 2)],
            )
        ),
        "synthesize": ns["synthesize_media"](spark, n=9),
    }


def _encoded(ns) -> dict:
    """{label: bytes} from every fixture encoder on fixed arrays."""
    rng = np.random.default_rng(7)
    g = rng.integers(0, 256, (16, 16)).astype(np.int64)
    few = np.where(rng.integers(0, 2, (9, 13)) == 1, 180, 60).astype(np.int64)
    out = {}
    for mode in ("rgb", "gray", "pal"):
        for seed in range(5):
            out[f"png_{mode}_{seed}"] = ns["_encode_png"](g, mode, filter_seed=seed)
            out[f"png_few_{mode}_{seed}"] = ns["_encode_png"](
                few, mode, filter_seed=seed
            )
    combos = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16), 6: (8, 16)}
    chans = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    for color, depths in combos.items():
        for depth in depths:
            s = rng.integers(0, 1 << depth, (11, 7, chans[color]))
            pal = (
                rng.integers(0, 256, 3 << depth).astype(np.uint8).tobytes()
                if color == 3
                else None
            )
            for inter in (False, True):
                out[f"pngex_{color}_{depth}_{int(inter)}"] = ns["_encode_png_ex"](
                    s, color, depth, interlaced=inter, filter_seed=depth,
                    palette=pal,
                )
    for inter in (False, True):
        out[f"gif_{int(inter)}"] = ns["_encode_gif"](g, interlaced=inter)
        out[f"gif_few_{int(inter)}"] = ns["_encode_gif"](few, interlaced=inter)
    key = np.full((8, 8), 90, dtype=np.int64)
    patch = np.full((3, 4), -1, dtype=np.int64)
    patch[1, 1:3] = 200
    out["gif_anim"] = ns["_encode_gif_anim"](
        [(key, 0, 0, 0), (patch, 2, 3, 2), (patch + 0, 4, 1, 3), (key, 0, 0, 1)]
    )
    out["gif_anim_opts"] = ns["_encode_gif_anim"](
        [(key[:2, :2], 0, 0, 1)] * 3, loop=False, delays=[5, 7, 300],
        screen=(20, 11),
    )
    sub = np.full((2, 3), 200, dtype=np.int64)
    frames = [(key, 0, 0, 0, 0), (sub, 1, 2, 1, 0), (sub, 5, 5, 2, 1)]
    out["apng"] = ns["_encode_apng"](frames, 8, 8)
    out["apng_hidden"] = ns["_encode_apng"](
        frames[1:], 8, 8, delay_ms=70, hidden_default=key
    )
    out["webp_anim"] = ns["_encode_webp_anim"](
        [(key, 40), (sub, 90, 2, 4, 2), (sub, 10, 0, 0, 3)], 8, 8
    )
    for name, kw in {
        "plain": {},
        "wiz": {"photometric": 0},
        "b16": {"bits": 16, "rows_per_strip": 5},
        "be": {"endian": ">", "rows_per_strip": 3},
        "rgb": {"rgb": True},
        "rgba_be16": {"rgba": True, "bits": 16, "endian": ">"},
        "orient6": {"orientation": 6, "rows_per_strip": 4},
    }.items():
        out[f"tiff_{name}"] = ns["_encode_tiff"](g, **kw)
    x = (rng.integers(-9000, 9000, 257)).astype(np.int64)
    out["g711_ulaw"] = ns["_g711_encode"](x, ns["_ULAW_LUT"]).tobytes()
    out["g711_alaw"] = ns["_g711_encode"](x, ns["_ALAW_LUT"]).tobytes()
    out["ima_block"] = ns["_ima_encode_block"](x[:65], 36)
    out["ima_block_pad"] = ns["_ima_encode_block"](x[:40], 36)
    out["lzw_4"] = ns["_gif_lzw_encode"](rng.integers(0, 16, 5000), 4)
    out["lzw_2"] = ns["_gif_lzw_encode"](rng.integers(0, 2, 900), 2)
    out["png_chunk"] = ns["_png_chunk"](b"tEXt", b"k\x00v")
    out["idat"] = ns["_idat_payload"](out["png_rgb_3"])
    out.update(_encoded_jpeg(ns))
    out.update(_encoded_webp(ns))
    return out


def _encoded_webp(ns) -> dict:
    """Every VP8L encoder variant on odd-sized arrays: noise through
    the literal, subtract-green, LZ77 and predictor paths; 2, 4 and 16
    grays through every palette bundling width (xbits 3, 2, 1);
    repeated rows with few grays for LZ77 copies and colour-cache hits,
    at a width whose length code carries extra bits and one whose code
    does not; the literal path at alpha 0, 128 and 255; and a flat
    image (one-symbol codes only)."""
    rng = np.random.default_rng(23)
    enc = ns["encode_webp_lossless"]
    noise = rng.integers(0, 256, (13, 11)).astype(np.int64)
    out = {f"webp_{v}_noise": enc(noise, v) for v in ("literal", "sg", "lz", "pred")}
    for n in (2, 4, 16):
        grays = rng.choice(256, n, replace=False).astype(np.int64)
        few = grays[rng.integers(0, n, (9, 13))]
        assert len(np.unique(few)) == n
        out[f"webp_pal{n}"] = enc(few, "pal")
    for a in (0, 128, 255):
        out[f"webp_literal_a{a}"] = enc(few[:5, :7], "literal", alpha=a)
    for name, w in (("wide", 13), ("narrow", 3)):
        rows = few[[0, 0, 1, 2, 2, 2, 3, 0, 0], :w]
        out[f"webp_lz_rows_{name}"] = enc(rows, "lz")
    out["webp_literal_flat"] = enc(np.ones((5, 3), dtype=np.int64), "literal")
    return out


def _encoded_jpeg(ns) -> dict:
    """Every JPEG encoder keyword combination the tests use, on one
    odd-sized noise array (every AC path) and one smooth one (long
    zero runs: ZRL and EOB runs)."""
    noise = np.random.default_rng(19).integers(0, 256, (19, 27)).astype(np.int64)
    smooth = np.add.outer(np.arange(19) * 5, np.arange(27) * 3).astype(np.int64)
    c420 = {"color": True, "subsampling": "420"}
    seq = {
        "plain": {},
        "rst": {"restart_interval": 2},
        "444_cbcr": {"color": True, "cb_const": -24, "cr_const": 16},
        "420_cbcr_rst": {**c420, "cb_const": 17, "cr_const": -9,
                         "restart_interval": 3},
        "std": {"tables": "standard"},
        "std_rst": {"tables": "standard", "restart_interval": 2},
        "std_420": {**c420, "cb_const": 9, "cr_const": -17,
                    "tables": "standard"},
        "exif6": {"exif_orientation": 6},
    }
    prog = {
        "plain": {},
        "rst": {"restart_interval": 2},
        "444_cbcr": {"color": True, "cb_const": 5, "cr_const": -5},
        "420_cbcr_rst": {**c420, "cb_const": 5, "cr_const": -5,
                         "restart_interval": 3},
        "dcpc": {"dc_per_component": True},
        "420_dcpc": {**c420, "cb_const": 17, "cr_const": -9,
                     "dc_per_component": True},
        "420_dcpc_rst": {**c420, "dc_per_component": True,
                         "restart_interval": 2},
    }
    out = {}
    for name, g in (("noise", noise), ("smooth", smooth)):
        for kind, combos in (("seq", seq), ("prog", prog)):
            enc = ns["encode_jpeg" if kind == "seq" else "encode_jpeg_progressive"]
            for label, kw in combos.items():
                out[f"jpeg_{kind}_{label}_{name}"] = enc(g, **kw)
    return out


def media_digests(spark, ns) -> dict:
    """{key: sha256 hex} over the planters, encoders, decoders and
    Spark passes, every function looked up by name in ``ns``."""
    out = {}
    payloads = dict(_encoded(ns))
    for label, data in payloads.items():
        out[f"encode/{label}"] = _digest(data)
    plants = _plants(spark, ns)
    media = None  # one job plants every frame, tagged with its label
    for label, df in plants.items():
        df = df.withColumn("_label", F.lit(label))
        media = df if media is None else media.unionByName(df)
    rows = [tuple(r) for r in media.collect()]
    for label in plants:
        mine = sorted((r[:-1] for r in rows if r[-1] == label),
                      key=lambda r: tuple(map(repr, r)))
        out[f"synth/{label}"] = _digest(mine)
        for r in mine:
            payloads[f"{label}/{r[0]}"] = bytes(r[-1])
    for label in sorted(payloads):
        p = payloads[label]
        results = [ns[fn](p) for fn in PURE]
        gray = results[PURE.index("decode_pixels")]
        x = results[PURE.index("decode_wav_samples")]
        if gray is not None:
            results += [ns[h](gray) for h in ("ahash64", "dhash64", "dct_phash64")]
        if x is not None and len(x):
            results.append(ns["audio_fingerprint64"](x))
        out[f"decode/{label}"] = _digest(results)
    # the Spark passes read the planted rows back from two partitions:
    # their output depends on the rows only, not on the plant layout
    planted = spark.createDataFrame(
        spark.sparkContext.parallelize([r[:-1] for r in rows], 2),
        ns["MEDIA_SCHEMA"],
    )
    for fn in PASSES:
        out[f"pass/{fn}"] = _digest(_rows(ns[fn](planted)))
    return out


def namespace() -> dict:
    """Every name of the four media modules in one dict."""
    from tidb_cdc_spark.functions import (
        media_decode,
        media_hash,
        media_probe,
        media_synth,
    )

    ns = {}
    for mod in (media_probe, media_decode, media_hash, media_synth):
        ns.update(vars(mod))
    return ns


def single_partition_plants(monkeypatch):
    """Plant each frame on one partition: the bytes do not depend on
    the layout, and the planters' fan-out would otherwise run every
    small test frame as ``defaultParallelism`` Python tasks."""
    from tidb_cdc_spark.functions import media_synth

    monkeypatch.setattr(media_synth, "fan_out", lambda df, spark: df.coalesce(1))


def test_media_bytes_match_fixture(spark, monkeypatch):
    single_partition_plants(monkeypatch)
    with open(FIXTURE) as f:
        want = json.load(f)
    got = media_digests(spark, namespace())
    assert sorted(got) == sorted(want)
    bad = sorted(k for k in want if got[k] != want[k])
    assert not bad, f"{len(bad)} digests differ, e.g. {bad[:10]}"
