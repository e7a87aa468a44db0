"""Malformed-input sweep over every media decoder and probe.

The decoders run inside ``mapInPandas``, where one raised exception
fails the whole Spark job, so outside bytes that are not a valid
container must come back as ``None`` (or a header-level value), never
as an exception. One planted payload per format is cut at every
length and has every byte overwritten with 0, 1, 2, 3, 4 and 255;
every decoder and probe must return on every variant.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from tests.test_media_bytes import PURE, _feed, namespace, single_partition_plants

OVERWRITES = (0, 1, 2, 3, 4, 255)

#: sha256 over every variant's decoder and probe results, per payload:
#: every planted format's outcomes on malformed input, pinned value for
#: value. ``decode_pixels`` hands a WebP the pure VP8L path declines
#: to the host's libwebp, so the webp digests assume a libwebp build
#: that decodes what this one decodes. Every JPEG reader treats T.81's
#: standalone markers alike, so the jpeg variant "byte 3:=1" (APP0
#: becomes TEM, which has no length field) no longer decodes.
OUTCOMES = {
    "apng_anim": "cef49779ff07e95df16ffa50341f140ec0f2201bcfc6d17ea2ab14226c44927b",
    "avi": "38920791265ba69cdb006a082a6a8a2136d6a4aab6e96b7757cbf357c214b6df",
    "bmp": "19705dab24a51c8f9148cdbd16ea342e7588a79226a8ff5321250a4e5f56f07e",
    "flac": "d5b5da9b27717d7e782308d557b48c5c10472d22045a223f14b52dd49f33a8a4",
    "gif": "6a98fa1eeea888b9c2cbf665572abe47783bbd9829b01281331e095cda31523d",
    "gif_anim": "246119abf1a1f8068b57b8623d39c37c6035408be79e7881820ade398cdb21a8",
    "gif_i": "2b113e7260b171636e0937f1ac8154f9aef2757026ceb3c6bfc55ca01e7b3369",
    "jpeg": "d26b66259eb52010f58c4aa26ba9ef0b1ef835f4a61ad479007bc524bbd90d09",
    "mjpeg": "9d802be7c9fd05d5b3e33ecfa7cf36292171f34a8e25242b92283cce8adcc374",
    "mp3_xing": "e09e6e35c43e167a4c1eb95440704c4d53a4978efb0e3d4f9a6733459cb7de89",
    "mp4_v0": "5b00987ed7b81611aba1b3e99f491ed542363b06ea110eaabb03c7066130e74c",
    "mp4_v1": "5448bf59931a8fa26cbadfa2b8f280539b2672fa828dfd156a6b19357422497b",
    "png": "ef6bf742d7c82c3421c427422fc8a735ea484c01c443bc6e08e6bf38e706ab77",
    "png_i16": "2da7c5dc8e39047b562ebfe9d8a0d052861d38e55c678a9d596a323c0d0da4c0",
    "png_pal2": "ba178b8a7ca6f59054be499de3510c2acf9d2051df6f961e72e1c9102709f7ce",
    "tiff": "6a3ff5b3e8ee2f82111f4097b83402365e91a05e0546e11cb144686ac98c2b7c",
    "tiff_16": "64d92f0c9b6c1da2c9e1cb359316753ae26bcc5db84e63846679b373fab6e269",
    "wav": "d3dd6baf265a97bab32cef8b0057923f08e820dd300dcf3cb871893dfa7a443f",
    "wav_adpcm": "09ba073949d585439c5f3e7142676aa7751efd1c1f4b1b313b551c6ef773ab13",
    "wav_header": "c624722d83edcf8f5743e440156650495a91cf2200b71134bb0e07a7a3684bee",
    "wav_ulaw": "ce2ea92c7cf73a1d02d75c21df3bf0fb8abb698e2255bb7cfff324c920a5c646",
    "webp": "ffdbf7ee5c964d38fab3fcf7aca2efdd889e37550c410440200fa048591373aa",
    "webp_anim": "1b69070805c183f3b472ef2dd6733c9e5b9e1735f1112295f28acdf18257e6e4",
}


def planted_payloads(spark, ns) -> dict:
    """{format: bytes}: one small planted payload per format, all
    planted in one Spark job."""

    def frame(schema, rows):  # one partition: no per-slice Python tasks
        return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

    legs = ["bmp", "png", "png_i16", "png_pal2", "gif", "gif_i", "tiff",
            "tiff_16", "jpeg", "webp"]
    anim = frame(
        "media_id long, base long, skip int, shift int", [(0, 5, 0, 0)]
    )
    ids = spark.range(0, 4).withColumnRenamed("id", "media_id")
    plants = {
        "codec": ns["synth_codec_pixel_media"](
            frame(
                "media_id long, pattern int, shift int, codec string",
                [(i, 77, 3, c) for i, c in enumerate(legs)],
            ),
            width=16,
            height=16,
        ),
        "mjpeg": ns["synth_mjpeg_avi_media"](
            anim.withColumn("strip", anim.skip + 1), n_frames=2, size=16
        ),
        "wav": ns["synth_wav_pcm_media"](
            frame(
                "media_id long, pattern int, gain int, codec string",
                [(0, 77, 2, "pcm16"), (1, 77, 2, "ulaw"), (2, 77, 2, "adpcm")],
            ),
            codec_col="codec",
            samples_per_frame=1,
        ),
        "container": ns["synth_container_media"](ids),
        "audio": ns["synth_audio_probe_media"](ids, id_col="media_id"),
    }
    for name in ("avi", "gif_anim", "webp_anim", "apng_anim"):
        plants[name] = ns[f"synth_{name}_media"](
            anim, n_frames=2, width=16, height=16
        )
    media = None
    for label, df in plants.items():
        df = df.select(F.lit(label).alias("label"), "media_id", "payload")
        media = df if media is None else media.unionByName(df)
    got = {(r.label, r.media_id): bytes(r.payload) for r in media.collect()}
    out = {leg: got["codec", i] for i, leg in enumerate(legs)}
    for name in ("avi", "gif_anim", "webp_anim", "apng_anim", "mjpeg"):
        out[name] = got[name, 0]
    for i, name in enumerate(("wav", "wav_ulaw", "wav_adpcm")):
        out[name] = got["wav", i]
    out.update(wav_header=got["container", 0], mp4_v0=got["container", 1],
               mp4_v1=got["container", 3], flac=got["audio", 0],
               mp3_xing=got["audio", 1])
    return out


def variants(p: bytes):
    """Every truncation and every single-byte overwrite of ``p``."""
    for i in range(len(p)):
        yield f"cut {i}", p[:i]
        for v in OVERWRITES:
            if p[i] != v:
                yield f"byte {i}:={v}", p[:i] + bytes([v]) + p[i + 1 :]


@pytest.fixture(scope="module")
def swept(spark):
    """(payloads, {format: (outcome digest, raises)}): every variant of
    every planted payload runs once through every decoder and probe.
    The digest covers (variant, every result) in variant order; each
    raise is recorded as (variant, function, error) and fed to the
    digest as its repr."""
    ns = namespace()
    with pytest.MonkeyPatch.context() as mp:
        single_partition_plants(mp)
        payloads = planted_payloads(spark, ns)
    fns = [(name, ns[name]) for name in PURE]
    out = {}
    for fmt, p in sorted(payloads.items()):
        h = hashlib.sha256()
        errors = []
        for desc, q in variants(p):
            results = [desc]
            for name, fn in fns:
                try:
                    results.append(fn(q))
                except Exception as e:  # noqa: BLE001 — the thing under test
                    errors.append((desc, name, repr(e)[:80]))
                    results.append(repr(e))
            _feed(h, results)
        out[fmt] = (h.hexdigest(), errors)
    return payloads, out


def test_decoders_and_probes_never_raise(swept):
    payloads, out = swept
    ns = namespace()
    for fmt, p in payloads.items():  # each plant is valid for some reader
        assert any(
            ns[name](p) is not None for name in PURE if name != "decode_image_dims"
        ), fmt
    errors = [(fmt, *e) for fmt, (_, errs) in sorted(out.items()) for e in errs]
    assert not errors, f"{len(errors)} raises, e.g. {errors[:8]}"


def test_sweep_outcomes_match_fixture(swept):
    _, out = swept
    assert {fmt: out[fmt][0] for fmt in OUTCOMES} == OUTCOMES
