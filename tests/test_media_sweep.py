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
#: the JPEG and WebP codecs' outcomes on malformed input, pinned value
#: for value. ``decode_pixels`` hands a WebP the pure VP8L path declines
#: to the host's libwebp, so the webp digests assume a libwebp build
#: that decodes what this one decodes. Every JPEG reader treats T.81's
#: standalone markers alike, so the jpeg variant "byte 3:=1" (APP0
#: becomes TEM, which has no length field) no longer decodes.
OUTCOMES = {
    "jpeg": "d26b66259eb52010f58c4aa26ba9ef0b1ef835f4a61ad479007bc524bbd90d09",
    "mjpeg": "9d802be7c9fd05d5b3e33ecfa7cf36292171f34a8e25242b92283cce8adcc374",
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


def test_jpeg_sweep_outcomes_match_fixture(swept):
    _, out = swept
    assert {fmt: out[fmt][0] for fmt in OUTCOMES} == OUTCOMES
