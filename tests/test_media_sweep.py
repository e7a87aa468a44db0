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

from pyspark.sql import functions as F

from tests.test_media_bytes import PURE, _feed, namespace, single_partition_plants

OVERWRITES = (0, 1, 2, 3, 4, 255)

#: sha256 over every variant's decoder and probe results, per payload:
#: the JPEG codec's outcome on malformed input, pinned value for value
OUTCOMES = {
    "jpeg": "d47314af7561aaa08e4be71f214af468fc353a5cdc21bf85c0140318d5ae8bec",
    "mjpeg": "9d802be7c9fd05d5b3e33ecfa7cf36292171f34a8e25242b92283cce8adcc374",
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


def sweep(payloads: dict, ns) -> list:
    """[(format, variant, function, error)] for every raise."""
    fns = [(name, ns[name]) for name in PURE]
    errors = []
    for fmt, p in sorted(payloads.items()):
        for desc, q in variants(p):
            for name, fn in fns:
                try:
                    fn(q)
                except Exception as e:  # noqa: BLE001 — the thing under test
                    errors.append((fmt, desc, name, repr(e)[:80]))
    return errors


def test_decoders_and_probes_never_raise(spark, monkeypatch):
    single_partition_plants(monkeypatch)
    ns = namespace()
    payloads = planted_payloads(spark, ns)
    for fmt, p in payloads.items():  # each plant is valid for some reader
        assert any(
            ns[name](p) is not None for name in PURE if name != "decode_image_dims"
        ), fmt
    errors = sweep(payloads, ns)
    assert not errors, f"{len(errors)} raises, e.g. {errors[:8]}"


def outcomes(p: bytes, ns) -> str:
    """One digest over (variant, every decoder's and probe's result)."""
    h = hashlib.sha256()
    for desc, q in variants(p):
        _feed(h, [desc] + [ns[name](q) for name in PURE])
    return h.hexdigest()


def test_jpeg_sweep_outcomes_match_fixture(spark, monkeypatch):
    single_partition_plants(monkeypatch)
    ns = namespace()
    payloads = planted_payloads(spark, ns)
    got = {fmt: outcomes(payloads[fmt], ns) for fmt in OUTCOMES}
    assert got == OUTCOMES
