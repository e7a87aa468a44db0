"""MJPEG: the dominant real-world AVI codec on the video frame
path — baseline-JPEG ``00dc`` chunks (per-frame standalone streams)
decoded by the conformance-verified pure JPEG decoder, and the
OpenDML "AVI1" DHT-less frame form made decodable by injecting the
T.81 Annex K.3 fixed tables (``mjpeg_ensure_dht``). The K.3 table
BYTES are additionally pinned against javax.imageio's writer in
tests/test_codec_conformance.py (the no-guess doctrine).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from tidb_cdc_spark.functions.jpeg import (
    _STD_AC_CHROM,
    _STD_AC_LUM,
    _STD_DC_CHROM,
    _STD_DC_LUM,
    decode_jpeg_pixels,
    encode_jpeg,
    mjpeg_ensure_dht,
    mjpeg_strip_dht,
)
from tidb_cdc_spark.functions.media_decode import decode_avi_frames
from tidb_cdc_spark.functions.media_hash import (
    ahash64,
    video_frame_hashes,
    video_near_dup_pairs,
)
from tidb_cdc_spark.functions.media_probe import parse_avi_header
from tidb_cdc_spark.functions.media_synth import synth_mjpeg_avi_media


def _rng():
    return np.random.default_rng(0xA71)


def _unsigned(h: int) -> int:
    return h + (1 << 64) if h < 0 else h


def _mjpeg_frame_gray(base: int, f: int, d: int, size: int = 64):
    """The synth's frame formula, reconstructed independently."""
    v = 1 + (base * 8 + f) % 65534
    cell = np.arange(size) // 8
    bit_idx = (cell[:, None] * 8 + cell[None, :]) % 16
    return np.where((v >> bit_idx) & 1, 180, 60) + d


def _build_avi(frames: "list[bytes]", w: int, h: int, dc: bool = True):
    movi = b"movi"
    for data in frames:
        movi += (b"00dc" if dc else b"00db") + struct.pack("<I", len(data))
        movi += data
        if len(data) & 1:
            movi += b"\x00"
    avih = (
        struct.pack("<I", 40_000)
        + b"\x00" * 12
        + struct.pack("<I", len(frames))
        + b"\x00" * 12
        + struct.pack("<II", w, h)
        + b"\x00" * 16
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


class TestStdTables:
    def test_spec_shapes_and_kraft(self):
        """Every K.3 spec is a complete, decodable canonical code:
        counts sum to the symbol count and satisfy Kraft strictly
        (< 1 — JPEG reserves the all-ones code)."""
        for counts, syms in (
            _STD_DC_LUM, _STD_DC_CHROM, _STD_AC_LUM, _STD_AC_CHROM,
        ):
            assert sum(counts) == len(syms)
            assert len(set(syms)) == len(syms)
            kraft = sum(
                n / (1 << (ln + 1)) for ln, n in enumerate(counts)
            )
            assert kraft < 1.0

    def test_standard_tables_roundtrip_exact(self):
        """A K.3-coded stream decodes identically to its fixture-
        table twin — tables change bytes, never pixels."""
        g = _rng().integers(0, 256, (24, 40)).astype(np.int64)
        assert np.array_equal(
            decode_jpeg_pixels(encode_jpeg(g, tables="standard")),
            decode_jpeg_pixels(encode_jpeg(g)),
        )

    def test_standard_tables_color_and_restart(self):
        g = _rng().integers(0, 256, (24, 40)).astype(np.int64)
        for kw in (
            dict(color=True, subsampling="420", cb_const=9, cr_const=-17),
            dict(restart_interval=2),
        ):
            assert np.array_equal(
                decode_jpeg_pixels(encode_jpeg(g, tables="standard", **kw)),
                decode_jpeg_pixels(encode_jpeg(g, **kw)),
            )


class TestDhtStripInject:
    def test_strip_removes_inject_restores(self):
        g = _rng().integers(0, 256, (24, 40)).astype(np.int64)
        full = encode_jpeg(g, tables="standard")
        naked = mjpeg_strip_dht(full)
        assert naked != full
        assert b"\xff\xc4" not in naked[: naked.find(b"\xff\xda")]
        # DHT-less stream is NOT decodable — no table fabrication
        assert decode_jpeg_pixels(naked) is None
        # ... until the K.3 injection makes it self-contained
        assert np.array_equal(
            decode_jpeg_pixels(mjpeg_ensure_dht(naked)),
            decode_jpeg_pixels(full),
        )

    def test_inject_noop_on_dht_carrying_and_non_jpeg(self):
        g = _rng().integers(0, 256, (16, 16)).astype(np.int64)
        full = encode_jpeg(g, tables="standard")
        assert mjpeg_ensure_dht(full) == full
        fixture = encode_jpeg(g)  # non-K.3 tables: must NOT be touched
        assert mjpeg_ensure_dht(fixture) == fixture
        assert mjpeg_ensure_dht(b"\x89PNG\r\n\x1a\n") == b"\x89PNG\r\n\x1a\n"
        assert mjpeg_ensure_dht(b"") == b""

    def test_strip_handles_color_multisegment(self):
        g = _rng().integers(0, 256, (16, 32)).astype(np.int64)
        full = encode_jpeg(
            g, color=True, subsampling="420", cb_const=4, cr_const=-4,
            tables="standard",
        )
        naked = mjpeg_strip_dht(full)
        assert np.array_equal(
            decode_jpeg_pixels(mjpeg_ensure_dht(naked)),
            decode_jpeg_pixels(full),
        )


class TestMjpegAviDecode:
    def test_planted_frames_decode_bit_exact(self):
        frames = [
            encode_jpeg(_mjpeg_frame_gray(5, f, 0), tables="standard")
            for f in range(8)
        ]
        payload = _build_avi(frames, 64, 64)
        assert parse_avi_header(payload) == ("video/avi", 64, 64, 320)
        got = decode_avi_frames(payload)
        assert got is not None and len(got) == 8
        for f, gray in enumerate(got):
            assert np.array_equal(gray, _mjpeg_frame_gray(5, f, 0))

    def test_dht_less_twin_decodes_identically(self):
        full = [
            encode_jpeg(_mjpeg_frame_gray(7, f, 0), tables="standard")
            for f in range(4)
        ]
        naked = [mjpeg_strip_dht(b) for b in full]
        a = decode_avi_frames(_build_avi(full, 64, 64))
        b = decode_avi_frames(_build_avi(naked, 64, 64))
        assert a is not None and b is not None
        assert all(np.array_equal(x, y) for x, y in zip(a, b))

    def test_dims_disagreement_fails_closed(self):
        frames = [encode_jpeg(_mjpeg_frame_gray(3, 0, 0), tables="standard")]
        assert decode_avi_frames(_build_avi(frames, 32, 32)) is None

    def test_undecodable_jpeg_frame_fails_closed(self):
        # SOI magic but garbage after: decode_jpeg_pixels → None
        assert (
            decode_avi_frames(_build_avi([b"\xff\xd8" + b"\x00" * 64], 64, 64))
            is None
        )

    def test_non_jpeg_dc_chunks_stay_codec_territory(self):
        # a compressed chunk without the SOI magic is skipped (no
        # frames at all → None, as before the MJPEG branch existed)
        assert decode_avi_frames(_build_avi([b"\x00" * 64], 64, 64)) is None

    def test_mixed_db_and_dc_chunks(self):
        g = _mjpeg_frame_gray(9, 0, 0, size=16)
        stride = (16 * 3 + 3) & ~3
        body = np.zeros((16, stride), dtype=np.uint8)
        body[:, : 16 * 3] = np.repeat(g[::-1].astype(np.uint8), 3, axis=1)
        raw = body.tobytes()
        jpg = encode_jpeg(g, tables="standard")
        movi = (
            b"movi"
            + b"00db" + struct.pack("<I", len(raw)) + raw
            + b"00dc" + struct.pack("<I", len(jpg)) + jpg
        )
        if len(jpg) & 1:
            movi += b"\x00"
        avih = (
            struct.pack("<I", 40_000) + b"\x00" * 12
            + struct.pack("<I", 2) + b"\x00" * 12
            + struct.pack("<II", 16, 16) + b"\x00" * 16
        )
        hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
        bodyb = (
            b"AVI "
            + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
            + b"LIST" + struct.pack("<I", len(movi)) + movi
        )
        payload = b"RIFF" + struct.pack("<I", len(bodyb)) + bodyb
        got = decode_avi_frames(payload)
        assert got is not None and len(got) == 2
        assert np.array_equal(got[0], g)  # raw DIB of the same gray
        assert np.array_equal(got[1], g)  # MJPEG twin, bit-exact


class TestMjpegHashLemma:
    def test_frame_hash_is_word_replication(self):
        """At 64×64 the 8-px cells coincide with JPEG blocks — the
        aHash of frame (B, f) is the 16-bit word replicated ×4,
        shift-invariant, over the audit's whole (pid·8+f) domain."""
        for base, f, d in ((0, 0, 0), (5, 3, 20), (112, 7, 0), (112, 7, 20)):
            g = _mjpeg_frame_gray(base, f, d)
            dec = decode_jpeg_pixels(
                encode_jpeg(g, tables="standard")
            )
            assert np.array_equal(dec, g)  # flat blocks: bit-exact
            v = 1 + (base * 8 + f) % 65534
            expect = sum(((v >> (b % 16)) & 1) << b for b in range(64))
            assert _unsigned(ahash64(dec)) == expect


class TestMjpegSparkPath:
    def test_synth_near_dup_planted(self, spark):
        rows = [
            (10, 5, 0, 0, 0),   # DHT-carrying exemplar
            (11, 5, 0, 0, 1),   # AVI1 DHT-less twin: shares 8
            (12, 5, 1, 20, 1),  # trimmed + shifted + DHT-less: shares 7
            (20, 9, 0, 0, 0),   # different cluster: shares 0
        ]
        df = spark.createDataFrame(
            rows,
            "media_id long, base long, skip int, shift int, strip int",
        )
        media = {
            r.media_id: bytes(r.payload)
            for r in synth_mjpeg_avi_media(df, "media_id").collect()
        }
        assert media[10] != media[11]  # different bytes...
        fh = video_frame_hashes(synth_mjpeg_avi_media(df, "media_id"))
        pairs = video_near_dup_pairs(
            fh, min_shared_frames=4, max_frame_freq=None
        ).collect()
        got = {(r.id_a, r.id_b): r.shared_frames for r in pairs}
        assert got == {(10, 11): 8, (10, 12): 7, (11, 12): 7}

    def test_synth_payloads_are_real_avi1(self, spark):
        df = spark.createDataFrame(
            [(1, 3, 0, 0, 1)],
            "media_id long, base long, skip int, shift int, strip int",
        )
        payload = bytes(
            synth_mjpeg_avi_media(df, "media_id").collect()[0].payload
        )
        assert parse_avi_header(payload) == ("video/avi", 64, 64, 320)
        # the stripped frames really carry no DHT segment
        assert b"\xff\xc4" not in payload
        frames = decode_avi_frames(payload)
        assert frames is not None and len(frames) == 8
        for f, gray in enumerate(frames):
            assert np.array_equal(gray, _mjpeg_frame_gray(3, f, 0))
