"""Animated PNG (APNG, PNG Third Edition): fcTL sub-rect
composition over the conformance-verified still decoder, the
dispose/blend envelope, sequence validation, the hidden-default
rule, the header-only duration probe, and the Spark frame path
`animated_apng_video_audit` relies on.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from tidb_cdc_spark.functions.media_decode import (
    decode_apng_frames,
    decode_png_pixels,
)
from tidb_cdc_spark.functions.media_hash import (
    ahash64,
    video_frame_hashes,
    video_near_dup_pairs,
)
from tidb_cdc_spark.functions.media_probe import _png_chunk, apng_animation_info
from tidb_cdc_spark.functions.media_synth import (
    _encode_apng,
    _encode_png,
    synth_apng_anim_media,
)


def _rng():
    return np.random.default_rng(0xA9C)


def _unsigned(h: int) -> int:
    return h + (1 << 64) if h < 0 else h


class TestCompose:
    def test_full_frame_replace_and_backward_compat(self):
        rng = _rng()
        g0 = rng.integers(0, 256, (16, 16)).astype(np.int64)
        g1 = rng.integers(0, 256, (16, 16)).astype(np.int64)
        p = _encode_apng([(g0, 0, 0, 0, 0), (g1, 0, 0, 0, 0)], 16, 16)
        fr = decode_apng_frames(p)
        assert fr is not None and len(fr) == 2
        assert np.array_equal(fr[0], g0) and np.array_equal(fr[1], g1)
        # the still decoder sees the default image (frame 0) — the
        # spec's backward-compatibility contract
        assert np.array_equal(decode_png_pixels(p), g0)

    def test_subrect_composition_and_dispose_ops(self):
        rng = _rng()
        g0 = rng.integers(0, 256, (16, 16)).astype(np.int64)
        rect = rng.integers(0, 256, (5, 7)).astype(np.int64)
        # dispose none: the rect persists
        fr = decode_apng_frames(
            _encode_apng([(g0, 0, 0, 0, 0), (rect, 3, 2, 0, 0)], 16, 16)
        )
        want = g0.copy()
        want[2:7, 3:10] = rect
        assert np.array_equal(fr[1], want)
        # dispose background: region cleared to WHITE before frame 3
        fr = decode_apng_frames(
            _encode_apng(
                [(g0, 0, 0, 0, 0), (rect, 3, 2, 1, 0), (rect, 0, 0, 0, 0)],
                16, 16,
            )
        )
        w2 = g0.copy()
        w2[2:7, 3:10] = 255
        w2[0:5, 0:7] = rect
        assert np.array_equal(fr[2], w2)
        # dispose previous: the canvas reverts
        fr = decode_apng_frames(
            _encode_apng(
                [(g0, 0, 0, 0, 0), (rect, 3, 2, 2, 0), (rect, 9, 9, 0, 0)],
                16, 16,
            )
        )
        w2 = g0.copy()
        w2[9:14, 9:16] = rect
        assert np.array_equal(fr[2], w2)

    def test_hidden_default_image(self):
        rng = _rng()
        g0 = rng.integers(0, 256, (16, 16)).astype(np.int64)
        g1 = rng.integers(0, 256, (16, 16)).astype(np.int64)
        hidden = np.full((16, 16), 7, dtype=np.int64)
        p = _encode_apng(
            [(g0, 0, 0, 0, 0), (g1, 0, 0, 0, 0)], 16, 16,
            hidden_default=hidden,
        )
        fr = decode_apng_frames(p)
        assert len(fr) == 2
        assert np.array_equal(fr[0], g0) and np.array_equal(fr[1], g1)
        # the hidden default is what a still decoder shows
        assert np.array_equal(decode_png_pixels(p), hidden)

    def test_blend_over_on_opaque_gray_equals_source(self):
        """OVER with a fully-opaque color type is SOURCE by
        definition — composed exactly, not failed."""
        rng = _rng()
        g0 = rng.integers(0, 256, (16, 16)).astype(np.int64)
        rect = rng.integers(0, 256, (4, 4)).astype(np.int64)
        fr = decode_apng_frames(
            _encode_apng([(g0, 0, 0, 0, 0), (rect, 5, 5, 0, 1)], 16, 16)
        )
        want = g0.copy()
        want[5:9, 5:9] = rect
        assert np.array_equal(fr[1], want)


class TestFailClosed:
    def test_still_png_and_garbage(self):
        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        assert decode_apng_frames(_encode_png(g, "gray")) is None
        assert decode_apng_frames(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40) is None
        assert decode_apng_frames(b"GIF89a") is None

    def test_truncation_and_crc(self):
        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        p = _encode_apng([(g, 0, 0, 0, 0), (g, 0, 0, 0, 0)], 8, 8)
        assert decode_apng_frames(p) is not None
        assert decode_apng_frames(p[:-16]) is None
        bad = bytearray(p)
        bad[len(bad) // 2] ^= 0xFF
        assert decode_apng_frames(bytes(bad)) is None

    def test_sequence_gap_and_count_mismatch(self):
        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        p = _encode_apng([(g, 0, 0, 0, 0), (g, 0, 0, 0, 0)], 8, 8)
        # bump the second frame's fcTL sequence number (re-CRC it)
        i = p.index(b"fcTL", p.index(b"fcTL") + 4)
        data = bytearray(p[i + 4 : i + 4 + 26])
        data[3] += 1
        seg = _png_chunk(b"fcTL", bytes(data))
        gap = p[: i - 4] + seg + p[i + 4 + 26 + 4 :]
        assert decode_apng_frames(gap) is None
        # acTL count disagrees with the fcTL count
        j = p.index(b"acTL")
        seg = _png_chunk(b"acTL", struct.pack(">II", 3, 0))
        bad = p[: j - 4] + seg + p[j + 4 + 8 + 4 :]
        assert decode_apng_frames(bad) is None

    def test_out_of_canvas_and_idat_frame_must_cover(self):
        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        rect = g[:4, :4]
        # second frame rect exceeding the canvas
        assert (
            decode_apng_frames(
                _encode_apng([(g, 0, 0, 0, 0), (rect, 6, 6, 0, 0)], 8, 8)
            )
            is None
        )
        # IDAT-riding frame 0 must cover the full canvas (spec)
        assert (
            decode_apng_frames(
                _encode_apng([(rect, 0, 0, 0, 0), (g, 0, 0, 0, 0)], 8, 8)
            )
            is None
        )

    def test_alpha_blend_over_fails_closed(self):
        """A gray+alpha frame under OVER blending needs the planes
        the luma reduction collapsed — None, never wrong pixels."""
        from tidb_cdc_spark.functions.media_synth import (
            _encode_png_ex,
            _idat_payload,
        )

        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        a = np.full((8, 8), 255, dtype=np.int64)
        ga = _encode_png_ex(np.dstack([g, a]), color=4, depth=8)
        out = bytearray(b"\x89PNG\r\n\x1a\n")
        out += _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 4, 0, 0, 0)
        )
        out += _png_chunk(b"acTL", struct.pack(">II", 2, 0))
        out += _png_chunk(
            b"fcTL",
            struct.pack(">IIIIIHHBB", 0, 8, 8, 0, 0, 40, 1000, 0, 0),
        )
        out += _png_chunk(b"IDAT", _idat_payload(ga))
        out += _png_chunk(
            b"fcTL",
            struct.pack(">IIIIIHHBB", 1, 8, 8, 0, 0, 40, 1000, 0, 1),
        )
        out += _png_chunk(b"fdAT", struct.pack(">I", 2) + _idat_payload(ga))
        out += _png_chunk(b"IEND", b"")
        assert decode_apng_frames(bytes(out)) is None
        # the same stream under SOURCE blending composes fine
        src = bytes(out).replace(
            _png_chunk(
                b"fcTL",
                struct.pack(">IIIIIHHBB", 1, 8, 8, 0, 0, 40, 1000, 0, 1),
            ),
            _png_chunk(
                b"fcTL",
                struct.pack(">IIIIIHHBB", 1, 8, 8, 0, 0, 40, 1000, 0, 0),
            ),
        )
        fr = decode_apng_frames(src)
        assert fr is not None and len(fr) == 2


class TestProbe:
    def test_duration_and_frame_count(self):
        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        p = _encode_apng(
            [(g, 0, 0, 0, 0)] * 3, 8, 8, delay_ms=70
        )
        assert apng_animation_info(p) == (3, 210)
        assert apng_animation_info(_encode_png(g, "gray")) is None
        assert apng_animation_info(b"\x89PNG\r\n\x1a\n") is None

    def test_probe_media_duration(self, spark):
        from tidb_cdc_spark.functions.media_probe import probe_media

        g = _rng().integers(0, 256, (8, 8)).astype(np.int64)
        p = _encode_apng([(g, 0, 0, 0, 0)] * 4, 8, 8, delay_ms=50)
        df = spark.createDataFrame(
            [(1, "image", None, None, None, None, bytearray(p))],
            "media_id long, kind string, mime string, width int, "
            "height int, duration_ms long, payload binary",
        )
        row = probe_media(df).first()
        assert row.mime == "image/png"
        assert row.duration_ms == 200


class TestSparkPath:
    def test_near_dup_planted(self, spark):
        rows = [
            (10, 5, 0, 0),
            (11, 5, 0, 0),   # byte-identical twin: shares 8
            (12, 5, 1, 20),  # trimmed + shifted: shares 7
            (20, 9, 0, 0),   # different cluster: shares 0
        ]
        df = spark.createDataFrame(
            rows, "media_id long, base long, skip int, shift int"
        )
        fh = video_frame_hashes(synth_apng_anim_media(df, "media_id"))
        pairs = video_near_dup_pairs(
            fh, min_shared_frames=4, max_frame_freq=None
        ).collect()
        got = {(r.id_a, r.id_b): r.shared_frames for r in pairs}
        assert got == {(10, 11): 8, (10, 12): 7, (11, 12): 7}

    def test_frame_hash_lemma_via_delta_streams(self, spark):
        """Composed frame hashes equal the 16-bit word replication
        even though every frame after the keyframe is a sub-rect —
        the composition is what's being hashed."""
        df = spark.createDataFrame(
            [(1, 7, 0, 0), (2, 7, 1, 20)],
            "media_id long, base long, skip int, shift int",
        )
        fh = {
            (r.media_id, r.frame_idx): _unsigned(r.fhash)
            for r in video_frame_hashes(
                synth_apng_anim_media(df, "media_id")
            ).collect()
        }
        for f in range(8):
            v = 1 + (7 * 8 + f) % 65534
            expect = sum(((v >> (b % 16)) & 1) << b for b in range(64))
            assert fh[(1, f)] == expect
        for f in range(7):  # trimmed copy: same hashes, shifted idx
            assert fh[(2, f)] == fh[(1, f + 1)]
