"""Video frame path: pure-Python uncompressed-AVI decode, the
16-bit frame-pattern lemmas ``multimodal_video_audit`` relies on,
and the inverted-index near-dup join with its viral-frame guard.
"""

from __future__ import annotations

import struct

import numpy as np

from tidb_cdc_spark.functions.media_decode import decode_avi_frames
from tidb_cdc_spark.functions.media_hash import (
    ahash64,
    video_frame_hashes,
    video_near_dup_pairs,
)
from tidb_cdc_spark.functions.media_probe import parse_avi_header
from tidb_cdc_spark.functions.media_synth import synth_avi_media

W = H = 16


def _frame(v16: int, delta: int) -> np.ndarray:
    """The synth's 16-bit frame formula, reconstructed independently."""
    def cells(n):
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    bit_idx = (cells(H)[:, None] * 8 + cells(W)[None, :]) % 16
    return np.where((v16 >> bit_idx) & 1, 180, 60) + delta


def _unsigned(h: int) -> int:
    return h + (1 << 64) if h < 0 else h


def test_frame_hash_replication_injectivity_and_shift():
    """Frame aHash == the 16-bit pattern word replicated ×4 —
    verified over the whole domain the audit uses (pid·8+f ≤ 807)
    plus a wide margin, with shift invariance."""
    hashes = {}
    for v in range(1, 2000):
        h0 = _unsigned(ahash64(_frame(v, 0)))
        assert h0 == _unsigned(ahash64(_frame(v, 20))), f"shift-variant v={v}"
        expect = sum(((v >> (b % 16)) & 1) << b for b in range(64))
        assert h0 == expect, f"frame hash != replication at v={v}"
        hashes[v] = h0
    assert len(set(hashes.values())) == len(hashes)  # injective


def test_avi_roundtrip_trim_and_header(spark):
    rows = [(1, 7, 0, 0), (2, 7, 1, 20), (3, 9, 0, 0)]
    df = spark.createDataFrame(
        rows, "media_id long, base long, skip int, shift int"
    )
    got = {
        r.media_id: bytes(r.payload)
        for r in synth_avi_media(df, "media_id").collect()
    }
    assert parse_avi_header(got[1]) == ("video/avi", W, H, 320)
    assert parse_avi_header(got[2]) == ("video/avi", W, H, 280)  # trimmed
    f1, f2 = decode_avi_frames(got[1]), decode_avi_frames(got[2])
    assert len(f1) == 8 and len(f2) == 7
    # decoded pixels match the formula exactly
    for f, gray in enumerate(f1):
        assert (gray == _frame(1 + (7 * 8 + f) % 65534, 0)).all()
    # trimmed+shifted copy: hash-equal to the base's tail
    assert [ahash64(g) for g in f2] == [ahash64(g) for g in f1[1:]]


def test_decode_rejects_non_avi_and_truncation(spark):
    assert decode_avi_frames(b"RIFF\x00\x00\x00\x00WAVE") is None
    assert parse_avi_header(b"\x89PNG" + b"\x00" * 32) is None
    df = spark.createDataFrame(
        [(1, 2, 0, 0)], "media_id long, base long, skip int, shift int"
    )
    payload = bytes(synth_avi_media(df, "media_id").collect()[0].payload)
    assert decode_avi_frames(payload) is not None
    assert decode_avi_frames(payload[: len(payload) // 2]) is None


def test_compressed_frames_are_codec_territory():
    """'00dc' (compressed) chunks yield no frames — no fabrication."""
    avih = (
        struct.pack("<I", 40_000)
        + b"\x00" * 12
        + struct.pack("<I", 1)
        + b"\x00" * 12
        + struct.pack("<II", 4, 4)
        + b"\x00" * 16
    )
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi = b"movi" + b"00dc" + struct.pack("<I", 4) + b"\x00" * 4
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + movi
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    assert parse_avi_header(payload) == ("video/avi", 4, 4, 40)
    assert decode_avi_frames(payload) is None


def test_video_near_dup_pairs_planted(spark):
    rows = [
        (10, 5, 0, 0),
        (11, 5, 0, 0),   # byte-identical twin: shares 8
        (12, 5, 1, 20),  # trimmed + shifted: shares 7
        (20, 9, 0, 0),   # different cluster: shares 0
    ]
    df = spark.createDataFrame(
        rows, "media_id long, base long, skip int, shift int"
    )
    fh = video_frame_hashes(synth_avi_media(df, "media_id"))
    pairs = video_near_dup_pairs(
        fh, min_shared_frames=4, max_frame_freq=None
    ).collect()
    got = {(r.id_a, r.id_b): r.shared_frames for r in pairs}
    assert got == {(10, 11): 8, (10, 12): 7, (11, 12): 7}


def test_viral_frame_guard_drops_bucket(spark):
    """A frame hash shared by more videos than max_frame_freq must
    not contribute pairs (the black-frame/logo-card guard)."""
    # five videos all containing base 5's frames => every frame hash
    # has frequency 5 > cap 4 => no pairs survive the guard
    rows = [(i, 5, 0, 0) for i in range(5)]
    df = spark.createDataFrame(
        rows, "media_id long, base long, skip int, shift int"
    )
    fh = video_frame_hashes(synth_avi_media(df, "media_id"))
    assert (
        video_near_dup_pairs(fh, min_shared_frames=1, max_frame_freq=4).count()
        == 0
    )
    assert (
        video_near_dup_pairs(fh, min_shared_frames=1, max_frame_freq=5).count()
        == 10
    )


def test_frame_hashes_skip_non_video(spark):
    from tidb_cdc_spark.functions.media_probe import synthesize_media

    assert video_frame_hashes(synthesize_media(spark, 6)).count() == 0
