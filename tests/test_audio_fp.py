"""Audio sample path: pure-Python PCM WAV decode, the energy-aHash
lemmas the planted oracle of ``multimodal_audio_audit`` relies on,
and the banded near-dup reuse.

Lemma inventory (mirrors tests/test_phash.py for the pixel path):
1. The fingerprint of the planted square-wave pattern == the pattern
   byte's bits replicated across the 64 frames (⇒ injective over v).
2. Invariant under clipping-free amplitude scaling (×3 plant).
3. Any two distinct pattern bytes differ in ≥8 fingerprint bits.
"""

from __future__ import annotations

import struct

import pytest

import numpy as np

from tidb_cdc_spark.functions.media_decode import decode_wav_samples
from tidb_cdc_spark.functions.media_hash import (
    audio_fingerprint64,
    audio_fingerprints,
    phash_near_dup_pairs,
)
from tidb_cdc_spark.functions.media_synth import synth_wav_pcm_media

FRAMES, SPF = 64, 32


def _samples(v: int, gain: int) -> np.ndarray:
    """The synth's sample formula, reconstructed independently."""
    n = FRAMES * SPF
    sign = np.where(np.arange(n) % 2 == 0, 1, -1)
    bit = (v >> ((np.arange(n) // SPF) % 8)) & 1
    return (np.where(bit == 1, 180, 60) * gain * sign).astype(np.int64)


def _unsigned(h: int) -> int:
    return h + (1 << 64) if h < 0 else h


def test_fingerprint_replication_gain_invariance_and_margin():
    hashes = {}
    for v in range(1, 255):
        h1 = _unsigned(audio_fingerprint64(_samples(v, 1)))
        h3 = _unsigned(audio_fingerprint64(_samples(v, 3)))
        assert h1 == h3, f"gain-variant at v={v}"
        expect = sum(((v >> (k % 8)) & 1) << k for k in range(64))
        assert h1 == expect, f"fingerprint != bit replication at v={v}"
        hashes[v] = h1
    assert len(set(hashes.values())) == 254  # injective
    min_ham = min(
        bin(hashes[a] ^ hashes[b]).count("1")
        for a in range(1, 255)
        for b in range(a + 1, 255)
    )
    assert min_ham == 8


def test_wav_roundtrip_and_probe_agreement(spark):
    from tidb_cdc_spark.functions.media_probe import parse_media_header

    rows = [(1, 7, 1), (2, 8, 3), (3, 101, 1)]
    expected = {mid: (v, g) for mid, v, g in rows}
    df = spark.createDataFrame(rows, "media_id long, pattern int, gain int")
    for r in synth_wav_pcm_media(df, "media_id").collect():
        v, g = expected[r.media_id]
        x = decode_wav_samples(bytes(r.payload))
        assert x is not None and (x == _samples(v, g)).all()
        # the header probe agrees: 2048 samples @8 kHz = 256 ms
        assert parse_media_header(bytes(r.payload)) == ("audio/wav", 256)


def test_decode_rejects_non_pcm():
    assert decode_wav_samples(b"RIFF\x00\x00\x00\x00WAVE") is None  # no chunks
    # non-PCM format code
    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 16000, 2, 16)  # 85 = MP3
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    assert decode_wav_samples(b"RIFF" + struct.pack("<I", len(body)) + body) is None
    assert decode_wav_samples(b"\xff\xd8junk") is None


def test_truncated_data_chunk_rejected(spark):
    df = spark.createDataFrame([(1, 2, 1)], "media_id long, pattern int, gain int")
    payload = bytes(synth_wav_pcm_media(df, "media_id").collect()[0].payload)
    assert decode_wav_samples(payload) is not None
    assert decode_wav_samples(payload[: len(payload) // 2]) is None


def test_stereo_averages_to_mono():
    # interleave two channels: L = 2k, R = 4k -> mono mean = 3k
    x = np.array([2000, 4000] * 2048, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(x)) + x
    )
    mono = decode_wav_samples(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert mono is not None and (mono == 3000).all()


def test_fingerprints_null_for_unrecognized(spark):
    from tidb_cdc_spark.functions.media_probe import synthesize_media

    out = audio_fingerprints(synthesize_media(spark, 6)).collect()
    assert len(out) == 6
    assert all(r.afp is None for r in out)


def test_audio_near_dup_pairs_planted(spark):
    rows = [
        (10, 5, 1),
        (11, 5, 1),   # byte-identical twin
        (12, 5, 3),   # scaled copy: different bytes, same fingerprint
        (20, 9, 1),
        (30, 77, 2),  # singleton
    ]
    df = spark.createDataFrame(rows, "media_id long, pattern int, gain int")
    fps = audio_fingerprints(synth_wav_pcm_media(df, "media_id"))
    pairs = phash_near_dup_pairs(
        fps, hash_col="afp", max_bucket_size=None
    ).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert got == {(10, 11): 0, (10, 12): 0, (11, 12): 0}


# ------------------------- trim-robust window chain (late r12)
# Lemma inventory for multimodal_audio_trim_audit's planted oracle:
# 4. Each 512-sample window's fingerprint == the 16-bit pattern
#    word's bits replicated x4 (=> injective over v in [1, 65534]).
# 5. Gain-invariant per window (the regain plant).
# 6. A copy trimmed by whole windows hashes to a SUFFIX of the
#    original's window-hash sequence (the trim plant).


def _win_expected(v: int) -> int:
    h = 0
    for k in range(64):
        if (v >> (k % 16)) & 1:
            h |= 1 << k
    return h - (1 << 64) if h >= (1 << 63) else h


def _windowed_payload(base: int, skip: int, gain: int, n_windows: int = 8):
    """synth_wav_windowed_media's byte formula, reconstructed
    independently (frames_per_window=64, samples_per_frame=8)."""
    w_len = 512
    sign = np.where(np.arange(w_len) % 2 == 0, 1, -1).astype(np.int64)
    fbit = (np.arange(w_len) // 8) % 16
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    parts = []
    for w in range(skip, n_windows):
        v = 1 + (base * n_windows + w) % 65534
        parts.append(
            (np.where((v >> fbit) & 1, 180, 60) * gain * sign).astype("<i2")
        )
    pcm = np.concatenate(parts).tobytes()
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_window_fingerprint_lemma_and_injectivity():
    """Window hash == replicated 16-bit word, across popcount
    extremes of the word domain and the gain range's both ends."""
    seen = {}
    for base in list(range(0, 140)) + [4095, 4096, 8191]:
        for skip, gain in [(0, 1), (2, 3), (0, 182)]:
            x = decode_wav_samples(_windowed_payload(base, skip, gain))
            assert len(x) == (8 - skip) * 512
            for j in range(len(x) // 512):
                v = 1 + (base * 8 + (j + skip)) % 65534
                got = audio_fingerprint64(x[j * 512 : (j + 1) * 512])
                assert got == _win_expected(v), (base, skip, gain, j)
                assert seen.setdefault(got, v) == v  # injective
    assert len(seen) > 1000


def test_trimmed_copy_window_hashes_are_suffix():
    from tidb_cdc_spark.functions.media_hash import audio_fingerprint64

    def seq(payload):
        x = decode_wav_samples(payload)
        return [
            audio_fingerprint64(x[k * 512 : (k + 1) * 512])
            for k in range(len(x) // 512)
        ]

    full = seq(_windowed_payload(7, 0, 1))
    trimmed_regained = seq(_windowed_payload(7, 2, 3))
    assert len(full) == 8 and len(trimmed_regained) == 6
    assert trimmed_regained == full[2:]
    # and the bytes genuinely differ (exact dedup cannot catch this)
    assert _windowed_payload(7, 2, 3) != _windowed_payload(7, 0, 1)


def test_audio_window_near_dup_catches_trim_regain(spark):
    """End-to-end on the Spark path: planted full/full/trim+regain
    triple pairs up fully within the cluster, never across."""
    from tidb_cdc_spark.functions.media_hash import (
        audio_near_dup_pairs,
        audio_window_hashes,
    )
    from tidb_cdc_spark.functions.media_synth import synth_wav_windowed_media

    rows = [
        # cluster A: two identical fulls + one trim(2)+regain(3)
        (1, 5, 0, 1),
        (2, 5, 0, 1),
        (3, 5, 2, 3),
        # cluster B: a single full — must pair with nothing
        (4, 6, 0, 1),
    ]
    ids = spark.createDataFrame(
        rows, "media_id long, base long, skip int, gain int"
    )
    wh = audio_window_hashes(synth_wav_windowed_media(ids, "media_id"))
    assert wh.count() == 8 + 8 + 6 + 8
    pairs = audio_near_dup_pairs(wh, min_shared_windows=4).collect()
    got = {(r.id_a, r.id_b): r.shared_windows for r in pairs}
    assert got == {(1, 2): 8, (1, 3): 6, (2, 3): 6}


def test_audio_window_hashes_skip_non_pcm(spark):
    """Unrecognized payloads emit NO window rows (no fabricated
    evidence), matching the video frame path's contract."""
    from tidb_cdc_spark.functions.media_hash import audio_window_hashes

    media = spark.createDataFrame(
        [(1, b"\x89PNG not audio")], "media_id long, payload binary"
    )
    assert audio_window_hashes(media).count() == 0


def test_fully_trimmed_clip_is_valid_empty_wav(spark):
    """skip >= n_windows plants a zero-sample (still valid) WAV:
    no window rows, no crash in the Arrow pass."""
    from tidb_cdc_spark.functions.media_decode import decode_wav_samples
    from tidb_cdc_spark.functions.media_hash import audio_window_hashes
    from tidb_cdc_spark.functions.media_synth import synth_wav_windowed_media

    ids = spark.createDataFrame(
        [(1, 5, 8, 1)], "media_id long, base long, skip int, gain int"
    )
    media = synth_wav_windowed_media(ids, "media_id")
    row = media.collect()[0]
    assert len(decode_wav_samples(bytes(row.payload))) == 0
    assert audio_window_hashes(media).count() == 0


class TestG711:
    """G.711 µ-law/A-law expansion: decode_wav_samples' companded
    envelope (formats 7/6, 8-bit), the ITU-T tables pinned against
    the stdlib reference where importable."""

    def test_luts_match_audioop(self):
        audioop = pytest.importorskip("audioop")
        import numpy as np

        from tidb_cdc_spark.functions.media_decode import _ALAW_LUT, _ULAW_LUT

        u = bytes(range(256))
        ref_u = np.frombuffer(audioop.ulaw2lin(u, 2), dtype="<i2")
        ref_a = np.frombuffer(audioop.alaw2lin(u, 2), dtype="<i2")
        assert (ref_u.astype(np.int64) == _ULAW_LUT).all()
        assert (ref_a.astype(np.int64) == _ALAW_LUT).all()

    def _wav(self, fmt_tag, bits, data, rate=8000):
        import struct

        align = bits // 8
        fmt = struct.pack(
            "<HHIIHH", fmt_tag, 1, rate, rate * align, align, bits
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_decode_routes_by_format_tag(self):
        import numpy as np

        from tidb_cdc_spark.functions.media_decode import (
            _ALAW_LUT,
            _ULAW_LUT,
            decode_wav_samples,
        )
        from tidb_cdc_spark.functions.media_synth import _g711_encode

        rng = np.random.default_rng(5)
        x = rng.integers(-8000, 8000, 512).astype(np.int64)
        for lut, tag in ((_ULAW_LUT, 7), (_ALAW_LUT, 6)):
            enc = _g711_encode(x, lut)
            got = decode_wav_samples(self._wav(tag, 8, enc.tobytes()))
            assert got is not None
            assert (got == lut[enc]).all()
            # nearest-representable: error bounded by half a step
            assert int(np.abs(got - x).max()) <= 256
        # unknown compressed formats still decline (header-only probe)
        assert decode_wav_samples(self._wav(2, 8, bytes(64))) is None
        # 16-bit µ-law is malformed: reject
        assert decode_wav_samples(self._wav(7, 16, bytes(64))) is None

    def test_fingerprint_collapses_across_codings(self):
        import numpy as np

        from tidb_cdc_spark.functions.media_decode import (
            _ALAW_LUT,
            _ULAW_LUT,
            decode_wav_samples,
        )
        from tidb_cdc_spark.functions.media_hash import audio_fingerprint64
        from tidb_cdc_spark.functions.media_synth import _g711_encode

        n = 64 * 32
        sign = np.where(np.arange(n) % 2 == 0, 1, -1).astype(np.int64)
        frame_bit = (np.arange(n) // 32) % 8
        for v in (1, 85, 170, 254):
            base = np.where((v >> frame_bit) & 1, 180, 60) * sign
            fp0 = audio_fingerprint64(base)
            pcm = decode_wav_samples(
                self._wav(1, 16, base.astype("<i2").tobytes())
            )
            assert audio_fingerprint64(pcm) == fp0
            for lut, tag in ((_ULAW_LUT, 7), (_ALAW_LUT, 6)):
                g711 = decode_wav_samples(
                    self._wav(tag, 8, _g711_encode(base * 3, lut).tobytes())
                )
                assert audio_fingerprint64(g711) == fp0, (v, tag)


class TestCompressedAudioProbes:
    def test_flac_streaminfo_duration(self):
        from tidb_cdc_spark.functions.media_probe import parse_media_header

        sr, total = 44100, 44100 * 7 + 123
        b = bytearray(34)
        b[10] = sr >> 12
        b[11] = (sr >> 4) & 0xFF
        b[12] = (sr & 0xF) << 4
        b[13] = (total >> 32) & 0xF
        b[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
        p = b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(b)
        assert parse_media_header(p) == ("audio/flac", total * 1000 // sr)
        # zero rate / truncated STREAMINFO reject
        assert parse_media_header(p[:20]) is None
        z = bytearray(p)
        for k in range(18, 26):  # zero STREAMINFO bytes 10..17
            z[k] = 0
        assert parse_media_header(bytes(z)) is None  # sr == 0

    def test_mp3_xing_and_cbr(self):
        from tidb_cdc_spark.functions.media_probe import parse_media_header

        # Xing behind an ID3v2 tag, mono side-info offset
        tag_sz = 57
        id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, tag_sz]) + bytes(tag_sz)
        hdr = bytes([0xFF, 0xFB, (9 << 4) | (1 << 2), 0xC0])
        xing = b"Xing" + (1).to_bytes(4, "big") + (500).to_bytes(4, "big")
        p = id3 + hdr + bytes(17) + xing + bytes(8)
        assert parse_media_header(p) == (
            "audio/mpeg", 500 * 1152 * 1000 // 48000,
        )
        # CBR estimate: remaining bytes x 8 / bitrate (idx 5 = 64 kbps)
        chdr = bytes([0xFF, 0xFB, (5 << 4) | (0 << 2), 0xC0])
        cp = chdr + bytes(9996)
        assert parse_media_header(cp) == ("audio/mpeg", 10000 * 8 // 64)
        # reserved bitrate/rate indexes reject
        bad = bytes([0xFF, 0xFB, (15 << 4), 0xC0]) + bytes(100)
        assert parse_media_header(bad) is None
        bad2 = bytes([0xFF, 0xFB, (5 << 4) | (3 << 2), 0xC0]) + bytes(100)
        assert parse_media_header(bad2) is None


class TestImaAdpcm:
    """IMA/DVI ADPCM (WAV format 0x11): the adaptive 4-bit envelope.
    The step/index tables and the shift-add reconstruction are
    pinned against stdlib ``audioop.adpcm2lin`` — the same recurrence
    without WAV block framing — over EVERY (start index × nibble)
    pair, then stream-wise with carried state; the WAV block walk
    (header predictors, low-nibble-first groups, channel interleave,
    samples-per-block truncation) is pinned by hand-built blocks."""

    def _wav(self, data, channels=1, block_align=1028, spb=2048):
        import struct

        fmt = struct.pack(
            "<HHIIHHHH",
            0x11, channels, 8000,
            8000 * block_align // max(spb, 1),
            block_align, 4, 2, spb,
        )
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def test_one_step_sweep_matches_audioop(self):
        """Every (start index 0..88 × nibble 0..15) single-step
        decode equals audioop's — this pins BOTH tables and the
        difference reconstruction completely (audioop packs the
        first sample in the HIGH nibble; WAV packs low-first, so
        the fixture shifts)."""
        audioop = pytest.importorskip("audioop")
        from tidb_cdc_spark.functions.media_decode import _ima_decode_core

        for index in range(89):
            for nib in range(16):
                for pred in (-777, 0, 12345):
                    mine, _, _ = _ima_decode_core([nib], pred, index)
                    frag, _ = audioop.adpcm2lin(
                        bytes([nib << 4]), 2, (pred, index)
                    )
                    ref = int.from_bytes(frag[:2], "little", signed=True)
                    assert mine[0] == ref, (index, nib, pred)

    def test_stream_matches_audioop_with_state(self):
        audioop = pytest.importorskip("audioop")
        from tidb_cdc_spark.functions.media_decode import _ima_decode_core

        rng = np.random.default_rng(11)
        nibs = rng.integers(0, 16, 4096).tolist()
        mine, pred, index = _ima_decode_core(nibs, 0, 0)
        packed = bytes(
            (nibs[k] << 4) | nibs[k + 1] for k in range(0, len(nibs), 2)
        )
        frag, state = audioop.adpcm2lin(packed, 2, (0, 0))
        ref = np.frombuffer(frag, "<i2").astype(np.int64)
        assert np.array_equal(np.asarray(mine, dtype=np.int64), ref)
        assert (pred, index) == state

    def test_block_walk_header_exact_and_restart(self):
        """Multi-block streams restart state from each block header;
        the header predictor is emitted as the block's first
        sample, bit-exact regardless of quantization."""
        from tidb_cdc_spark.functions.media_decode import decode_wav_samples
        from tidb_cdc_spark.functions.media_synth import _ima_encode_block

        n_blk, spb = 3, 17  # 17 samples: 16 nibbles = 8 bytes body
        rng = np.random.default_rng(23)
        blocks, firsts = [], []
        for _ in range(n_blk):
            s = rng.integers(-3000, 3000, spb).astype(np.int64)
            blocks.append(_ima_encode_block(s, 4 + 8))
            firsts.append(int(s[0]))
        got = decode_wav_samples(
            self._wav(b"".join(blocks), block_align=12, spb=spb)
        )
        assert got is not None and len(got) == n_blk * spb
        for b in range(n_blk):
            assert int(got[b * spb]) == firsts[b]

    def test_samples_per_block_truncates_pad_nibble(self):
        from tidb_cdc_spark.functions.media_decode import decode_wav_samples
        from tidb_cdc_spark.functions.media_synth import _ima_encode_block

        s = np.arange(-512, 512, 1, dtype=np.int64) * 7  # 1024 samples
        ba = 4 + 512  # 1023 nibbles + 1 pad
        data = _ima_encode_block(s, ba)
        got = decode_wav_samples(self._wav(data, block_align=ba, spb=1024))
        assert got is not None and len(got) == 1024
        # without the fmt extension the pad nibble is emitted too —
        # no spec info to truncate by, still decodes
        import struct

        fmt = struct.pack("<HHIIHH", 0x11, 1, 8000, 4000, ba, 4)
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        raw = b"RIFF" + struct.pack("<I", len(body)) + body
        got2 = decode_wav_samples(raw)
        assert got2 is not None and len(got2) == 1025
        assert np.array_equal(got2[:1024], got)

    def test_stereo_interleave_averages_to_mono(self):
        """Stereo blocks: per-channel 4-byte headers then 4-byte
        nibble groups channel-major — the decode must equal each
        channel decoded alone, then averaged like every other
        multi-channel path."""
        from tidb_cdc_spark.functions.media_decode import (
            _ima_decode_core,
            decode_wav_samples,
        )
        import struct

        rng = np.random.default_rng(31)
        nibs_l = rng.integers(0, 16, 8).tolist()
        nibs_r = rng.integers(0, 16, 8).tolist()

        def pack(nibs):
            return bytes(
                (nibs[k + 1] << 4) | nibs[k] for k in range(0, len(nibs), 2)
            )

        block = (
            struct.pack("<hBB", 1000, 4, 0)
            + struct.pack("<hBB", -2000, 9, 0)
            + pack(nibs_l) + pack(nibs_r)
        )
        got = decode_wav_samples(
            self._wav(block, channels=2, block_align=len(block), spb=9)
        )
        l, _, _ = _ima_decode_core(nibs_l, 1000, 4)
        r, _, _ = _ima_decode_core(nibs_r, -2000, 9)
        l, r = [1000] + l, [-2000] + r
        want = np.array(
            [(a + b) // 2 for a, b in zip(l, r)], dtype=np.int64
        )
        assert got is not None
        assert np.array_equal(got, want)

    def test_fail_closed_misalignment_and_bad_index(self):
        from tidb_cdc_spark.functions.media_decode import decode_wav_samples
        import struct

        # step index > 88 in the header
        bad_idx = struct.pack("<hBB", 0, 89, 0) + bytes(8)
        assert (
            decode_wav_samples(
                self._wav(bad_idx, block_align=len(bad_idx), spb=17)
            )
            is None
        )
        # partial nibble group (body not a multiple of 4 bytes)
        ragged = struct.pack("<hBB", 0, 0, 0) + bytes(6)
        assert (
            decode_wav_samples(
                self._wav(ragged, block_align=len(ragged), spb=13)
            )
            is None
        )
        # truncated final header
        short = struct.pack("<hBB", 0, 0, 0) + bytes(4) + b"\x00\x00"
        assert (
            decode_wav_samples(self._wav(short, block_align=12, spb=9))
            is None
        )
        # 8-bit ADPCM is malformed: reject at the routing layer
        assert (
            decode_wav_samples(
                self._wav(bytes(12), block_align=12, spb=17).replace(
                    struct.pack("<HH", 4, 2), struct.pack("<HH", 8, 2), 1
                )
            )
            is None
        )

    def test_fingerprint_survives_adpcm_over_whole_plant_domain(self):
        """The audit's lemma, verified exhaustively: decode(encode)
        of every planted pattern × the audit gains keeps the energy
        aHash EQUAL to the PCM fingerprint — adaptive quantization
        error never crosses the 3:1 frame-energy margin."""
        from tidb_cdc_spark.functions.media_decode import _ima_adpcm_decode
        from tidb_cdc_spark.functions.media_hash import audio_fingerprint64
        from tidb_cdc_spark.functions.media_synth import _ima_encode_block

        n = FRAMES * SPF
        ba = 4 + n // 2
        mism = []
        for g in (1, 3):
            for v in range(1, 255):
                x = _samples(v, g)
                dec = _ima_adpcm_decode(
                    _ima_encode_block(x, ba), 1, ba, n
                )
                assert dec is not None and len(dec) == n
                if audio_fingerprint64(dec) != audio_fingerprint64(x):
                    mism.append((v, g))
        assert mism == []

    def test_spark_collapse_and_synth_routing(self, spark):
        """The synth's adpcm leg produces real format-0x11 WAVs
        whose fingerprints collapse onto the PCM anchor."""
        rows = [
            (1, 85, 1, "pcm16"),
            (2, 85, 1, "adpcm"),
            (3, 85, 3, "adpcm"),
            (4, 170, 1, "pcm16"),
        ]
        df = spark.createDataFrame(
            rows, "media_id long, pattern int, gain int, codec string"
        )
        media = synth_wav_pcm_media(df, "media_id", codec_col="codec")
        payloads = {
            r.media_id: bytes(r.payload) for r in media.collect()
        }
        assert payloads[1] != payloads[2]  # byte-disjoint tellings
        got = {
            r.media_id: r.afp
            for r in audio_fingerprints(
                synth_wav_pcm_media(df, "media_id", codec_col="codec")
            ).collect()
        }
        assert got[1] == got[2] == got[3]
        assert got[4] != got[1]
