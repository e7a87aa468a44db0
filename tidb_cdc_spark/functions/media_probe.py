"""Multimodal columns and the header probes: images/audio/video as
opaque ``binary`` columns with typed metadata, read without decoding
a pixel or a sample.

North-star operator (BASELINE.json). ``MEDIA_SCHEMA`` is the record
every media function reads and writes: typed metadata first, payload
bytes last. Metadata extraction is REAL and header-only:
``parse_image_header`` / ``parse_media_header`` / ``parse_avi_header``
read exact dimensions and durations from PNG/GIF/JPEG/BMP/TIFF/WebP/
WAV/MP4/FLAC/MP3/AVI container headers in pure Python, and the
animation probes (``gif_animation_info``, ``webp_animation_info``,
``apng_animation_info``) sum frame durations with frame data
length-skipped. ``probe_media`` runs them over a media frame.

The container layer lives here too: one reader and one writer per
framing, shared by the probes, the decoders in ``media_decode`` and
the fixture writers in ``media_synth``, so every container is read
and written one way:

- PNG: ``png_chunks`` reads the length + type + data + CRC chunks,
  ``_png_chunk`` / ``_png`` write them; ``FCTL`` is the APNG frame
  control record;
- RIFF (WAV, AVI, WebP): ``riff_walk`` is the one chunk walk (tag,
  little-endian length, even padding) under ``riff_chunks``,
  ``wav_chunks``, ``avi_list`` and ``webp_anim_chunks``; ``_chunk``
  / ``_riff`` write chunks and streams; ``vp8x_canvas`` and
  ``anmf_fields`` read the animated-WebP canvas and frame headers;
- GIF: ``gif_blocks`` walks the blocks;
- TIFF: ``_tiff_ifd0`` / ``_tiff_values`` read the first IFD.

The frames these readers yield are composed onto one canvas by
``media_decode._compose``, the compositor every animation decoder
shares.

Remaining codec territory: PIL is used automatically when
importable, and ``_decode_image_stub`` (deterministic fake, clearly
marked) covers ONLY bytes no real path recognizes.

Module map of the media family (imports run one way, down this
list): ``media_probe`` (schema, probes, walkers) → ``media_decode``
(pixel / frame / sample decoders) → ``media_hash`` (perceptual and
audio hashes, near-dup pairs, cap reports) and ``media_synth``
(fixture encoders and the ``synth_*`` planters).

Scale notes:
- media bytes travel ONCE per stage: mapInPandas streams Arrow
  batches, so a 100 TB media corpus is a linear scan; keep
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` small enough that
  batch_rows × max_media_bytes fits executor memory.
- metadata-only queries must never touch the bytes: keep media in a
  separate column (parquet column pruning skips it) — enforced by
  the schema builder putting bytes LAST and tests asserting a
  metadata-only scan's ReadSchema excludes it.
"""

from __future__ import annotations

import hashlib
import io
import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal record schema: typed metadata first (pruned
#: scans never read the bytes), opaque payload last.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image|audio|video
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feat_width", IntegerType()),
        StructField("feat_height", IntegerType()),
    ]
)

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
GIF_MAGIC = (b"GIF87a", b"GIF89a")

try:  # pragma: no cover — no codec libs in this container
    from PIL import Image as _PIL_Image
except ImportError:
    _PIL_Image = None


def _decode_image_stub(payload: bytes) -> tuple[int, int]:
    """STUB — deterministic fake decode (no codec libs in this
    container). The fake derives a stable (w, h) from the payload
    hash so tests are reproducible."""
    h = hashlib.sha256(payload).digest()
    return 64 + h[0] % 64, 64 + h[1] % 64


def parse_image_header(payload: bytes) -> "tuple[str, int, int] | None":
    """REAL pure-Python container-header sniffing — no codec library
    needed: the pixel dimensions of PNG / GIF / JPEG / BMP live in
    fixed header fields (PNG IHDR big-endian at offset 16, GIF
    logical-screen little-endian at 6, BMP info-header at 18) or a
    bounded marker scan (JPEG SOFn segments). Returns
    ``(mime, width, height)`` or None for unrecognized bytes. This
    is the decode a crawl-scale metadata pass actually needs — full
    pixel decode stays behind ``decode_image_dims``'s PIL branch."""
    p = payload
    if len(p) >= 24 and p[:8] == PNG_MAGIC:
        return (
            "image/png",
            int.from_bytes(p[16:20], "big"),
            int.from_bytes(p[20:24], "big"),
        )
    if len(p) >= 10 and p[:6] in GIF_MAGIC:
        return (
            "image/gif",
            int.from_bytes(p[6:8], "little"),
            int.from_bytes(p[8:10], "little"),
        )
    if len(p) >= 26 and p[:2] == b"BM":
        hdr_size = int.from_bytes(p[14:18], "little")
        if hdr_size == 12:  # BITMAPCOREHEADER (OS/2): 16-bit dims
            return (
                "image/bmp",
                int.from_bytes(p[18:20], "little"),
                int.from_bytes(p[20:22], "little"),
            )
        if hdr_size >= 40:  # BITMAPINFOHEADER family: int32 dims
            return (
                "image/bmp",
                int.from_bytes(p[18:22], "little", signed=True),
                abs(int.from_bytes(p[22:26], "little", signed=True)),
            )
        return None  # unknown DIB header size
    if len(p) >= 14 and p[:4] in (b"II*\x00", b"MM\x00*"):
        hdr = _tiff_ifd0(p)
        if hdr is None:
            return None
        end, entries = hdr
        if 256 not in entries or 257 not in entries:
            return None
        w = _tiff_values(p, end, entries[256])
        h = _tiff_values(p, end, entries[257])
        if not w or not h:
            return None
        return ("image/tiff", w[0], h[0])
    if len(p) >= 30 and is_riff(p, b"WEBP"):
        tag = p[12:16]
        if tag == b"VP8L" and p[20] == 0x2F:
            # LSB-first bitstream: 14 bits width-1, 14 bits height-1
            b1, b2, b3, b4 = p[21], p[22], p[23], p[24]
            w = 1 + (b1 | (b2 & 0x3F) << 8)
            h = 1 + ((b2 >> 6) | b3 << 2 | (b4 & 0xF) << 10)
            return ("image/webp", w, h)
        if tag == b"VP8 " and p[23:26] == b"\x9d\x01\x2a":
            # lossy key frame: 14-bit dims after the start code
            w = int.from_bytes(p[26:28], "little") & 0x3FFF
            h = int.from_bytes(p[28:30], "little") & 0x3FFF
            return ("image/webp", w, h)
        if tag == b"VP8X":
            return ("image/webp", *vp8x_canvas(p))
        return None
    if len(p) >= 4 and p[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(p):
            if p[i] != 0xFF:
                return None  # desynchronized marker stream
            # JPEG permits any number of 0xFF fill bytes before the
            # marker id — skip them instead of reading one as the id
            while i + 1 < len(p) and p[i + 1] == 0xFF:
                i += 1
            if i + 9 >= len(p):
                return None
            marker = p[i + 1]
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                i += 2  # standalone markers carry no length
                continue
            seg_len = int.from_bytes(p[i + 2 : i + 4], "big")
            if seg_len < 2:
                return None
            # SOF0..SOF15 except DHT(C4)/JPG(C8)/DAC(CC) carry dims
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > len(p):
                    return None
                return (
                    "image/jpeg",
                    int.from_bytes(p[i + 7 : i + 9], "big"),
                    int.from_bytes(p[i + 5 : i + 7], "big"),
                )
            i += 2 + seg_len
    return None


def decode_image_dims(payload: bytes) -> tuple[int, int]:
    """The decode boundary, kept to one function: full decode when a
    codec library is importable (PIL — a container with codecs uses
    it automatically), REAL header parsing for the common containers
    otherwise (``parse_image_header``), deterministic fake only for
    unrecognized bytes (keeps the pipeline total; a production
    deployment wanting dead-lettering instead swaps this one
    function). Everything around it — schema, Arrow batching,
    partitioning — is real either way."""
    if _PIL_Image is not None:
        try:
            with _PIL_Image.open(io.BytesIO(payload)) as im:
                return int(im.size[0]), int(im.size[1])
        except Exception:
            pass
    hdr = parse_image_header(payload)
    if hdr is not None:
        return hdr[1], hdr[2]
    return _decode_image_stub(payload)


def extract_features(media: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """Decode/feature-extract media via ``mapInPandas`` — one pass
    over the bytes, Arrow-batched, output is small typed rows (the
    bytes do NOT survive into the output, so downstream stages
    shuffle features, never payloads)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "sha256": pdf["payload"].map(
                    lambda b: hashlib.sha256(bytes(b)).hexdigest()
                ),
                "n_bytes": pdf["payload"].map(len).astype("int64"),
            }
            dims = pdf["payload"].map(lambda b: decode_image_dims(bytes(b)))
            out["feat_width"] = dims.map(lambda d: d[0]).astype("int32")
            out["feat_height"] = dims.map(lambda d: d[1]).astype("int32")
            yield pd.DataFrame(out)

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


def parse_media_header(
    payload: bytes,
) -> "tuple[str, int] | None":
    """REAL pure-Python audio/video container sniffing — the
    duration a crawl-scale metadata pass needs, without ffmpeg:

    - WAV (RIFF): duration = data-chunk bytes / byte-rate, both in
      fixed ``fmt ``/``data`` chunk fields (chunk walk, bounded);
    - MP4/ISO-BMFF: duration = mvhd duration/timescale — box walk to
      ``moov``→``mvhd`` (version 0 and 1 layouts);
    - FLAC: duration = STREAMINFO total-samples / sample-rate (the
      20-bit rate and 36-bit sample count in the mandatory first
      metadata block);
    - MP3 (MPEG-1 Layer III): ID3v2 tag skipped (syncsafe size),
      then the first frame header; a Xing/Info VBR tag's frame
      count × 1152 / rate when present, else the CBR estimate
      remaining-bytes × 8 / bitrate — the two estimates every
      tag-reader ships.

    Returns ``(mime, duration_ms)`` or None for unrecognized bytes.
    Full sample/frame decode stays out of scope (codec territory)."""
    p = payload
    if is_riff(p, b"WAVE"):
        byte_rate, data_len = None, None
        for tag, at, clen in wav_chunks(p):
            if tag == b"data":
                data_len = clen  # as declared: the samples are not read
            else:
                byte_rate = int.from_bytes(p[at + 8 : at + 12], "little")
            if byte_rate and data_len is not None:
                return ("audio/wav", data_len * 1000 // max(byte_rate, 1))
        return None
    if len(p) >= 12 and p[4:8] == b"ftyp":
        i = 0
        while i + 8 <= len(p):
            blen = int.from_bytes(p[i : i + 4], "big")
            btype = p[i + 4 : i + 8]
            if blen < 8:
                return None
            if btype == b"moov":
                j = i + 8
                end = min(i + blen, len(p))
                while j + 8 <= end:
                    slen = int.from_bytes(p[j : j + 4], "big")
                    stype = p[j + 4 : j + 8]
                    if slen < 8:
                        return None
                    if stype == b"mvhd":
                        if j + 9 > len(p):
                            return None
                        ver = p[j + 8]
                        # exact bounds per version — int.from_bytes on
                        # a short slice would silently fabricate a
                        # duration for a truncated payload
                        if ver == 1:  # 64-bit times
                            if j + 40 > len(p):
                                return None
                            ts = int.from_bytes(p[j + 28 : j + 32], "big")
                            dur = int.from_bytes(p[j + 32 : j + 40], "big")
                        else:
                            if j + 28 > len(p):
                                return None
                            ts = int.from_bytes(p[j + 20 : j + 24], "big")
                            dur = int.from_bytes(p[j + 24 : j + 28], "big")
                        return ("video/mp4", dur * 1000 // max(ts, 1))
                    j += slen
                return None
            i += blen
        return None
    if len(p) >= 8 and p[:4] == b"fLaC":
        i = 4
        while i + 4 <= len(p):
            btype = p[i] & 0x7F
            blen = int.from_bytes(p[i + 1 : i + 4], "big")
            if btype == 0:  # STREAMINFO
                b = p[i + 4 : i + 4 + 34]
                if len(b) < 18:
                    return None
                sr = (b[10] << 12) | (b[11] << 4) | (b[12] >> 4)
                total = (
                    ((b[13] & 0x0F) << 32)
                    | (b[14] << 24) | (b[15] << 16)
                    | (b[16] << 8) | b[17]
                )
                if sr == 0:
                    return None
                return ("audio/flac", total * 1000 // sr)
            if p[i] & 0x80:  # last-metadata-block without STREAMINFO
                return None
            i += 4 + blen
        return None
    pos = 0
    if len(p) >= 10 and p[:3] == b"ID3":
        # syncsafe 28-bit tag size (7 bits per byte)
        pos = 10 + (
            (p[6] << 21) | (p[7] << 14) | (p[8] << 7) | p[9]
        )
    if (
        pos + 4 <= len(p)
        and p[pos] == 0xFF
        and (p[pos + 1] & 0xE0) == 0xE0
        and (p[pos + 1] >> 3) & 0x3 == 0x3  # MPEG-1
        and (p[pos + 1] >> 1) & 0x3 == 0x1  # Layer III
    ):
        bidx = p[pos + 2] >> 4
        sridx = (p[pos + 2] >> 2) & 0x3
        if not 1 <= bidx <= 14 or sridx > 2:
            return None
        kbps = (32, 40, 48, 56, 64, 80, 96, 112, 128,
                160, 192, 224, 256, 320)[bidx - 1]
        sr = (44100, 48000, 32000)[sridx]
        mode = p[pos + 3] >> 6
        side = 17 if mode == 3 else 32
        x = pos + 4 + side
        if (
            x + 12 <= len(p)
            and p[x : x + 4] in (b"Xing", b"Info")
            and int.from_bytes(p[x + 4 : x + 8], "big") & 0x1
        ):
            nframes = int.from_bytes(p[x + 8 : x + 12], "big")
            return ("audio/mpeg", nframes * 1152 * 1000 // sr)
        return ("audio/mpeg", (len(p) - pos) * 8 // kbps)
    return None


def parse_avi_header(payload: bytes):
    """REAL AVI main-header parse: returns
    ``(mime, width, height, duration_ms)`` from the ``avih`` chunk
    (duration = µs-per-frame × total-frames), or None for non-AVI
    bytes. Bounded LIST walk, truncation rejected — the probe field
    recovery for video containers without ffmpeg."""
    p = payload
    for tag, at, _ in riff_walk(p, *(avi_list(p, b"hdrl") or (0, 0))):
        if tag == b"avih":
            if at + 40 > len(p):
                return None  # truncated main header
            us_per_frame, total_frames, w, h = struct.unpack_from(
                "<I12xI12xII", p, at
            )
            return ("video/avi", w, h, us_per_frame * total_frames // 1000)
    return None


def avi_list(p: bytes, kind: bytes):
    """``(start, end)`` of the sub-chunks of an AVI stream's first
    top-level ``LIST`` of type ``kind`` (``hdrl``, ``movi``), clamped
    to the bytes present, or None for non-AVI bytes or no such list."""
    if is_riff(p, b"AVI "):
        for tag, at, clen in riff_walk(p, 12):
            if tag == b"LIST" and p[at : at + 4] == kind:
                return at + 4, min(at + clen, len(p))
    return None


def frame_sample_plan(media: DataFrame, every_ms: int) -> DataFrame:
    """Video frame-sampling plan: one output row per sampled frame
    timestamp (pure expressions — the frame EXTRACTION would join
    this plan against the decoder; timestamps don't need the bytes)."""
    n_frames = (F.col("duration_ms") / every_ms).cast("int")
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
                    lambda i: i * every_ms,
                )
            ).alias("frame_ts_ms"),
        )
    )


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded
    bytes). Kinds cycle image/audio/video."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * 8
        rows.append(
            (
                i,
                kinds[i % 3],
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[
                    kinds[i % 3]
                ],
                None,
                None,
                (i + 1) * 1000 if kinds[i % 3] == "video" else None,
                payload,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def probe_media(media: DataFrame) -> DataFrame:
    """Fill NULL metadata (mime, width, height, duration_ms) from the
    payload's REAL container headers (``parse_image_header`` /
    ``parse_media_header``) — the ingest-time probe a crawl runs
    before any decode fleet exists: one Arrow-batched pass, bytes
    never survive into the shuffle beyond their own column, existing
    non-null metadata wins (the probe never overrides a source of
    truth). Unrecognized payloads pass through unchanged."""

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            # vectorized pre-selection: on a mostly-populated corpus
            # the Python loop must touch only the rows that actually
            # need probing, not check-and-skip every row
            need_any = (
                pdf["mime"].isna()
                | pdf["width"].isna()
                | pdf["height"].isna()
                | pdf["duration_ms"].isna()
            ) & pdf["payload"].notna()
            if not need_any.any():
                yield pdf
                continue
            # the loop works on plain Python lists with ONE bulk
            # write-back per column — per-row pandas ``.at``
            # reads/writes were ~half the pass's CPU on a
            # fully-null-metadata corpus (the crawl-ingest shape).
            mimes = pdf["mime"].tolist()
            widths = pdf["width"].tolist()
            heights = pdf["height"].tolist()
            durs = pdf["duration_ms"].tolist()
            pays = pdf["payload"].tolist()
            isna = pd.isna

            for i in np.nonzero(need_any.to_numpy())[0]:
                need_mime = mimes[i] is None or isna(mimes[i])
                need_dur = isna(durs[i])
                payload = bytes(pays[i])
                img = parse_image_header(payload)
                if img is not None:
                    mime, w, h = img
                    if need_mime:
                        mimes[i] = mime
                    if isna(widths[i]):
                        widths[i] = w
                    if isna(heights[i]):
                        heights[i] = h
                    if need_dur and mime in (
                        "image/gif", "image/webp", "image/png",
                    ):
                        # animated containers carry a real duration —
                        # header-only walk (frames length-skipped)
                        info = (
                            gif_animation_info(payload)
                            if mime == "image/gif"
                            else webp_animation_info(payload)
                            if mime == "image/webp"
                            else apng_animation_info(payload)
                        )
                        if info is not None and info[0] > 1:
                            durs[i] = info[1]
                    continue
                avi = parse_avi_header(payload)
                if avi is not None:
                    mime, w, h, dur = avi
                    if need_mime:
                        mimes[i] = mime
                    if isna(widths[i]):
                        widths[i] = w
                    if isna(heights[i]):
                        heights[i] = h
                    if need_dur:
                        durs[i] = dur
                    continue
                av = parse_media_header(payload)
                if av is not None:
                    mime, dur = av
                    if need_mime:
                        mimes[i] = mime
                    if need_dur:
                        durs[i] = dur
            pdf["mime"] = pd.Series(mimes, index=pdf.index, dtype=object)
            # nullable-Int write-back — a plain Series with any null
            # turns filled integers into float64, which is silently
            # lossy above 2^53 and discards the column dtype; pandas'
            # masked Int32/Int64 arrays keep exact integer semantics
            # and Arrow maps them straight onto the declared
            # IntegerType/LongType output schema. NaN floats from the
            # Arrow->pandas input conversion round-trip to pd.NA
            # losslessly (they are integral or missing).
            pdf["width"] = pd.array(
                [None if isna(v) else int(v) for v in widths], dtype="Int32"
            )
            pdf["height"] = pd.array(
                [None if isna(v) else int(v) for v in heights], dtype="Int32"
            )
            pdf["duration_ms"] = pd.array(
                [None if isna(v) else int(v) for v in durs], dtype="Int64"
            )
            yield pdf

    return media.mapInPandas(probe, schema=media.schema)


# ------------------------------------------------ container walkers
# One reader and one writer per container framing, shared by the
# header probes below, the decoders in ``media_decode`` and the
# fixture writers in ``media_synth``.


def png_chunks(p: bytes, check_crc: bool = True):
    """The chunks of a PNG stream before ``IEND`` as a list of
    ``(type, data)``, or None for non-PNG bytes. With ``check_crc``
    (the decoders) a chunk whose length runs past the end or whose
    CRC does not match makes the whole stream None. The header probes
    pass ``check_crc=False``: no CRC work, and a truncated last chunk
    is kept with whatever bytes are there."""
    if len(p) < 8 or p[:8] != PNG_MAGIC:
        return None
    out = []
    pos = 8
    while pos + 12 <= len(p):
        (clen,) = struct.unpack_from(">I", p, pos)
        ctype = p[pos + 4 : pos + 8]
        data = p[pos + 8 : pos + 8 + clen]
        if check_crc and (
            pos + 12 + clen > len(p)
            or zlib.crc32(ctype + data) & 0xFFFFFFFF
            != struct.unpack_from(">I", p, pos + 8 + clen)[0]
        ):
            return None  # truncated or corrupt chunk
        if ctype == b"IEND":
            break
        out.append((ctype, data))
        pos += 12 + clen
    return out


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """One length + type + data + CRC chunk."""
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png(chunks) -> bytes:
    """The PNG stream of ``(type, data)`` chunks — what ``png_chunks``
    reads back — closed by ``IEND``."""
    return PNG_MAGIC + b"".join(
        _png_chunk(t, d) for t, d in [*chunks, (b"IEND", b"")]
    )


#: the fields of an APNG ``fcTL`` chunk: sequence number, width,
#: height, x, y, delay numerator and denominator, dispose, blend
FCTL = struct.Struct(">IIIIIHHBB")


class _Malformed(Exception):
    """Internal: ``gif_blocks`` met a truncated or invalid block."""


def gif_blocks(p: bytes):
    """Walk a GIF stream without decoding a pixel: yields one
    ``(gce, lx, ty, iw, ih, iflags, pal, min_code, data)`` record per
    image descriptor (rendering block). ``gce`` is the body of the
    Graphic Control Extension that precedes the block (flags, delay
    lo/hi, transparent index) or None, ``pal`` the local or else the
    global color table, ``data`` the list of LZW data sub-blocks.
    Extensions are length-skipped and the trailer ends the walk.
    A malformed stream (truncated table, descriptor or sub-block, no
    palette, empty image, out-of-range LZW code size, unknown block)
    yields None and stops; non-GIF bytes yield nothing."""
    if len(p) < 13 or p[:6] not in GIF_MAGIC:
        return
    pos = 13

    def take(n: int) -> bytes:
        nonlocal pos
        if pos + n > len(p):
            raise _Malformed
        pos += n
        return p[pos - n : pos]

    def table(flags: int):
        return take(3 * (2 << (flags & 7))) if flags & 0x80 else None

    def sub_blocks() -> list:
        nonlocal pos
        out = []
        while pos < len(p) and p[pos] != 0:
            out.append(take(1 + p[pos])[1:])
        pos += 1  # block terminator
        return out

    try:
        gct = table(p[10])
        gce = None
        while pos < len(p):
            b0 = take(1)[0]
            if b0 == 0x3B:  # trailer
                return
            if b0 == 0x21:  # extension: label + sub-blocks
                label = take(1)[0]
                subs = sub_blocks()
                if label == 0xF9 and subs and len(subs[0]) >= 4:
                    gce = subs[0]
            elif b0 == 0x2C:  # image descriptor
                lx, ty, iw, ih, iflags = struct.unpack("<HHHHB", take(9))
                pal = table(iflags) or gct
                min_code = take(1)[0]
                if pal is None or iw <= 0 or ih <= 0 or not 2 <= min_code <= 11:
                    raise _Malformed
                yield gce, lx, ty, iw, ih, iflags, pal, min_code, sub_blocks()
                gce = None  # a GCE governs exactly one rendering block
            else:
                raise _Malformed
    except _Malformed:
        yield None


def is_riff(p: bytes, form: bytes) -> bool:
    """Whether ``p`` opens a RIFF stream of type ``form``."""
    return len(p) >= 12 and p[:4] == b"RIFF" and p[8:12] == form


def riff_walk(p: bytes, pos: int = 0, end: "int | None" = None):
    """The RIFF framing alone: ``(tag, body offset, declared length)``
    for each chunk header in ``p[pos:end]`` — 4-byte tag, little-endian
    length, body padded to an even size. A length that runs past the
    end is yielded as declared; each reader keeps its own rule for it
    (refuse, clamp, or use the declared value)."""
    end = len(p) if end is None else end
    while pos + 8 <= end:
        clen = int.from_bytes(p[pos + 4 : pos + 8], "little")
        yield p[pos : pos + 4], pos + 8, clen
        pos += 8 + clen + (clen & 1)


def riff_chunks(p: bytes, pos: int = 0):
    """``(tag, data)`` for each RIFF chunk of ``p`` from ``pos`` on,
    or None when a chunk runs past the end."""
    out = []
    for tag, at, clen in riff_walk(p, pos):
        if at + clen > len(p):
            return None
        out.append((tag, p[at : at + clen]))
    return out


def wav_chunks(p: bytes):
    """``riff_walk`` records of a RIFF/WAVE stream's ``data`` chunks
    and of its ``fmt `` chunks whose 16 fixed bytes are present, in
    stream order; nothing for other bytes."""
    if is_riff(p, b"WAVE"):
        for tag, at, clen in riff_walk(p, 12):
            if tag == b"data" or tag == b"fmt " and at + 16 <= len(p):
                yield tag, at, clen


def _chunk(tag: bytes, data: bytes, pad: bool = False) -> bytes:
    """One RIFF chunk — tag, little-endian length, data — and with
    ``pad`` the zero byte that evens an odd length."""
    odd = pad and len(data) & 1
    return tag + struct.pack("<I", len(data)) + data + b"\x00" * odd


def _riff(form: bytes, chunks: bytes) -> bytes:
    """A RIFF stream of type ``form`` around written ``chunks``."""
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + form + chunks


def vp8x_canvas(p: bytes):
    """``(width, height)`` of an extended (VP8X) WebP's canvas: two
    24-bit fields, each the size minus one (RFC 9649 §2.7)."""
    return (1 + int.from_bytes(p[24:27], "little"),
            1 + int.from_bytes(p[27:30], "little"))


def anmf_fields(body: bytes):
    """``(x, y, width, height, duration_ms, flags)`` of an ``ANMF``
    chunk body, or None when its 16-byte header is cut: offsets in
    2-px units, sizes minus one, all 24-bit (RFC 9649 §2.5.3)."""
    if len(body) < 16:
        return None
    x, y, w, h, ms = (int.from_bytes(body[i : i + 3], "little")
                      for i in range(0, 15, 3))
    return 2 * x, 2 * y, 1 + w, 1 + h, ms, body[15]


def webp_anim_chunks(p: bytes):
    """The top-level chunks after ``VP8X`` of an ANIMATED WebP as a
    list of ``(tag, data)`` (RIFF chunks, even-padded), or None when
    ``p`` is not a VP8X container with the animation flag (bit 0x02)
    or a chunk runs past the end."""
    if len(p) < 30 or not is_riff(p, b"WEBP") or p[12:16] != b"VP8X":
        return None
    if not p[20] & 0x02:
        return None
    (vp8x_len,) = struct.unpack_from("<I", p, 16)
    return riff_chunks(p, 20 + vp8x_len + (vp8x_len & 1))


def gif_animation_info(payload: bytes):
    """(n_frames, duration_ms) for a GIF — the HEADER-ONLY animation
    probe (no LZW decode: image data sub-blocks are length-skipped,
    so cost is ∝ block count, not pixels — the crawl-scale metadata
    pass shape). Durations are the GCE delay fields × 10 ms summed
    over rendering blocks. Returns None for non-GIF or malformed
    bytes; a plain single-image GIF returns (1, 0)."""
    n_frames = 0
    total_cs = 0
    for blk in gif_blocks(payload):
        if blk is None:
            return None
        gce = blk[0]
        n_frames += 1
        total_cs += 0 if gce is None else gce[1] | (gce[2] << 8)
    if n_frames == 0:
        return None
    return n_frames, total_cs * 10


def webp_animation_info(payload: bytes):
    """(n_frames, duration_ms) for an ANIMATED WebP — header-only:
    requires the VP8X extended container with the animation flag
    (bit 0x02), then walks the even-padded RIFF chunks summing each
    ANMF frame's 24-bit millisecond duration (payload bytes 12..14
    per RFC 9649 §2.5.3) — frame bitstreams are length-skipped, so
    cost is ∝ frame count. Returns None for non-WebP, non-VP8X, or
    a VP8X without the animation flag (a still extended WebP is the
    image path's business)."""
    chunks = webp_anim_chunks(payload)
    if chunks is None:
        return None
    n_frames = 0
    total_ms = 0
    for tag, body in chunks:
        if tag == b"ANMF":
            anmf = anmf_fields(body)
            if anmf is None:
                return None
            total_ms += anmf[4]
            n_frames += 1
    if n_frames == 0:
        return None
    return n_frames, total_ms


def apng_animation_info(payload: bytes):
    """(n_frames, duration_ms) for an ANIMATED PNG — the header-only
    probe twin of :func:`gif_animation_info`: a chunk-length walk
    reading ``acTL`` (frame count) and every ``fcTL``'s
    delay_num/delay_den (den 0 → 100 per the spec), frame data
    length-skipped, no CRC work. None for still PNGs (no ``acTL``
    before ``IDAT``) or non-PNG bytes."""
    chunks = png_chunks(payload, check_crc=False)
    if chunks is None:
        return None
    n_frames = None
    seen_idat = False
    dur_ms = 0
    for ctype, data in chunks:
        if ctype == b"acTL" and not seen_idat and len(data) >= 8:
            n_frames = struct.unpack_from(">I", data)[0]
        elif ctype == b"IDAT":
            seen_idat = True
        elif ctype == b"fcTL" and len(data) >= FCTL.size:
            num, den = FCTL.unpack_from(data)[5:7]
            dur_ms += num * 1000 // (den or 100)
    if n_frames is None:
        return None
    return n_frames, dur_ms


def _tiff_ifd0(p: bytes):
    """(endian, {tag: (type, count, value_or_offset_bytes)}) for a
    TIFF stream's first IFD, or None. Shared by the dims probe and
    the pixel decoder."""
    if len(p) < 14:
        return None
    if p[:4] == b"II*\x00":
        end = "<"
    elif p[:4] == b"MM\x00*":
        end = ">"
    else:
        return None
    (ifd0,) = struct.unpack_from(end + "I", p, 4)
    if ifd0 + 2 > len(p):
        return None
    (n,) = struct.unpack_from(end + "H", p, ifd0)
    entries = {}
    for i in range(n):
        off = ifd0 + 2 + 12 * i
        if off + 12 > len(p):
            return None
        tag, typ, cnt = struct.unpack_from(end + "HHI", p, off)
        entries[tag] = (typ, cnt, off + 8)
    return end, entries


#: the TIFF field types the pixel path reads and the fixture writer
#: writes, as struct codes: BYTE, SHORT, LONG (rational tags are
#: irrelevant to the pixel path)
TIFF_TYPES = {1: "B", 3: "H", 4: "I"}


def _tiff_values(p: bytes, end: str, entry):
    """Entry values as a list of ints (``TIFF_TYPES`` only), or
    None."""
    typ, cnt, vpos = entry
    code = TIFF_TYPES.get(typ)
    if code is None:
        return None
    total = struct.calcsize(code) * cnt
    if total <= 4:
        base = vpos
    else:
        (base,) = struct.unpack_from(end + "I", p, vpos)
    if base + total > len(p):
        return None
    return list(struct.unpack_from(end + str(cnt) + code, p, base))
