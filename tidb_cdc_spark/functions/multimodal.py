"""Multimodal columns: images/audio/video as opaque ``binary``
columns with typed metadata structs, processed via Arrow-batched
``mapInPandas``.

North-star operator (BASELINE.json). Metadata extraction is REAL:
``parse_image_header`` / ``parse_media_header`` read exact
dimensions and durations from PNG/GIF/JPEG/BMP/WAV/MP4 container
headers in pure Python (no codec libraries needed — the pass a
crawl-scale metadata probe actually runs). PIXEL decode is REAL for
uncompressed 24-bpp BMP (``decode_bmp_pixels``) AND for COMPRESSED
PNG over its FULL still-image envelope (``decode_png_pixels`` —
stdlib ``zlib`` inflate, all five scanline unfilters, every
spec-legal color-type/bit-depth combination incl. 16-bit and
sub-byte depths, alpha composited over white, Adam7 interlace,
per-chunk CRC) and GIF
(``decode_gif_pixels`` — pure-Python LZW, sequential + interlaced)
and baseline JPEG (``functions/jpeg.py::decode_jpeg_pixels`` —
table-driven Huffman + orthogonal IDCT, grayscale and any
integer-ratio chroma subsampling incl. 4:2:0),
all feeding the perceptual-hash chain (``ahash64`` / ``dhash64`` /
``dct_phash64`` / ``perceptual_hashes`` / ``dct_phashes`` /
``phash_near_dup_pairs``) through the single ``decode_pixels``
boundary; sample decode is REAL for 16-bit PCM WAV (whole-clip and
per-window fingerprints — the latter trim-robust via
``audio_near_dup_pairs``) and frame decode for uncompressed AVI.
and lossless WebP (``functions/webp.py`` — VP8L prefix codes,
LZ77 + color cache, all four transforms, conformance-verified
against libwebp itself), with EXIF/eXIf camera rotation normalized.
Remaining codec territory (lossy VP8, H.264, MP3): PIL is used
automatically when importable, and ``_decode_image_stub``
(deterministic fake, clearly marked) now covers ONLY bytes no real
path recognizes — swapping in libvips/ffmpeg is a one-function
change. The Spark-side plumbing — schema, batch iteration,
partition sizing, UDF signatures — is real and tested throughout.

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


def _spread(slim: DataFrame) -> DataFrame:
    """Fan the id-sized synth input out across the cluster BEFORE the
    Python media chain starts (r14; guide §2.5 "input skew" / §1.2
    "the distributed algorithm").

    Every ``synth_*`` feeds a mapInPandas chain (synth → probe/decode
    → hash) that is CPU-bound per row; the chain inherits the input's
    partitioning, and a single-split source (the local testdata
    parquet is one row group; production gzip/WARC inputs have the
    same shape) serialized the whole decode on one core — measured
    89.9 s for the MJPEG audit's uncached pass at sf0.1 vs ~4 s fanned
    out. KEYLESS round-robin (deterministic under retries via Spark's
    sort-before-repartition, SPARK-23207), NOT a hash repartition on
    media_id: the audits join the hash rows back to their plant spine
    ON media_id, and a key-matched layout would be reused straight
    through that join into the materialized frame — pinning every
    tiny downstream aggregate at ``n`` near-empty tasks and blocking
    AQE's size-based coalesce (measured: cached-read consumers
    1.4 s → 3.5 s under the keyed variant). The keyless exchange
    costs the same ~16 B/row (no payloads exist yet), balances the
    decode across the cluster, and lets the next shuffle boundary
    re-size freely. ``defaultParallelism`` scales with the session's
    core count; on a multi-split production source the extra
    exchange is ~free relative to the decode it balances.

    r15 (advice): the target is ``max(defaultParallelism, existing
    split count)`` — a bare ``repartition(defaultParallelism)`` would
    COLLAPSE a production source that already has more partitions
    than cores, capping decode parallelism at exactly n with no
    straggler slack. Reading the split count plans the (id-sized)
    input subtree once; no job runs."""
    n = slim.sparkSession.sparkContext.defaultParallelism
    try:
        n = max(n, slim.rdd.getNumPartitions())
    except Exception:
        pass  # planning hiccup — fall back to the core-count target
    return slim.repartition(n)


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
    if len(p) >= 24 and p[:8] == b"\x89PNG\r\n\x1a\n":
        return (
            "image/png",
            int.from_bytes(p[16:20], "big"),
            int.from_bytes(p[20:24], "big"),
        )
    if len(p) >= 10 and p[:6] in (b"GIF87a", b"GIF89a"):
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
    if len(p) >= 30 and p[:4] == b"RIFF" and p[8:12] == b"WEBP":
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
            # extended container: 24-bit canvas dims minus one
            w = 1 + int.from_bytes(p[24:27], "little")
            h = 1 + int.from_bytes(p[27:30], "little")
            return ("image/webp", w, h)
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
        import io

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


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: bytes → bytes with updated metadata. The
    transform itself is the stub (identity payload); the schema/batch
    shape is the real contract."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["width"] = width
            pdf["height"] = height
            # STUB: real impl re-encodes payload at (width, height)
            yield pdf

    return media.mapInPandas(resize, schema=media.schema)


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
    if len(p) >= 12 and p[:4] == b"RIFF" and p[8:12] == b"WAVE":
        i, byte_rate, data_len = 12, None, None
        while i + 8 <= len(p):
            cid = p[i : i + 4]
            clen = int.from_bytes(p[i + 4 : i + 8], "little")
            if cid == b"fmt " and i + 16 + 8 <= len(p):
                byte_rate = int.from_bytes(p[i + 16 : i + 20], "little")
            elif cid == b"data":
                data_len = clen
            if byte_rate and data_len is not None:
                return ("audio/wav", data_len * 1000 // max(byte_rate, 1))
            i += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
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


def synth_container_media(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Plant REAL container bytes per id — RIFF/WAVE for even ids,
    ISO-BMFF ftyp+moov+mvhd for odd (version 0 when id%4==1,
    version 1 / 64-bit duration when id%4==3) — with every header
    field derived from the id by FIXED integer formulas, so the
    values ``probe_media`` recovers are reproducible by any engine:

    - WAV:  byte_rate = 8000 + (id % 32)·250,
            data_len  = 16000 + (id % 1000)·16
            ⇒ duration_ms = data_len·1000 div byte_rate
    - MP4:  timescale = 600 + (id % 400),
            dur_units = 2400 + (id % 3000)            (v0, 32-bit)
                      = 2³³ + (id % 3000)             (v1, 64-bit)
            ⇒ duration_ms = dur_units·1000 div timescale

    Payloads are header-only (~44-72 bytes — the RIFF ``data`` chunk
    declares its length but carries no samples, which the chunk walk
    never reads past), so a corpus-wide plant costs nothing. All
    other metadata is NULL: the probe must RECOVER it from the
    bytes, making this the planted-value audit source for the real
    container parsers at corpus scale (queries/media.py)."""
    import struct

    slim = ids.select(F.col(id_col).cast("long").alias("media_id"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["media_id"]:
                mid = int(raw)
                if mid % 2 == 0:
                    byte_rate = 8000 + (mid % 32) * 250
                    data_len = 16000 + (mid % 1000) * 16
                    fmt = struct.pack("<HHIIHH", 1, 1, 8000, byte_rate, 2, 16)
                    body = (
                        b"WAVE"
                        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                        + b"data" + struct.pack("<I", data_len)
                    )
                    payload = b"RIFF" + struct.pack("<I", len(body)) + body
                    kind = "audio"
                else:
                    ts = 600 + (mid % 400)
                    if mid % 4 == 1:  # version 0: 32-bit times
                        dur = 2400 + (mid % 3000)
                        mvhd = (
                            b"\x00\x00\x00\x00"
                            + b"\x00" * 8
                            + struct.pack(">I", ts)
                            + struct.pack(">I", dur)
                        )
                    else:  # version 1: 64-bit duration field
                        dur = 8589934592 + (mid % 3000)
                        mvhd = (
                            b"\x01\x00\x00\x00"
                            + b"\x00" * 16
                            + struct.pack(">I", ts)
                            + struct.pack(">Q", dur)
                        )
                    mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
                    moov = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
                    payload = (
                        struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
                        + moov
                    )
                    kind = "video"
                rows.append((mid, kind, None, None, None, None, payload))
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in MEDIA_SCHEMA.fields],
            )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


def synth_image_media(ids: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Plant REAL image container bytes per id — the image twin of
    ``synth_container_media``, covering every layout
    ``parse_image_header`` handles, chosen by ``id % 5``:

    - 0: PNG (IHDR, big-endian dims, valid CRC)
    - 1: GIF (87a when ``(id//5) % 2 == 0`` else 89a; little-endian
         logical-screen dims)
    - 2: BMP BITMAPCOREHEADER (OS/2, header size 12, 16-bit dims)
    - 3: BMP BITMAPINFOHEADER (header size 40, int32 dims; stored
         height NEGATIVE — top-down bitmap — for odd ids, so the
         abs() branch is under the oracle)
    - 4: JPEG (SOI + APP0 + SOF0; a 2-byte 0xFF fill-byte run is
         inserted before the SOF0 marker for even ids — the marker
         scan must skip fills, not read one as the marker id)

    Width/height derive from the id by FIXED formulas shared across
    all five layouts (w = 16 + id%60000, h = 16 + id%40000 — both
    fit the 16-bit containers), so the values ``probe_media``
    recovers are reproducible by any engine: the planted-value audit
    source for the image parsers (queries/media.py), the pattern
    that closed the WAV/MP4 gap in round 10. Payloads are
    header-only (13-43 bytes: GIF 13, BMP 26/30, PNG 33, JPEG
    41/43); all metadata is planted NULL so the probe must RECOVER
    mime/width/height from the bytes."""
    import struct
    import zlib

    slim = ids.select(F.col(id_col).cast("long").alias("media_id"))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw in pdf["media_id"]:
                mid = int(raw)
                w = 16 + mid % 60000
                h = 16 + mid % 40000
                cls = mid % 5
                if cls == 0:
                    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
                    chunk = b"IHDR" + ihdr
                    payload = (
                        b"\x89PNG\r\n\x1a\n"
                        + struct.pack(">I", len(ihdr))
                        + chunk
                        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
                    )
                elif cls == 1:
                    magic = b"GIF87a" if (mid // 5) % 2 == 0 else b"GIF89a"
                    payload = (
                        magic
                        + struct.pack("<HH", w, h)
                        + b"\x70\x00\x00"  # LSD packed/bg/aspect
                    )
                elif cls == 2:
                    payload = (
                        b"BM"
                        + b"\x00" * 12  # file size / reserved / offset
                        + struct.pack("<I", 12)  # BITMAPCOREHEADER
                        + struct.pack("<HHHH", w, h, 1, 24)
                    )
                elif cls == 3:
                    stored_h = -h if mid % 2 == 1 else h
                    payload = (
                        b"BM"
                        + b"\x00" * 12
                        + struct.pack("<I", 40)  # BITMAPINFOHEADER
                        + struct.pack("<ii", w, stored_h)
                        + struct.pack("<HH", 1, 24)
                    )
                else:
                    app0 = (
                        b"\xff\xe0"
                        + struct.pack(">H", 16)
                        + b"JFIF\x00"
                        + b"\x00" * 9
                    )
                    fill = b"\xff\xff" if mid % 2 == 0 else b""
                    sof0 = (
                        b"\xff\xc0"
                        + struct.pack(">H", 17)
                        + b"\x08"
                        + struct.pack(">HH", h, w)
                        + b"\x03"
                        + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
                    )
                    payload = b"\xff\xd8" + app0 + fill + sof0 + b"\xff\xd9"
                rows.append((mid, "image", None, None, None, None, payload))
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in MEDIA_SCHEMA.fields],
            )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


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
            # r14 (guide §4.2): the loop works on plain Python lists
            # with ONE bulk write-back per column — per-row pandas
            # ``.at`` reads/writes were ~half the pass's CPU on a
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
            # r15 (advice): nullable-Int write-back — a plain Series
            # with any null turns filled integers into float64, which
            # is silently lossy above 2^53 and discards the column
            # dtype; pandas' masked Int32/Int64 arrays keep exact
            # integer semantics and Arrow maps them straight onto the
            # declared IntegerType/LongType output schema. NaN floats
            # from the Arrow->pandas input conversion round-trip to
            # pd.NA losslessly (they are integral or missing).
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


# ------------------------------------------------- real pixel path
# Uncompressed 24-bpp BMP is decodable in pure Python/numpy (no codec
# library): fixed 54-byte header, raw BGR rows padded to 4-byte
# stride, bottom-up unless the stored height is negative. This gives
# the multimodal family a REAL pixel-level operator chain —
# decode → grayscale → perceptual hash → banded near-dup — with the
# ``_decode_image_stub`` demoted to the unrecognized-bytes path only.


def decode_bmp_pixels(payload: bytes):
    """REAL pixel decode for uncompressed 24-bpp BMPs: returns the
    grayscale image as an ``int64`` numpy array (BT.601 integer luma
    ``(299·R + 587·G + 114·B) // 1000``), or ``None`` when the bytes
    are not an uncompressed 24-bpp BMP (compressed/other formats are
    codec territory — those payloads keep their header-only probe).
    Handles both row orders (negative stored height = top-down) and
    the 4-byte row-stride padding."""
    import struct

    import numpy as np

    p = payload
    if len(p) < 54 or p[:2] != b"BM":
        return None
    off = struct.unpack_from("<I", p, 10)[0]
    hdr_size = struct.unpack_from("<I", p, 14)[0]
    if hdr_size < 40:
        return None  # BITMAPCOREHEADER carries no compression field
    w, h = struct.unpack_from("<ii", p, 18)
    bpp = struct.unpack_from("<H", p, 28)[0]
    comp = struct.unpack_from("<I", p, 30)[0]
    if bpp != 24 or comp != 0 or w <= 0 or h == 0:
        return None
    topdown = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if off + stride * h > len(p):
        return None  # truncated pixel array
    arr = np.frombuffer(p, dtype=np.uint8, count=stride * h, offset=off)
    arr = arr.reshape(h, stride)[:, : w * 3].reshape(h, w, 3).astype(np.int64)
    if not topdown:
        arr = arr[::-1]
    b, g, r = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
    return (r * 299 + g * 587 + b * 114) // 1000


def decode_png_pixels(payload: bytes):
    """REAL pixel decode for the FULL still-image PNG envelope —
    compressed bytes, pure Python + stdlib ``zlib`` (DEFLATE is in
    the standard library; no codec package needed). Supports every
    spec-legal (color type, bit depth) combination and BOTH
    interlace methods:

    - color types 0 (grayscale, depths 1/2/4/8/16), 2 (truecolor
      RGB, 8/16), 3 (palette, 1/2/4/8), 4 (gray+alpha, 8/16) and
      6 (RGBA, 8/16);
    - all FIVE scanline filters (None/Sub/Up/Average/Paeth, inverted
      per the spec's exact mod-256 byte recurrences, filter unit =
      ``bpp`` whole bytes — 1 byte for sub-byte depths);
    - Adam7 interlace: seven reduced images, each independently
      filtered, reassembled onto the (x0 + i·dx, y0 + j·dy) grid —
      empty passes (too-small dimensions) contribute zero bytes,
      exactly as encoders emit them.

    Deterministic reductions into the 8-bit luma domain, chosen so
    lossless re-encodes hash identically:

    - 16-bit samples take the HIGH byte (``v >> 8``): the standard
      8→16-bit expansion is ``v·257``, whose high byte is exactly
      ``v``, so a 16-bit re-save of an 8-bit image is luma-identical;
    - sub-byte grayscale left-bit-replicates (``v·255/(2^d −1)`` —
      exact integers 255/85/17 for depths 1/2/4, per the spec's
      sample-depth scaling);
    - alpha composites over WHITE with round-half-up integer math
      ``(v·a + 255·(255−a) + 127) // 255`` — a=255 returns ``v``
      exactly (an opaque RGBA re-save of an RGB image is
      luma-identical), a=0 returns 255;
    - grayscale returns the scaled gray directly: BT.601 integer
      luma of (g,g,g) is exactly g (299+587+114 = 1000).

    Every chunk CRC is verified; corrupt, truncated, over-long,
    spec-illegal (palette at depth 16, RGB at depth 4, interlace
    method 2, ...) payloads return ``None`` (header-probe-only
    treatment — no pixel evidence, no perceptual claim). Returns
    the int64 luma array (h, w).

    Scale: filters Sub/Average/Paeth are sequential along x by
    definition, so those rows decode in a Python byte loop — fine
    for the thumbnail/screen sizes perceptual hashing runs on
    (decode cost is ∝ pixel bytes, measured µs-scale per image, and
    the pass is the same Arrow-batched linear scan as BMP: pixels
    never shuffle). A codec fleet swaps in libpng via the PIL branch
    below with no plan change."""
    import struct
    import zlib

    import numpy as np

    p = payload
    if len(p) < 45 or p[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    ihdr = None
    plte = None
    exif = None
    idat = []
    while pos + 12 <= len(p):
        (clen,) = struct.unpack_from(">I", p, pos)
        ctype = p[pos + 4 : pos + 8]
        data = p[pos + 8 : pos + 8 + clen]
        if len(data) != clen:
            return None  # truncated
        (crc,) = struct.unpack_from(">I", p, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None  # corrupt chunk
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if clen % 3 != 0:
                return None
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"eXIf":
            exif = data  # raw TIFF stream (PNG 1.5 extension)
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr is None or not idat:
        return None
    w, h, depth, color, comp, filt, interlace = ihdr
    # spec-legal (color, depth) combinations — PNG spec table 11.1
    _allowed = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                4: (8, 16), 6: (8, 16)}
    if color not in _allowed or depth not in _allowed[color]:
        return None
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        return None
    if w <= 0 or h <= 0:
        return None
    if color == 3 and plte is None:
        return None
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bits_pp = depth * ch
    bpp = max(1, bits_pp // 8)  # filter unit: whole bytes, min 1
    samples = np.zeros((h, w, ch), dtype=np.int64)
    passes = ((0, 0, 1, 1),) if interlace == 0 else _ADAM7_PASSES
    pos = 0
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # empty pass: zero bytes in the stream
        rowbytes = (pw * bits_pp + 7) // 8
        need = ph * (1 + rowbytes)
        if pos + need > len(raw):
            return None  # truncated pixel stream
        rows = _png_unfilter(raw[pos : pos + need], ph, rowbytes, bpp)
        if rows is None:
            return None  # invalid filter byte
        pos += need
        samples[y0::dy, x0::dx] = _png_samples(rows, pw, depth, ch)
    if pos != len(raw):
        return None  # trailing garbage after the final pass
    # reduce to the 8-bit domain
    if depth == 16:
        samples >>= 8  # high byte: v·257 expansions reduce to v
    elif depth < 8 and color == 0:
        samples *= 255 // ((1 << depth) - 1)  # left-bit replication
    if color == 0:
        luma = samples[:, :, 0]  # luma(g,g,g) = g exactly
    else:
        if color == 3:
            idx = samples[:, :, 0]
            if int(idx.max()) * 3 + 2 >= len(plte):
                return None  # index past the palette
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            rgb = pal.astype(np.int64)[idx]
        elif color in (4, 6):
            a = samples[:, :, -1:]
            v = (samples[:, :, :-1] * a + 255 * (255 - a) + 127) // 255
            rgb = np.repeat(v, 3, axis=2) if color == 4 else v
        else:  # color == 2
            rgb = samples
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        luma = (r * 299 + g * 587 + b * 114) // 1000
    if exif is not None:
        # PNG eXIf: same camera-rotation normalization as JPEG APP1
        from tidb_cdc_spark.functions.jpeg import (
            apply_exif_orientation,
            tiff_orientation,
        )

        luma = apply_exif_orientation(luma, tiff_orientation(exif))
    return luma


# Adam7: (x0, y0, dx, dy) per pass — PNG spec 8.2's starting offsets
# and strides; pass k paints the (x0 + i·dx, y0 + j·dy) grid.
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, h: int, rowbytes: int, bpp: int):
    """Invert the five PNG scanline filters over one (sub-)image:
    ``raw`` is ``h`` scanlines of (filter byte + ``rowbytes`` data),
    ``bpp`` the filter unit in whole bytes. Returns the (h, rowbytes)
    uint8 array, or ``None`` on an invalid filter byte. Up is
    vectorized; Sub/Average/Paeth are sequential along x BY SPEC
    (each byte depends on the reconstructed byte ``bpp`` to its
    left), so those rows run in a Python byte loop."""
    import numpy as np

    out = np.empty((h, rowbytes), dtype=np.uint8)
    prev = np.zeros(rowbytes, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (1 + rowbytes)]
        line = raw[y * (1 + rowbytes) + 1 : (y + 1) * (1 + rowbytes)]
        if f == 0:
            cur = np.frombuffer(line, dtype=np.uint8).copy()
        elif f == 2:  # Up — vectorized
            cur = np.frombuffer(line, dtype=np.uint8) + prev
        elif f in (1, 3, 4):  # Sub/Average/Paeth — sequential in x
            cur_b = bytearray(line)
            pv = prev
            for i in range(rowbytes):
                a = cur_b[i - bpp] if i >= bpp else 0
                b = int(pv[i])
                if f == 1:
                    cur_b[i] = (cur_b[i] + a) & 0xFF
                elif f == 3:
                    cur_b[i] = (cur_b[i] + ((a + b) >> 1)) & 0xFF
                else:
                    c = int(pv[i - bpp]) if i >= bpp else 0
                    pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                    pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur_b[i] = (cur_b[i] + pr) & 0xFF
            cur = np.frombuffer(bytes(cur_b), dtype=np.uint8)
        else:
            return None  # invalid filter byte
        out[y] = cur
        prev = out[y]
    return out


def _png_samples(rows, w: int, depth: int, ch: int):
    """Unpack one (sub-)image's unfiltered scanline bytes into the
    (h, w, ch) int64 sample array: big-endian pairs at depth 16,
    straight bytes at 8, MSB-first bit fields below 8 (sub-byte
    depths are single-channel by spec; row padding bits are
    discarded by the trim to ``w``)."""
    import numpy as np

    h = rows.shape[0]
    if depth == 16:
        pairs = rows[:, : w * ch * 2].reshape(h, w, ch, 2).astype(np.int64)
        return (pairs[..., 0] << 8) | pairs[..., 1]
    if depth == 8:
        return rows[:, : w * ch].reshape(h, w, ch).astype(np.int64)
    per = 8 // depth
    mask = (1 << depth) - 1
    shifts = np.arange(per - 1, -1, -1, dtype=np.int64) * depth
    expanded = (rows[:, :, None].astype(np.int64) >> shifts) & mask
    return expanded.reshape(h, -1)[:, :w].reshape(h, w, 1)



def _gif_lzw_decode(data: bytes, min_code_size: int):
    """GIF-flavor LZW decode (variable code width, LSB-first bit
    packing, clear/EOI codes, 12-bit dictionary cap). Returns the
    palette-index list or None on a malformed stream."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [(i,) for i in range(clear)] + [None, None]
    table = list(base)
    code_size = min_code_size + 1
    out = []
    prev_entry = None
    acc = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < code_size:
            if pos >= len(data):
                return out  # stream ended without EOI — accept
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev_entry = None
            continue
        if code == eoi:
            return out
        if prev_entry is None:
            if code >= len(table) or table[code] is None:
                return None
            entry = table[code]
        elif code < len(table) and table[code] is not None:
            entry = table[code]
            if len(table) < 4096:
                table.append(prev_entry + (entry[0],))
        elif code == len(table) and len(table) < 4096:
            entry = prev_entry + (prev_entry[0],)
            table.append(entry)
        else:
            return None
        out.extend(entry)
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
        prev_entry = entry
    return out


def decode_gif_pixels(payload: bytes):
    """REAL pixel decode for GIF87a/GIF89a — compressed bytes, pure
    Python (the LZW codec is ~40 lines; no library needed). Decodes
    the FIRST image frame: global or local color table, interlaced
    (4-pass row shuffle) or sequential, extensions skipped. Returns
    the int64 BT.601 luma array, or ``None`` for malformed streams
    or palette-index overruns. Same scale shape as the PNG path:
    the decode is ∝ pixel bytes inside the Arrow pass."""
    import struct

    import numpy as np

    p = payload
    if len(p) < 13 or p[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw, sh, flags = struct.unpack_from("<HHB", p, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = p[pos : pos + 3 * n]
        if len(gct) != 3 * n:
            return None
        pos += 3 * n
    while pos < len(p):
        b0 = p[pos]
        pos += 1
        if b0 == 0x21:  # extension: label + sub-blocks
            if pos >= len(p):
                return None
            pos += 1
            while pos < len(p) and p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            if pos + 9 > len(p):
                return None
            _lx, _ty, iw, ih, iflags = struct.unpack_from("<HHHHB", p, pos)
            pos += 9
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = p[pos : pos + 3 * n]
                if len(pal) != 3 * n:
                    return None
                pos += 3 * n
            if pal is None or iw <= 0 or ih <= 0:
                return None
            if pos >= len(p):
                return None
            min_code = p[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                return None
            chunks = []
            while pos < len(p) and p[pos] != 0:
                n = p[pos]
                chunks.append(p[pos + 1 : pos + 1 + n])
                if len(chunks[-1]) != n:
                    return None
                pos += 1 + n
            idx = _gif_lzw_decode(b"".join(chunks), min_code)
            if idx is None or len(idx) < iw * ih:
                return None
            arr = np.array(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
            if iflags & 0x40:  # interlaced: 4-pass row order
                order = [
                    *range(0, ih, 8),
                    *range(4, ih, 8),
                    *range(2, ih, 4),
                    *range(1, ih, 2),
                ]
                de = np.empty_like(arr)
                de[order] = arr
                arr = de
            if int(arr.max()) * 3 + 2 >= len(pal):
                return None
            pt = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
            pt = pt.astype(np.int64)
            r, g, b = pt[arr, 0], pt[arr, 1], pt[arr, 2]
            return (r * 299 + g * 587 + b * 114) // 1000
        elif b0 == 0x3B:  # trailer before any image
            return None
        else:
            return None
    return None


def decode_gif_frames(payload: bytes):
    """REAL frame decode for ANIMATED GIF (GIF89a) — the web's
    actual animation format routed onto the same shot-level near-dup
    path uncompressed AVI already has: every rendering block is
    LZW-decoded (the same ~40-line codec the image path uses) and
    COMPOSED onto the logical screen per the GIF89a rules — frame
    offsets and sub-rectangle frames, local palettes, Graphic
    Control Extension transparency (transparent pixels show what is
    beneath), and disposal methods 0/1 (keep), 2 (restore the
    frame's region to the paper color) and 3 (restore to the
    previous contents). Returns the list of int64 BT.601 luma
    snapshots of the FULL logical screen after each frame — so a
    delta-encoded animation (each frame a transparent-patched
    sub-rect, the format's whole point) yields the same frame
    hashes as its full-frame re-encode — or ``None`` for malformed
    streams. The paper color is WHITE (255), matching the
    alpha-over-white convention every pixel path shares (GIF
    backgrounds behind transparency are a viewer choice; white is
    this engine's documented one). A plain single-image GIF returns
    a one-element list, so ``video_frame_hashes`` over mixed media
    needs no animated-or-not branch. Scale shape: frames ∝ decoded
    bytes inside the Arrow pass; only 28 B hash rows shuffle."""
    import struct

    import numpy as np

    p = payload
    if len(p) < 13 or p[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    sw, sh, flags = struct.unpack_from("<HHB", p, 6)
    if sw <= 0 or sh <= 0:
        return None
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = p[pos : pos + 3 * n]
        if len(gct) != 3 * n:
            return None
        pos += 3 * n
    canvas = np.full((sh, sw), 255, dtype=np.int64)  # white paper
    frames = []
    transp = None  # transparent index from the pending GCE
    disposal = 0
    while pos < len(p):
        b0 = p[pos]
        pos += 1
        if b0 == 0x21:  # extension
            if pos >= len(p):
                return None
            label = p[pos]
            pos += 1
            if label == 0xF9 and pos < len(p) and p[pos] >= 4:
                gflags = p[pos + 1]
                disposal = (gflags >> 2) & 0x7
                transp = p[pos + 4] if gflags & 1 else None
            while pos < len(p) and p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor — one rendering block
            if pos + 9 > len(p):
                return None
            lx, ty, iw, ih, iflags = struct.unpack_from("<HHHHB", p, pos)
            pos += 9
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = p[pos : pos + 3 * n]
                if len(pal) != 3 * n:
                    return None
                pos += 3 * n
            if pal is None or iw <= 0 or ih <= 0:
                return None
            if lx + iw > sw or ty + ih > sh:
                return None  # frame outside the logical screen
            if pos >= len(p):
                return None
            min_code = p[pos]
            pos += 1
            if not 2 <= min_code <= 11:
                return None
            chunks = []
            while pos < len(p) and p[pos] != 0:
                n = p[pos]
                chunks.append(p[pos + 1 : pos + 1 + n])
                if len(chunks[-1]) != n:
                    return None
                pos += 1 + n
            pos += 1  # block terminator
            idx = _gif_lzw_decode(b"".join(chunks), min_code)
            if idx is None or len(idx) < iw * ih:
                return None
            arr = np.array(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
            if iflags & 0x40:  # interlaced
                order = [
                    *range(0, ih, 8),
                    *range(4, ih, 8),
                    *range(2, ih, 4),
                    *range(1, ih, 2),
                ]
                de = np.empty_like(arr)
                de[order] = arr
                arr = de
            if int(arr.max()) * 3 + 2 >= len(pal):
                return None
            pt = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3).astype(
                np.int64
            )
            lut = (pt[:, 0] * 299 + pt[:, 1] * 587 + pt[:, 2] * 114) // 1000
            region = canvas[ty : ty + ih, lx : lx + iw]
            saved = region.copy() if disposal == 3 else None
            if transp is None:
                region[:] = lut[arr]
            else:
                np.copyto(region, lut[arr], where=arr != transp)
            frames.append(canvas.copy())
            if disposal == 2:
                region[:] = 255  # restore region to the paper color
            elif disposal == 3:
                region[:] = saved
            transp = None  # a GCE governs exactly one rendering block
            disposal = 0
        elif b0 == 0x3B:  # trailer
            break
        else:
            return None
    return frames or None


def gif_animation_info(payload: bytes):
    """(n_frames, duration_ms) for a GIF — the HEADER-ONLY animation
    probe (no LZW decode: image data sub-blocks are length-skipped,
    so cost is ∝ block count, not pixels — the crawl-scale metadata
    pass shape). Durations are the GCE delay fields × 10 ms summed
    over rendering blocks. Returns None for non-GIF or malformed
    bytes; a plain single-image GIF returns (1, 0)."""
    import struct

    p = payload
    if len(p) < 13 or p[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    flags = p[10]
    pos = 13
    if flags & 0x80:
        pos += 3 * (2 << (flags & 7))
    n_frames = 0
    total_cs = 0
    delay = 0
    while pos < len(p):
        b0 = p[pos]
        pos += 1
        if b0 == 0x21:
            if pos >= len(p):
                return None
            label = p[pos]
            pos += 1
            if label == 0xF9 and pos < len(p) and p[pos] >= 4:
                delay = p[pos + 2] | (p[pos + 3] << 8)
            while pos < len(p) and p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
        elif b0 == 0x2C:
            if pos + 9 > len(p):
                return None
            iflags = p[pos + 8]
            pos += 9
            if iflags & 0x80:
                pos += 3 * (2 << (iflags & 7))
            if pos >= len(p):
                return None
            pos += 1  # min code size
            while pos < len(p) and p[pos] != 0:
                pos += 1 + p[pos]
            pos += 1
            n_frames += 1
            total_cs += delay
            delay = 0
        elif b0 == 0x3B:
            break
        else:
            return None
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
    import struct

    p = payload
    if len(p) < 30 or p[:4] != b"RIFF" or p[8:12] != b"WEBP":
        return None
    if p[12:16] != b"VP8X" or not p[20] & 0x02:
        return None
    (vp8x_len,) = struct.unpack_from("<I", p, 16)
    pos = 20 + vp8x_len + (vp8x_len & 1)
    n_frames = 0
    total_ms = 0
    while pos + 8 <= len(p):
        tag = p[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", p, pos + 4)
        if pos + 8 + clen > len(p):
            return None
        if tag == b"ANMF":
            if clen < 16:
                return None
            body = p[pos + 8 : pos + 8 + 16]
            total_ms += body[12] | (body[13] << 8) | (body[14] << 16)
            n_frames += 1
        pos += 8 + clen + (clen & 1)
    if n_frames == 0:
        return None
    return n_frames, total_ms


def _encode_webp_anim(frames_ms, width: int, height: int) -> bytes:
    """TEST/AUDIT FIXTURE: a REAL animated WebP — VP8X (animation
    flag, 24-bit canvas dims minus one) + ANIM (background + loop) +
    one ANMF per frame spec, each embedding a real VP8L literal
    stream of the frame. A frame spec is ``(gray, duration_ms)`` —
    full-canvas at (0, 0), alpha-blend+keep flags — or
    ``(gray, duration_ms, fx, fy, flags)`` with the frame offset in
    PIXELS (must be even: the ANMF fields store 2-px units) and the
    raw ANMF flags byte (bit 1 = no-blend, bit 0 = dispose to
    background). ``webp_animation_info`` recovers
    (n_frames, summed duration)."""
    import struct

    from tidb_cdc_spark.functions.webp import encode_webp_lossless

    vp8x = bytes([0x02, 0, 0, 0]) + (width - 1).to_bytes(3, "little") + (
        height - 1
    ).to_bytes(3, "little")
    chunks = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    anim = b"\xff\xff\xff\xff\x00\x00"  # bg BGRA + loop count 0
    chunks += b"ANIM" + struct.pack("<I", len(anim)) + anim
    for spec in frames_ms:
        gray, dur = spec[0], spec[1]
        fx, fy, flags = (spec[2], spec[3], spec[4]) if len(spec) > 2 else (
            0, 0, 0
        )
        assert fx % 2 == 0 and fy % 2 == 0, "ANMF offsets are 2-px units"
        sub = encode_webp_lossless(gray, "literal")
        vp8l = sub[12:]  # the inner VP8L chunk (tag + len + data)
        body = (
            (fx // 2).to_bytes(3, "little")
            + (fy // 2).to_bytes(3, "little")
            + (gray.shape[1] - 1).to_bytes(3, "little")
            + (gray.shape[0] - 1).to_bytes(3, "little")
            + int(dur).to_bytes(3, "little")
            + bytes([flags])
            + vp8l
        )
        chunks += b"ANMF" + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def decode_webp_anim_frames(payload: bytes):
    """REAL frame decode for ANIMATED WebP — each ANMF frame is a
    standalone VP8L/VP8 bitstream the existing decoders already
    handle (pure VP8L first, ctypes libwebp for lossy), composed
    onto the canvas per RFC 9649: frame rects at 2-px-unit offsets,
    dispose-to-background (= this engine's WHITE paper, the shared
    convention), and the blend bit. Returns the per-frame luma
    snapshots of the full canvas, or None outside the envelope.

    Honest envelope: REPLACE semantics ("no blend", or any frame
    without an alpha channel — the two cases whose canvas luma is
    exactly the frame's own luma-over-white) are composed exactly;
    an alpha-carrying frame with ALPHA-BLEND semantics returns None
    (blending needs the RGBA planes the luma reduction has already
    collapsed — fail closed, never wrong pixels)."""
    import struct

    import numpy as np

    from tidb_cdc_spark.functions.webp import (
        decode_webp_lossless_pixels,
        decode_webp_lossy_pixels,
    )

    p = payload
    if (
        len(p) < 30
        or p[:4] != b"RIFF"
        or p[8:12] != b"WEBP"
        or p[12:16] != b"VP8X"
        or not p[20] & 0x02
    ):
        return None
    cw = 1 + int.from_bytes(p[24:27], "little")
    ch = 1 + int.from_bytes(p[27:30], "little")
    (vp8x_len,) = struct.unpack_from("<I", p, 16)
    pos = 20 + vp8x_len + (vp8x_len & 1)
    canvas = np.full((ch, cw), 255, dtype=np.int64)  # white paper
    frames = []
    while pos + 8 <= len(p):
        tag = p[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", p, pos + 4)
        if pos + 8 + clen > len(p):
            return None
        if tag == b"ANMF":
            if clen < 16:
                return None
            body = p[pos + 8 : pos + 8 + clen]
            fx = 2 * int.from_bytes(body[0:3], "little")
            fy = 2 * int.from_bytes(body[3:6], "little")
            fw = 1 + int.from_bytes(body[6:9], "little")
            fh = 1 + int.from_bytes(body[9:12], "little")
            flags = body[15]
            if fx + fw > cw or fy + fh > ch:
                return None
            # frame data: optional ALPH chunk, then one VP8/VP8L
            fdata = body[16:]
            has_alpha = False
            fpos = 0
            stream = None
            while fpos + 8 <= len(fdata):
                ftag = fdata[fpos : fpos + 4]
                (flen,) = struct.unpack_from("<I", fdata, fpos + 4)
                if fpos + 8 + flen > len(fdata):
                    return None
                if ftag == b"ALPH":
                    has_alpha = True
                elif ftag in (b"VP8 ", b"VP8L"):
                    stream = fdata[fpos : fpos + 8 + flen]
                    if ftag == b"VP8L" and flen >= 5:
                        # VP8L header: signature byte, then 14+14
                        # dim bits; the ALPHA HINT is the next bit
                        # (bit 4 of the 4th bitstream byte)
                        has_alpha = has_alpha or bool(
                            fdata[fpos + 8 + 4] & 0x10
                        )
                    break
                fpos += 8 + flen + (flen & 1)
            if stream is None:
                return None
            no_blend = bool(flags & 0x02)
            if has_alpha and not no_blend:
                return None  # alpha blending: fail closed (docstring)
            wrapped = (
                b"RIFF"
                + struct.pack("<I", 4 + len(stream) + (len(stream) & 1))
                + b"WEBP"
                + stream
                + (b"\x00" if len(stream) & 1 else b"")
            )
            luma = decode_webp_lossless_pixels(wrapped)
            if luma is None:
                luma = decode_webp_lossy_pixels(wrapped)
            if luma is None or luma.shape != (fh, fw):
                return None
            canvas[fy : fy + fh, fx : fx + fw] = luma
            frames.append(canvas.copy())
            if flags & 0x01:  # dispose to background = white paper
                canvas[fy : fy + fh, fx : fx + fw] = 255
        pos += 8 + clen + (clen & 1)
    return frames or None


def apng_animation_info(payload: bytes):
    """(n_frames, duration_ms) for an ANIMATED PNG — the header-only
    probe twin of :func:`gif_animation_info`: a chunk-length walk
    reading ``acTL`` (frame count) and every ``fcTL``'s
    delay_num/delay_den (den 0 → 100 per the spec), frame data
    length-skipped, no CRC work. None for still PNGs (no ``acTL``
    before ``IDAT``) or non-PNG bytes."""
    import struct

    p = payload
    if len(p) < 8 or p[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    n_frames = None
    seen_idat = False
    dur_ms = 0
    while pos + 12 <= len(p):
        (clen,) = struct.unpack_from(">I", p, pos)
        ctype = p[pos + 4 : pos + 8]
        if ctype == b"acTL" and not seen_idat and clen >= 8:
            n_frames = struct.unpack_from(">I", p, pos + 8)[0]
        elif ctype == b"IDAT":
            seen_idat = True
        elif ctype == b"fcTL" and clen >= 26:
            num, den = struct.unpack_from(">HH", p, pos + 8 + 20)
            dur_ms += num * 1000 // (den or 100)
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if n_frames is None:
        return None
    return n_frames, dur_ms


def decode_apng_frames(payload: bytes):
    """REAL frame decode for ANIMATED PNG (APNG, PNG Third Edition)
    — the third leg of the animation trio (GIF, WebP, APNG): each
    frame's ``fdAT`` chunks form a complete zlib stream that the
    conformance-verified still decoder already handles, rewrapped
    as a standalone PNG and composed onto the canvas per the spec —
    fcTL sub-rects at (x, y), dispose 0 none / 1 background (= this
    engine's WHITE paper, the shared transparent convention) / 2
    previous (revert), sequence numbers validated consecutive from
    0, ``acTL`` frame count enforced. An ``fcTL`` before ``IDAT``
    makes the default image frame 0 (the spec then requires it to
    cover the full canvas — enforced); otherwise the default image
    is hidden and contributes no frame. Returns per-frame luma
    snapshots of the full canvas, or None outside the envelope.

    Honest envelope (the animated-WebP precedent): frames whose
    color type carries an alpha CHANNEL (4/6) — or any ``tRNS``
    transparency — under OVER blending return None (compositing
    needs the planes the luma reduction collapsed — fail closed,
    never wrong pixels); OVER with fully-opaque color types equals
    SOURCE by definition and composes exactly. Every chunk CRC is
    verified; malformed sequence numbers, out-of-canvas rects, or
    an undecodable frame fail the whole container closed."""
    import struct
    import zlib

    import numpy as np

    p = payload
    if len(p) < 45 or p[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos = 8
    ihdr_raw = None
    plte = None
    trns = False
    actl = None
    seen_idat = False
    next_seq = 0
    frames_meta = []  # each: [fctl_tuple, [data bytes], is_idat]
    while pos + 12 <= len(p):
        (clen,) = struct.unpack_from(">I", p, pos)
        if pos + 12 + clen > len(p):
            return None  # truncated chunk (data or CRC cut off)
        ctype = p[pos + 4 : pos + 8]
        data = p[pos + 8 : pos + 8 + clen]
        (crc,) = struct.unpack_from(">I", p, pos + 8 + clen)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None  # corrupt chunk
        if ctype == b"IHDR":
            ihdr_raw = data
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"tRNS":
            trns = True
        elif ctype == b"acTL":
            if seen_idat or clen < 8:
                return None  # must precede IDAT
            actl = struct.unpack_from(">II", data)
        elif ctype == b"fcTL":
            if clen != 26:
                return None
            fctl = struct.unpack(">IIIIIHHBB", data)
            if fctl[0] != next_seq:
                return None  # sequence gap
            next_seq += 1
            frames_meta.append([fctl, [], False])
        elif ctype == b"IDAT":
            if frames_meta and not seen_idat and not frames_meta[-1][1]:
                # fcTL before IDAT: the default image is frame 0
                frames_meta[-1][2] = True
            if frames_meta and frames_meta[-1][2]:
                frames_meta[-1][1].append(data)
            seen_idat = True
        elif ctype == b"fdAT":
            if clen < 4 or not frames_meta or frames_meta[-1][2]:
                return None
            if struct.unpack_from(">I", data)[0] != next_seq:
                return None  # sequence gap
            next_seq += 1
            frames_meta[-1][1].append(data[4:])
        elif ctype == b"IEND":
            break
        pos += 12 + clen
    if ihdr_raw is None or actl is None or not seen_idat:
        return None
    if len(frames_meta) != actl[0] or not frames_meta:
        return None
    W, H = struct.unpack_from(">II", ihdr_raw)
    color = ihdr_raw[9]
    canvas = np.full((H, W), 255, dtype=np.int64)  # white paper
    frames = []
    for i, (fctl, chunks, is_idat) in enumerate(frames_meta):
        _, fw, fh, fx, fy, _, _, dispose, blend = fctl
        if not chunks:
            return None  # fcTL without frame data
        if fw <= 0 or fh <= 0 or fx + fw > W or fy + fh > H:
            return None
        if is_idat and (fw, fh, fx, fy) != (W, H, 0, 0):
            return None  # spec: the IDAT frame covers the canvas
        if blend == 1 and (color in (4, 6) or trns):
            return None  # true alpha blending: fail closed
        if blend > 1 or dispose > 2:
            return None
        mini = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(
                b"IHDR",
                struct.pack(">II", fw, fh) + ihdr_raw[8:],
            )
            + (_png_chunk(b"PLTE", plte) if plte is not None else b"")
            + _png_chunk(b"IDAT", b"".join(chunks))
            + _png_chunk(b"IEND", b"")
        )
        luma = decode_png_pixels(mini)
        if luma is None or luma.shape != (fh, fw):
            return None
        if dispose == 2 and i == 0:
            dispose = 1  # spec: first-frame dispose-previous → bg
        prev = canvas.copy() if dispose == 2 else None
        canvas[fy : fy + fh, fx : fx + fw] = luma
        frames.append(canvas.copy())
        if dispose == 1:
            canvas[fy : fy + fh, fx : fx + fw] = 255
        elif dispose == 2:
            canvas = prev
    return frames or None


def _tiff_ifd0(p: bytes):
    """(endian, {tag: (type, count, value_or_offset_bytes)}) for a
    TIFF stream's first IFD, or None. Shared by the dims probe and
    the pixel decoder."""
    import struct

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


_TIFF_TYPE_SIZE = {1: 1, 3: 2, 4: 4}


def _tiff_values(p: bytes, end: str, entry):
    """Entry values as a list of ints (BYTE/SHORT/LONG only —
    rational tags are irrelevant to the pixel path), or None."""
    import struct

    typ, cnt, vpos = entry
    size = _TIFF_TYPE_SIZE.get(typ)
    if size is None:
        return None
    total = size * cnt
    if total <= 4:
        base = vpos
    else:
        (base,) = struct.unpack_from(end + "I", p, vpos)
    if base + total > len(p):
        return None
    fmt = {1: "B", 3: "H", 4: "I"}[typ]
    return list(struct.unpack_from(end + str(cnt) + fmt, p, base))


def decode_tiff_pixels(payload: bytes):
    """REAL pixel decode for UNCOMPRESSED baseline TIFF — the last
    common still format the perceptual chain lacked: both byte
    orders (II/MM), multi-strip layout (StripOffsets/ByteCounts ×
    RowsPerStrip), PhotometricInterpretation 0 (WhiteIsZero,
    inverted) / 1 (BlackIsZero) / 2 (RGB) / 3 (palette, 16-bit
    ColorMap reduced by its high byte like the PNG 16-bit rule),
    bit depths 1 / 8 / 16 (16-bit reduced by high byte), 3- and
    4-sample pixels (RGBA composited over WHITE with the shared
    round-half-up rule), and the TIFF Orientation tag normalized
    through the same ``apply_exif_orientation`` the JPEG path uses
    (a tag-rotated scan must hash like its upright twin). Returns
    the int64 BT.601 luma array, or None outside the envelope
    (LZW/PackBits/JPEG-in-TIFF compression, tiled layout, planar
    configuration 2, predictors — codec territory, fail closed).
    Scale shape: one strip concatenation + vectorized numpy per
    payload inside the Arrow pass."""
    import numpy as np

    hdr = _tiff_ifd0(payload)
    if hdr is None:
        return None
    end, entries = hdr
    p = payload

    def vals(tag, default=None):
        if tag not in entries:
            return default
        return _tiff_values(p, end, entries[tag])

    if 322 in entries or 323 in entries:
        return None  # tiled layout
    comp = vals(259, [1])
    if comp is None or comp[0] != 1:
        return None  # compressed TIFF: codec territory
    planar = vals(284, [1])
    if planar is None or planar[0] != 1:
        return None
    if vals(317, [1])[0] != 1:
        return None  # predictor without compression is malformed
    w = vals(256)
    h = vals(257)
    offsets = vals(273)
    counts = vals(279)
    if not w or not h or not offsets or not counts:
        return None
    w, h = w[0], h[0]
    if w <= 0 or h <= 0 or len(offsets) != len(counts):
        return None
    photo = vals(262, [1])[0]
    spp = vals(277, [1])[0]
    bits_l = vals(258, [1])
    if bits_l is None or len(set(bits_l)) != 1:
        return None
    bits = bits_l[0]
    if photo in (0, 1, 3):
        if spp != 1 or bits not in (1, 8, 16):
            return None
    elif photo == 2:
        if spp not in (3, 4) or bits not in (8, 16):
            return None
    else:
        return None
    data = bytearray()
    for o, c in zip(offsets, counts):
        if o + c > len(p):
            return None  # truncated strip: no fabricated pixels
        data += p[o : o + c]
    row_bytes = (w * spp * bits + 7) // 8
    if len(data) < row_bytes * h:
        return None
    rows = np.frombuffer(
        bytes(data[: row_bytes * h]), dtype=np.uint8
    ).reshape(h, row_bytes)
    if bits == 1:
        expanded = np.unpackbits(rows, axis=1)[:, :w].astype(np.int64)
        sam = expanded.reshape(h, w, 1)
        maxv = 1
    elif bits == 8:
        sam = rows[:, : w * spp].reshape(h, w, spp).astype(np.int64)
        maxv = 255
    else:  # 16: high-byte reduction (the PNG rule)
        pairs = rows[:, : w * spp * 2].reshape(h, w, spp, 2).astype(np.int64)
        hi, lo = (0, 1) if end == ">" else (1, 0)
        sam = (pairs[..., hi] << 8) | pairs[..., lo]
        maxv = 65535
    if photo == 3:
        cmap = vals(320)
        npal = 1 << bits
        if cmap is None or len(cmap) < 3 * npal:
            return None
        idx = sam[:, :, 0]
        if int(idx.max()) >= npal:
            return None
        pal = np.asarray(cmap[: 3 * npal], dtype=np.int64).reshape(3, npal)
        r, g, b = (pal[0][idx] >> 8), (pal[1][idx] >> 8), (pal[2][idx] >> 8)
        gray = (r * 299 + g * 587 + b * 114) // 1000
    elif photo in (0, 1):
        v = sam[:, :, 0]
        if bits == 16:
            v = v >> 8
            maxv = 255
        elif bits == 1:
            v = v * 255
            maxv = 255
        gray = (maxv - v) if photo == 0 else v
    else:
        if bits == 16:
            sam = sam >> 8
        if spp == 4:
            a = sam[:, :, 3]
            comp_rgb = [
                (sam[:, :, c] * a + 255 * (255 - a) + 127) // 255
                for c in range(3)
            ]
        else:
            comp_rgb = [sam[:, :, c] for c in range(3)]
        gray = (
            comp_rgb[0] * 299 + comp_rgb[1] * 587 + comp_rgb[2] * 114
        ) // 1000
    orient = vals(274, [1])[0]
    if not 1 <= orient <= 8:
        orient = 1
    from tidb_cdc_spark.functions.jpeg import apply_exif_orientation

    return apply_exif_orientation(gray, orient)


def _encode_tiff(
    gray,
    photometric: int = 1,
    bits: int = 8,
    endian: str = "<",
    rgb: bool = False,
    rgba: bool = False,
    orientation: int = 1,
    rows_per_strip: "int | None" = None,
) -> bytes:
    """TEST/AUDIT FIXTURE: a REAL baseline TIFF of an int64 gray
    array — both byte orders, multi-strip, photometric 0/1/2,
    8/16-bit, optional RGBA (opaque), optional Orientation tag
    (the stored pixels must then be the INVERSE-rotated plant, like
    the JPEG EXIF fixture)."""
    import struct

    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    if rgba:
        spp, photo = 4, 2
        px = np.concatenate(
            [
                np.repeat(g[:, :, None], 3, axis=2),
                np.full((h, w, 1), 255, dtype=np.int64),
            ],
            axis=2,
        )
    elif rgb:
        spp, photo = 3, 2
        px = np.repeat(g[:, :, None], 3, axis=2)
    else:
        spp, photo = 1, photometric
        v = (255 - g) if photometric == 0 else g
        px = v[:, :, None]
    if bits == 16:
        px = px * 257
        dt = np.dtype(">u2" if endian == ">" else "<u2")
        body_rows = px.astype(dt).tobytes()
        row_bytes = w * spp * 2
    else:
        body_rows = px.astype(np.uint8).tobytes()
        row_bytes = w * spp
    rps = rows_per_strip or h
    strips = []
    for y0 in range(0, h, rps):
        nrows = min(rps, h - y0)
        strips.append(
            body_rows[y0 * row_bytes : (y0 + nrows) * row_bytes]
        )
    e = endian
    tags = []  # (tag, type, count, value_or_None, payload_bytes)

    def short(tag, v):
        tags.append((tag, 3, 1, v, None))

    def longs(tag, vs):
        if len(vs) == 1:
            tags.append((tag, 4, 1, vs[0], None))
        else:
            tags.append(
                (tag, 4, len(vs), None,
                 struct.pack(e + str(len(vs)) + "I", *vs))
            )

    short(256, w)
    short(257, h)
    short(258, bits) if spp == 1 else tags.append(
        (258, 3, spp, None, struct.pack(e + str(spp) + "H", *([bits] * spp)))
    )
    short(259, 1)
    short(262, photo)
    if orientation != 1:
        short(274, orientation)
    short(277, spp)
    short(278, rps)
    # strip offsets/counts resolved after layout
    header = struct.pack(e + "2sHI", b"II" if e == "<" else b"MM", 42, 8)
    n_entries = len(tags) + 2
    ifd_size = 2 + 12 * n_entries + 4
    # layout: header(8) + IFD + out-of-line tag payloads + strips
    payload_pos = 8 + ifd_size
    out_of_line = []
    for t in tags:
        if t[4] is not None:
            out_of_line.append((t, payload_pos))
            payload_pos += len(t[4])
    # reserve room for offsets/counts arrays when multi-strip
    ns = len(strips)
    if ns > 1:
        so_pos = payload_pos
        payload_pos += 4 * ns
        sc_pos = payload_pos
        payload_pos += 4 * ns
    strip_pos = []
    for s in strips:
        strip_pos.append(payload_pos)
        payload_pos += len(s)
    full = [*tags]
    if ns > 1:
        full.append((273, 4, ns, None, b""))
        full.append((279, 4, ns, None, b""))
    else:
        full.append((273, 4, 1, strip_pos[0], None))
        full.append((279, 4, 1, len(strips[0]), None))
    full.sort(key=lambda t: t[0])
    ifd = struct.pack(e + "H", n_entries)
    ool_iter = {id(t): pos for t, pos in out_of_line}
    for t in full:
        tag, typ, cnt, val, pay = t
        if tag == 273 and ns > 1:
            ifd += struct.pack(e + "HHII", tag, typ, cnt, so_pos)
        elif tag == 279 and ns > 1:
            ifd += struct.pack(e + "HHII", tag, typ, cnt, sc_pos)
        elif pay is not None:
            ifd += struct.pack(e + "HHII", tag, typ, cnt, ool_iter[id(t)])
        elif typ == 3:
            ifd += struct.pack(e + "HHI", tag, typ, cnt) + struct.pack(
                e + "HH", val, 0
            )
        else:
            ifd += struct.pack(e + "HHII", tag, typ, cnt, val)
    ifd += struct.pack(e + "I", 0)  # no next IFD
    out = bytearray(header + ifd)
    for t, pos in out_of_line:
        assert len(out) == pos
        out += t[4]
    if ns > 1:
        assert len(out) == so_pos
        out += struct.pack(e + str(ns) + "I", *strip_pos)
        out += struct.pack(e + str(ns) + "I", *[len(s) for s in strips])
    for s in strips:
        out += s
    return bytes(out)


def decode_pixels(payload: bytes):
    """THE pixel-decode boundary for the perceptual-hash chain, kept
    to one function like ``decode_image_dims`` is for dims: the
    pure-Python deterministic paths first (uncompressed 24-bpp BMP,
    then COMPRESSED formats decodable with the standard library —
    PNG over its full envelope via stdlib zlib with all five
    scanline filters, every spec-legal color-type/depth combination,
    alpha-over-white and Adam7, GIF via the hand-rolled LZW codec,
    and baseline JPEG at any integer-ratio subsampling —
    preferred even when a codec library is present so these hashes
    never depend on the environment), then the guarded libwebp
    branch for lossy VP8 / VP8X (ctypes to the shared library this
    container ships — libwebp's own decoder, reduced with the SAME
    BT.601 luma-over-white as every pure path), then the guarded PIL
    branch for the remaining codec territory (decoded to RGB and
    reduced identically, so a losslessly re-encoded image hashes
    identically), else None — the documented NULL-hash path
    (``perceptual_hashes`` admits no perceptual claim without pixel
    evidence). A decode fleet with codec libs installed gets
    lossy-codec admission screening with no code change; this
    container has libwebp but no PIL, so the WebP branch is
    exercised for real and the PIL branch stays pinned by a guarded
    test (tests/test_phash.py)."""
    gray = decode_bmp_pixels(payload)
    if gray is not None:
        return gray
    if len(payload) >= 8 and payload[:4] in (b"II*\x00", b"MM\x00*"):
        gray = decode_tiff_pixels(payload)
        if gray is not None:
            return gray
    if len(payload) >= 8 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        gray = decode_png_pixels(payload)
        if gray is not None:
            return gray
    if len(payload) >= 6 and payload[:6] in (b"GIF87a", b"GIF89a"):
        gray = decode_gif_pixels(payload)
        if gray is not None:
            return gray
    if len(payload) >= 2 and payload[:2] == b"\xff\xd8":
        from tidb_cdc_spark.functions.jpeg import (
            apply_exif_orientation,
            decode_jpeg_pixels,
            jpeg_exif_orientation,
        )

        gray = decode_jpeg_pixels(payload)
        if gray is not None:
            # normalize camera rotation: a tag-rotated copy must
            # hash like its upright twin or it evades perceptual
            # dedup entirely
            return apply_exif_orientation(
                gray, jpeg_exif_orientation(payload)
            )
    if (
        len(payload) >= 16
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WEBP"
    ):
        from tidb_cdc_spark.functions.webp import (
            decode_webp_lossless_pixels,
            decode_webp_lossy_pixels,
        )

        gray = decode_webp_lossless_pixels(payload)
        if gray is not None:
            return gray
        # lossy VP8 / VP8X territory: libwebp's own decoder via
        # ctypes when the shared library exists (this container
        # ships it) — REAL pixels with the same BT.601 luma
        # reduction, deterministic per libwebp build. Pure VP8L
        # stays first so lossless hashes never depend on the host.
        gray = decode_webp_lossy_pixels(payload)
        if gray is not None:
            return gray
    if _PIL_Image is not None:  # pragma: no cover — no PIL here
        import io

        import numpy as np

        try:
            with _PIL_Image.open(io.BytesIO(payload)) as im:
                arr = np.asarray(im.convert("RGB"), dtype=np.int64)
        except Exception:
            return None
        r, g, b = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
        gray = (r * 299 + g * 587 + b * 114) // 1000
        if payload[:2] == b"\xff\xd8":
            # JPEGs outside the native envelope still carry camera
            # rotation — normalize here too (PIL does not)
            from tidb_cdc_spark.functions.jpeg import (
                apply_exif_orientation,
                jpeg_exif_orientation,
            )

            gray = apply_exif_orientation(
                gray, jpeg_exif_orientation(payload)
            )
        return gray
    return None


def _box_means(gray, cells_w: int, cells_h: int):
    """Integer box-downsample: cell (i, j) is the truncating mean of
    pixels x ∈ [j·W//cw, (j+1)·W//cw), y ∈ [i·H//ch, (i+1)·H//ch).
    All-integer so the hash is bit-reproducible on any platform.
    Computed via a summed-area table — one cumsum pass + 4 lookups
    per cell instead of per-cell slice reductions (the hash path runs
    per media row inside the Arrow pass; this is its hot loop)."""
    import numpy as np

    h, w = gray.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.int64)
    ii[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    xs = np.array([j * w // cells_w for j in range(cells_w + 1)])
    ys = np.array([i * h // cells_h for i in range(cells_h + 1)])
    corners = ii[np.ix_(ys, xs)]
    sums = (
        corners[1:, 1:]
        - corners[:-1, 1:]
        - corners[1:, :-1]
        + corners[:-1, :-1]
    )
    areas = np.outer(np.diff(ys), np.diff(xs))
    return sums // areas


def _to_signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def ahash64(gray) -> int:
    """Average-hash: 8×8 integer box means, bit b set iff cell b's
    mean exceeds the truncating mean of all 64 cell means (bit index
    = row-major cell index). Invariant under a uniform brightness
    shift that stays in-range: every cell mean and the threshold
    shift by exactly δ (integer means of uniformly shifted pixels),
    so every comparison is unchanged. Returned as a SIGNED 64-bit
    value (Spark LongType two's-complement)."""
    m = _box_means(gray, 8, 8)
    thresh = int(m.sum()) // 64
    h = 0
    for b, val in enumerate(m.ravel()):
        if int(val) > thresh:
            h |= 1 << b
    return _to_signed64(h)


def dhash64(gray) -> int:
    """Difference-hash: 9×8 integer box means, bit (i·8+j) set iff
    cell (i, j+1)'s mean exceeds cell (i, j)'s — horizontal gradient
    signs. Shares the brightness-shift invariance of :func:`ahash64`
    (both means shift by δ exactly). Signed 64-bit."""
    m = _box_means(gray, 9, 8)
    h = 0
    k = 0
    for i in range(8):
        for j in range(8):
            if int(m[i, j + 1]) > int(m[i, j]):
                h |= 1 << k
            k += 1
    return _to_signed64(h)


def perceptual_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-media perceptual hashes via the REAL pixel path: one
    Arrow-batched pass decoding payloads through the
    :func:`decode_pixels` boundary (pure-Python uncompressed-BMP
    decode always; compressed JPEG/PNG/... via the guarded PIL
    branch when a codec library is importable) and emitting
    (id, ahash, dhash). Payloads with no available pixel path emit
    NULL hashes rather than a fake value — no pixel evidence, no
    perceptual claim. Output rows are 24 B — at 100 TB of media the
    hashes shuffle, the pixels never do. The id column keeps its
    incoming name and type."""
    out_schema = StructType(
        [
            media.schema[id_col],
            StructField("ahash", LongType()),
            StructField("dhash", LongType()),
        ]
    )

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            a_out, d_out = [], []
            for raw in pdf[payload_col]:
                gray = (
                    decode_pixels(bytes(raw)) if raw is not None else None
                )
                if gray is None:
                    a_out.append(None)
                    d_out.append(None)
                else:
                    a_out.append(ahash64(gray))
                    d_out.append(dhash64(gray))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "ahash": pd.array(a_out, dtype="Int64"),
                    "dhash": pd.array(d_out, dtype="Int64"),
                }
            )

    return media.mapInPandas(hash_batches, schema=out_schema)


# ------------------------------------------------- real video path
# Uncompressed AVI (RIFF 'AVI ' + LIST hdrl/avih + LIST movi with
# '00db' raw-DIB frames) is pure-Python decodable for the same
# reason uncompressed BMP is: fixed chunk layout, raw bottom-up BGR
# rows. Compressed codecs ('00dc' payloads) stay codec territory.


def parse_avi_header(payload: bytes):
    """REAL AVI main-header parse: returns
    ``(mime, width, height, duration_ms)`` from the ``avih`` chunk
    (duration = µs-per-frame × total-frames), or None for non-AVI
    bytes. Bounded LIST walk, truncation rejected — the probe field
    recovery for video containers without ffmpeg."""
    p = payload
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"AVI ":
        return None
    i = 12
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        clen = int.from_bytes(p[i + 4 : i + 8], "little")
        if cid == b"LIST" and p[i + 8 : i + 12] == b"hdrl":
            j = i + 12
            end = min(i + 8 + clen, len(p))
            while j + 8 <= end:
                sid = p[j : j + 4]
                slen = int.from_bytes(p[j + 4 : j + 8], "little")
                if sid == b"avih":
                    if j + 8 + 40 > len(p):
                        return None  # truncated main header
                    us_per_frame = int.from_bytes(p[j + 8 : j + 12], "little")
                    total_frames = int.from_bytes(
                        p[j + 24 : j + 28], "little"
                    )
                    w = int.from_bytes(p[j + 40 : j + 44], "little")
                    h = int.from_bytes(p[j + 44 : j + 48], "little")
                    return (
                        "video/avi",
                        w,
                        h,
                        us_per_frame * total_frames // 1000,
                    )
                j += 8 + slen + (slen & 1)
            return None
        i += 8 + clen + (clen & 1)
    return None


def decode_avi_frames(payload: bytes):
    """REAL frame decode for AVI: returns the list of grayscale
    frames (``int64`` arrays, BT.601 integer luma) from the ``movi``
    list — ``00db`` raw-DIB chunks (bottom-up BGR rows, 4-byte
    stride, dims from the ``avih`` header) and MJPEG ``00dc`` chunks
    (a standalone baseline JPEG per frame, recognized by its SOI
    magic and decoded with the conformance-verified
    :func:`~tidb_cdc_spark.functions.jpeg.decode_jpeg_pixels`;
    DHT-less "AVI1" frames get the T.81 K.3 fixed tables injected
    via :func:`~tidb_cdc_spark.functions.jpeg.mjpeg_ensure_dht`
    first — the dominant real-world AVI codec). A JPEG frame that
    fails to decode or whose SOF dims disagree with the ``avih``
    header fails the whole container CLOSED (None → the no-pixel-
    evidence path); non-JPEG ``00dc`` payloads stay codec
    territory and are skipped."""
    import numpy as np

    from tidb_cdc_spark.functions.jpeg import (
        decode_jpeg_pixels,
        mjpeg_ensure_dht,
    )

    hdr = parse_avi_header(payload)
    if hdr is None:
        return None
    _, w, h, _ = hdr
    if w <= 0 or h <= 0:
        return None
    stride = (w * 3 + 3) & ~3
    p = payload
    frames = []
    i = 12
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        clen = int.from_bytes(p[i + 4 : i + 8], "little")
        if cid == b"LIST" and p[i + 8 : i + 12] == b"movi":
            j = i + 12
            end = min(i + 8 + clen, len(p))
            while j + 8 <= end:
                fid = p[j : j + 4]
                flen = int.from_bytes(p[j + 4 : j + 8], "little")
                if fid[2:4] == b"db":
                    if flen != stride * h or j + 8 + flen > len(p):
                        return None  # truncated / mis-sized frame
                    arr = np.frombuffer(
                        p, dtype=np.uint8, count=flen, offset=j + 8
                    )
                    arr = (
                        arr.reshape(h, stride)[:, : w * 3]
                        .reshape(h, w, 3)
                        .astype(np.int64)[::-1]  # bottom-up rows
                    )
                    b, g, r = arr[:, :, 0], arr[:, :, 1], arr[:, :, 2]
                    frames.append((r * 299 + g * 587 + b * 114) // 1000)
                elif (
                    fid[2:4] == b"dc"
                    and p[j + 8 : j + 10] == b"\xff\xd8"
                ):
                    if j + 8 + flen > len(p):
                        return None  # truncated MJPEG frame
                    gray = decode_jpeg_pixels(
                        mjpeg_ensure_dht(p[j + 8 : j + 8 + flen])
                    )
                    if gray is None or gray.shape != (h, w):
                        return None  # undecodable / dims disagree
                    frames.append(gray)
                j += 8 + flen + (flen & 1)
            break
        i += 8 + clen + (clen & 1)
    return frames if frames else None


#: per-frame hash rows: the inverted-index format for video near-dup.
def video_frame_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, frame_idx, fhash): per-frame aHash rows via the REAL
    video path — one Arrow pass decoding uncompressed-AVI frames
    (:func:`decode_avi_frames`) or ANIMATED-GIF rendering blocks
    composed to logical-screen snapshots (:func:`decode_gif_frames`
    — the web's actual animation format, routed by magic bytes) and
    hashing each with the shared :func:`ahash64`. Media without a
    pure-Python frame path emit NO rows here (route them through
    the header probe / exact digest paths — no frame evidence, no
    frame claim). Output rows are ~28 B: at 100 TB of video only
    frame hashes shuffle."""
    out_schema = StructType(
        [
            media.schema[id_col],
            StructField("frame_idx", IntegerType()),
            StructField("fhash", LongType()),
        ]
    )

    def fh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hs = [], [], []
            for mid, raw in zip(pdf[id_col], pdf[payload_col]):
                if raw is None:
                    continue
                b = bytes(raw)
                if b[:6] in (b"GIF87a", b"GIF89a"):
                    # animated GIF: composed logical-screen snapshots
                    frames = decode_gif_frames(b)
                elif b[:8] == b"\x89PNG\r\n\x1a\n":
                    # animated PNG: fcTL rects composed per the spec
                    # (a still PNG has no acTL → None → no rows)
                    frames = decode_apng_frames(b)
                elif (
                    len(b) >= 21
                    and b[:4] == b"RIFF"
                    and b[8:12] == b"WEBP"
                    and b[12:16] == b"VP8X"
                    and b[20] & 0x02
                ):
                    # animated WebP: ANMF frames composed per RFC 9649
                    frames = decode_webp_anim_frames(b)
                else:
                    frames = decode_avi_frames(b)
                if not frames:
                    continue
                for k, gray in enumerate(frames):
                    ids.append(mid)
                    idxs.append(k)
                    hs.append(ahash64(gray))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype=pdf[id_col].dtype),
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "fhash": pd.array(hs, dtype="Int64"),
                }
            )

    return media.mapInPandas(fh, schema=out_schema)


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    min_shared_frames: int = 4,
    max_frame_freq: "int | None" = 1000,
) -> DataFrame:
    """(id_a, id_b, shared_frames): video near-duplicate pairs —
    videos sharing ≥ ``min_shared_frames`` DISTINCT frame hashes,
    the shot-level containment test that catches trims, re-muxes,
    and brightness-normalized re-encodes (per-frame aHash is
    shift-invariant) without any all-pairs comparison.

    Plan: distinct (id, fhash) → self-equi-join on the frame hash
    (the inverted index — per-hash fan-out bounded by
    ``max_frame_freq``, the viral-frame guard: a black frame or a
    studio logo card appears in MILLIONS of videos and would alone
    re-create the quadratic; same contract as the text ops'
    ``max_doc_freq``) → pair-count aggregate ≥ threshold. Linear in
    total frames; ids-only through the shuffle."""
    fh = frame_hashes.select(
        F.col(id_col).alias("_id"), F.col("fhash").alias("_fh")
    ).distinct()
    if max_frame_freq is not None:
        from pyspark.sql import Window

        from tidb_cdc_spark.functions.dedup import _materialize

        fh = _materialize(
            fh.withColumn(
                "_ff", F.count(F.lit(1)).over(Window.partitionBy("_fh"))
            )
            .filter(F.col("_ff") <= max_frame_freq)
            .drop("_ff")
        )
    left = fh.select(F.col("_id").alias("id_a"), "_fh")
    right = fh.select(F.col("_id").alias("id_b"), "_fh")
    return (
        left.join(right, "_fh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared_frames)
    )


def video_frame_cap_report(
    frame_hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "fhash",
    max_frame_freq: int = 1000,
) -> DataFrame:
    """One-row audit of what :func:`video_near_dup_pairs`'s
    ``max_frame_freq`` viral-frame guard EXCLUDES — the video member
    of the no-silent-caps family (``winnow_cap_report`` template):
    ``(capped_fhashes, affected_media, total_fhashes, max_freq)``
    over the distinct ``(media, frame-hash)`` inverted index the
    pair join runs on. ``affected_media`` counts videos holding ≥1
    over-cap frame hash — for those, shared-frame counts (and hence
    the ≥``min_shared_frames`` containment test) run over a reduced
    frame set. A run reads this row next to the pair list to see
    which slice of the catalog the shot-level guarantee is weakened
    for (black frames, logo cards). Cost: the same distinct +
    frame-frequency pass the guarded join already runs; the viral
    list is tiny at any scale."""
    from tidb_cdc_spark.session import materialize

    # materialized twice over: fh feeds the frequency agg AND the
    # affected-media semi-join, freq feeds the stats AND the viral
    # list — without this the upstream synth/decode Arrow chain runs
    # once per consumer (measured 7.5 s → 0.34 s on the audit plant)
    fh = materialize(
        frame_hashes.select(
            F.col(id_col).alias("_id"), F.col(hash_col).alias("_fh")
        ).distinct()
    )
    freq = materialize(
        fh.groupBy("_fh").agg(F.count(F.lit(1)).alias("_ff"))
    )
    stats = freq.agg(
        F.count(F.when(F.col("_ff") > max_frame_freq, F.lit(1))).alias(
            "capped_fhashes"
        ),
        F.count(F.lit(1)).alias("total_fhashes"),
        F.coalesce(F.max("_ff"), F.lit(0)).cast("long").alias("max_freq"),
    )
    viral = freq.filter(F.col("_ff") > max_frame_freq).select("_fh")
    affected = fh.join(F.broadcast(viral), "_fh", "left_semi").agg(
        F.count_distinct("_id").alias("affected_media")
    )
    return stats.crossJoin(F.broadcast(affected)).select(
        "capped_fhashes", "affected_media", "total_fhashes", "max_freq"
    )


def synth_avi_media(
    ids: DataFrame,
    id_col: str = "media_id",
    base_col: str = "base",
    skip_col: str = "skip",
    shift_col: str = "shift",
    n_frames: int = 8,
    width: int = 16,
    height: int = 16,
    us_per_frame: int = 40_000,
) -> DataFrame:
    """Plant REAL uncompressed AVIs whose FRAMES are fixed integer
    formulas — the video twin of ``synth_bmp_pixel_media``: the
    video for row (base ``B``, skip ``s``, shift δ) carries frames
    ``f ∈ [s, n_frames)``, and frame f is an 8×8 block pattern over
    a 16-BIT pattern word ``v = 1 + (B·n_frames + f) % 65534``
    (block (bx, by) bright iff bit ``(by·8+bx) % 16`` of v), so each
    frame's :func:`ahash64` is PROVABLY v's 16 bits replicated ×4 —
    injective in v (hence in (B, f) while B·n_frames + f < 65534),
    ≥4-bit cross-frame margin, and invariant under the uniform
    brightness shift δ. ``skip=1`` plants the TRIMMED copy (first
    frame dropped — different bytes, n−1 shared frame hashes), the
    video-specific transform exact dedup cannot catch.

    The container is real: RIFF 'AVI ' + LIST hdrl (avih with
    µs-per-frame, total-frames, dims) + LIST movi ('00db' raw-DIB
    bottom-up BGR frames) — so ``parse_avi_header`` recovers
    duration = 40 ms × frames and the dims under the same oracle.
    Payloads are pure functions of (B, s, δ); metadata NULL.
    ≤512-row yields (the Arrow batch-size discipline)."""
    import struct

    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(base_col).cast("long").alias("_b"),
        F.col(skip_col).cast("int").alias("_s"),
        F.col(shift_col).cast("int").alias("_d"),
    )

    def _cells(n: int) -> "np.ndarray":
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = _cells(width), _cells(height)
    bit_idx = (yb[:, None] * 8 + xb[None, :]) % 16
    stride = (width * 3 + 3) & ~3
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, base, skip, d in zip(
                    seg["media_id"], seg["_b"], seg["_s"], seg["_d"]
                ):
                    mid, base, skip, d = int(mid), int(base), int(skip), int(d)
                    movi = b"movi"
                    nf = 0
                    for f in range(skip, n_frames):
                        v = 1 + (base * n_frames + f) % 65534
                        gray = np.where((v >> bit_idx) & 1, 180, 60) + d
                        body = np.zeros((height, stride), dtype=np.uint8)
                        body[:, : width * 3] = np.repeat(
                            gray[::-1].astype(np.uint8), 3, axis=1
                        )
                        data = body.tobytes()
                        movi += b"00db" + struct.pack("<I", len(data)) + data
                        nf += 1
                    avih = (
                        struct.pack("<I", us_per_frame)
                        + b"\x00" * 12
                        + struct.pack("<I", nf)
                        + b"\x00" * 12
                        + struct.pack("<II", width, height)
                        + b"\x00" * 16
                    )
                    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
                    body = (
                        b"AVI "
                        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
                        + b"LIST" + struct.pack("<I", len(movi)) + movi
                    )
                    payload = b"RIFF" + struct.pack("<I", len(body)) + body
                    rows.append(
                        (mid, "video", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


def synth_mjpeg_avi_media(
    ids: DataFrame,
    id_col: str = "media_id",
    base_col: str = "base",
    skip_col: str = "skip",
    shift_col: str = "shift",
    strip_col: str = "strip",
    n_frames: int = 8,
    size: int = 64,
    us_per_frame: int = 40_000,
) -> DataFrame:
    """Plant REAL MJPEG AVIs — the compressed twin of
    :func:`synth_avi_media`: same RIFF 'AVI ' container, but every
    ``movi`` chunk is ``00dc`` carrying a standalone baseline JPEG
    coded with the T.81 K.3 standard tables
    (``encode_jpeg(..., tables="standard")``). Frames are 64×64 with
    8×8-PIXEL cells ALIGNED to JPEG blocks, so every block is flat
    and the quant-step-1 round trip is BIT-EXACT — the planted hash
    lemma carries over unchanged from the uncompressed twin: frame
    ``f`` of base ``B`` renders pattern word
    ``v = 1 + (B·n_frames + f) % 65534`` (block (bx, by) bright iff
    bit ``(by·8+bx) % 16``), so each frame's :func:`ahash64` is
    provably v's 16 bits replicated ×4, injective in (B, f) and
    invariant under the brightness shift δ.

    ``skip=1`` plants the TRIMMED copy (first frame dropped);
    ``strip=1`` plants the DHT-LESS "AVI1" frame form (different
    bytes, identical pixels — decodable only through the
    :func:`~tidb_cdc_spark.functions.jpeg.mjpeg_ensure_dht` K.3
    injection, so a matching frame hash certifies that path).
    Payloads are pure functions of (B, s, δ, strip); ≤512-row
    yields (the Arrow batch-size discipline)."""
    import struct

    import numpy as np

    from tidb_cdc_spark.functions.jpeg import encode_jpeg, mjpeg_strip_dht

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(base_col).cast("long").alias("_b"),
        F.col(skip_col).cast("int").alias("_s"),
        F.col(shift_col).cast("int").alias("_d"),
        F.col(strip_col).cast("int").alias("_t"),
    )

    cell = np.arange(size) // 8  # 8-px cells == JPEG block grid
    bit_idx = (cell[:, None] * 8 + cell[None, :]) % 16
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, base, skip, d, strip in zip(
                    seg["media_id"], seg["_b"], seg["_s"],
                    seg["_d"], seg["_t"],
                ):
                    mid, base, skip, d, strip = (
                        int(mid), int(base), int(skip), int(d), int(strip)
                    )
                    movi = b"movi"
                    nf = 0
                    for f in range(skip, n_frames):
                        v = 1 + (base * n_frames + f) % 65534
                        gray = np.where((v >> bit_idx) & 1, 180, 60) + d
                        data = encode_jpeg(gray, tables="standard")
                        if strip:
                            data = mjpeg_strip_dht(data)
                        movi += (
                            b"00dc" + struct.pack("<I", len(data)) + data
                        )
                        if len(data) & 1:
                            movi += b"\x00"  # RIFF word alignment
                        nf += 1
                    avih = (
                        struct.pack("<I", us_per_frame)
                        + b"\x00" * 12
                        + struct.pack("<I", nf)
                        + b"\x00" * 12
                        + struct.pack("<II", size, size)
                        + b"\x00" * 16
                    )
                    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
                    body = (
                        b"AVI "
                        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
                        + b"LIST" + struct.pack("<I", len(movi)) + movi
                    )
                    payload = b"RIFF" + struct.pack("<I", len(body)) + body
                    rows.append(
                        (mid, "video", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


def synth_gif_anim_media(
    ids: DataFrame,
    id_col: str = "media_id",
    base_col: str = "base",
    skip_col: str = "skip",
    shift_col: str = "shift",
    n_frames: int = 8,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Plant REAL ANIMATED GIFs carrying the SAME per-frame formula
    as :func:`synth_avi_media` (frame f of base B is the 8×8 block
    pattern of the 16-bit word ``v = 1 + (B·n_frames + f) % 65534``,
    bright 180+δ / dark 60+δ), but DELTA-ENCODED the way real
    optimizing GIF encoders work: the first emitted frame is a full
    keyframe, every later frame a transparent-patched full-size
    block where only CHANGED pixels carry palette entries (the rest
    are the GCE transparent index, so the decoder must compose onto
    the previous canvas to recover the planted pattern — a frame
    hash is only right if the GIF89a transparency machinery is).
    ``skip=1`` plants the TRIMMED copy (first frame dropped —
    byte-different stream whose keyframe is frame 1; n−1 shared
    composed-frame hashes). Payloads are pure functions of
    (B, s, δ); metadata NULL; ≤512-row yields."""
    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(base_col).cast("long").alias("_b"),
        F.col(skip_col).cast("int").alias("_s"),
        F.col(shift_col).cast("int").alias("_d"),
    )

    def _cells(n: int) -> "np.ndarray":
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = _cells(width), _cells(height)
    bit_idx = (yb[:, None] * 8 + xb[None, :]) % 16
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, base, skip, d in zip(
                    seg["media_id"], seg["_b"], seg["_s"], seg["_d"]
                ):
                    mid, base, skip, d = int(mid), int(base), int(skip), int(d)
                    blocks = []
                    prev = None
                    for f in range(skip, n_frames):
                        v = 1 + (base * n_frames + f) % 65534
                        gray = np.where((v >> bit_idx) & 1, 180, 60) + d
                        if prev is None:
                            blocks.append((gray, 0, 0, 1))
                        else:
                            delta = np.where(gray != prev, gray, -1)
                            blocks.append((delta, 0, 0, 1))
                        prev = gray
                    payload = _encode_gif_anim(blocks)
                    rows.append(
                        (mid, "video", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


def synth_webp_anim_media(
    ids: DataFrame,
    id_col: str = "media_id",
    base_col: str = "base",
    skip_col: str = "skip",
    shift_col: str = "shift",
    n_frames: int = 8,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Plant REAL ANIMATED WebPs carrying the shared per-frame
    formula (:func:`synth_avi_media`'s 16-bit words) the way a real
    muxer does: frame 0 a full-canvas VP8L keyframe, every later
    frame the CHANGED region's bounding rect only (offsets snapped
    to the ANMF 2-px grid), no-blend replace semantics — so the
    composed canvas equals the planted pattern iff the rect
    placement and the per-ANMF VP8L decode are both right.
    ``skip=1`` plants the TRIMMED copy (keyframe becomes frame 1);
    shift δ rides every pixel. Pure function of (B, s, δ)."""
    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(base_col).cast("long").alias("_b"),
        F.col(skip_col).cast("int").alias("_s"),
        F.col(shift_col).cast("int").alias("_d"),
    )

    def _cells(n: int) -> "np.ndarray":
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = _cells(width), _cells(height)
    bit_idx = (yb[:, None] * 8 + xb[None, :]) % 16
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, base, skip, d in zip(
                    seg["media_id"], seg["_b"], seg["_s"], seg["_d"]
                ):
                    mid, base, skip, d = int(mid), int(base), int(skip), int(d)
                    specs = []
                    prev = None
                    for f in range(skip, n_frames):
                        v = 1 + (base * n_frames + f) % 65534
                        gray = np.where((v >> bit_idx) & 1, 180, 60) + d
                        if prev is None:
                            specs.append((gray, 40))
                        else:
                            ys, xs = np.nonzero(gray != prev)
                            if len(ys) == 0:
                                specs.append((gray[:2, :2], 40, 0, 0, 2))
                            else:
                                y0 = int(ys.min()) & ~1
                                x0 = int(xs.min()) & ~1
                                y1, x1 = int(ys.max()) + 1, int(xs.max()) + 1
                                specs.append(
                                    (
                                        gray[y0:y1, x0:x1],
                                        40, x0, y0, 2,  # no-blend
                                    )
                                )
                        prev = gray
                    payload = _encode_webp_anim(specs, width, height)
                    rows.append(
                        (mid, "video", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


def synth_apng_anim_media(
    ids: DataFrame,
    id_col: str = "media_id",
    base_col: str = "base",
    skip_col: str = "skip",
    shift_col: str = "shift",
    n_frames: int = 8,
    width: int = 16,
    height: int = 16,
) -> DataFrame:
    """Plant REAL ANIMATED PNGs carrying the SAME per-frame formula
    as the GIF/WebP animation synths (frame f of base B renders the
    16-bit word ``v = 1 + (B·n_frames + f) % 65534``), DELTA-encoded
    the way real APNG optimizers work: the first emitted frame is a
    full keyframe (riding IDAT — the default image participates),
    every later frame a changed-region fcTL sub-rect in fdAT chunks
    (dispose none, blend source), so a composed frame hash is only
    right if the fcTL rect placement, sequence validation, and the
    per-frame zlib rewrap all are. ``skip=1`` plants the TRIMMED
    copy (first frame dropped — byte-different stream whose keyframe
    is frame 1; n−1 shared composed hashes). Payloads are pure
    functions of (B, s, δ); metadata NULL; ≤512-row yields."""
    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(base_col).cast("long").alias("_b"),
        F.col(skip_col).cast("int").alias("_s"),
        F.col(shift_col).cast("int").alias("_d"),
    )

    def _cells(n: int) -> "np.ndarray":
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = _cells(width), _cells(height)
    bit_idx = (yb[:, None] * 8 + xb[None, :]) % 16
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, base, skip, d in zip(
                    seg["media_id"], seg["_b"], seg["_s"], seg["_d"]
                ):
                    mid, base, skip, d = int(mid), int(base), int(skip), int(d)
                    specs = []
                    prev = None
                    for f in range(skip, n_frames):
                        v = 1 + (base * n_frames + f) % 65534
                        gray = np.where((v >> bit_idx) & 1, 180, 60) + d
                        if prev is None:
                            specs.append((gray, 0, 0, 0, 0))
                        else:
                            ys, xs = np.nonzero(gray != prev)
                            if len(ys) == 0:
                                specs.append((gray[:1, :1], 0, 0, 0, 0))
                            else:
                                y0, x0 = int(ys.min()), int(xs.min())
                                y1, x1 = int(ys.max()) + 1, int(xs.max()) + 1
                                specs.append(
                                    (gray[y0:y1, x0:x1], x0, y0, 0, 0)
                                )
                        prev = gray
                    payload = _encode_apng(specs, width, height)
                    rows.append(
                        (mid, "video", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


# ------------------------------------------------ real sample path
# Uncompressed 16-bit PCM WAV is decodable in pure Python/numpy for
# the same reason uncompressed BMP is: fixed RIFF chunk layout, raw
# samples. This gives audio the same real chain images got —
# decode → integer fingerprint → banded near-dup — with compressed
# codecs (MP3/AAC/...) staying codec territory.


def _g711_luts():
    """The 256-entry G.711 expansion tables, computed from the
    ITU-T formulas (the classic public-domain g711.c derivation):
    µ-law — invert, mantissa<<3 + bias 0x84, shift by segment, bias
    removed, sign from bit 7; A-law — XOR 0x55, 4-bit mantissa,
    segment cases 0/1/n with the 0x108 offset, bit 7 = positive.
    Conformance-pinned against stdlib ``audioop`` where importable
    (tests/test_llm_media.py guards it)."""
    import numpy as np

    u = np.arange(256)
    uu = ~u & 0xFF
    t = (((uu & 0x0F) << 3) + 0x84) << ((uu & 0x70) >> 4)
    ulaw = np.where(uu & 0x80, 0x84 - t, t - 0x84).astype(np.int64)
    a = np.arange(256) ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, np.where(seg == 1, t + 0x108,
                 (t + 0x108) << np.maximum(seg - 1, 0)))
    alaw = np.where(a & 0x80, t, -t).astype(np.int64)
    return ulaw, alaw


_ULAW_LUT, _ALAW_LUT = _g711_luts()


def _g711_encode(x, lut):
    """FIXTURE encoder: nearest-representable quantization against
    the expansion table (argmin over 256 codes — the optimal
    quantizer; the decode side is the op under test). Vectorized;
    decode(encode(x)) is the closest expandable value to x."""
    import numpy as np

    x = np.asarray(x, dtype=np.int64)
    return np.abs(lut[None, :] - x[:, None]).argmin(axis=1).astype(np.uint8)


# IMA/DVI ADPCM (WAV format tag 0x11) — the classic 4-bit adaptive
# differential codec game and telephony WAVs carry. The step/index
# tables are the standard IMA ADPCM reference tables; they and the
# shift-add difference reconstruction are conformance-pinned against
# stdlib ``audioop.adpcm2lin`` (the same algorithm without WAV block
# framing) over EVERY (start index × nibble) pair where importable
# (tests/test_audio_fp.py).

_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_decode_core(nibbles, pred: int, index: int):
    """One channel's IMA ADPCM recurrence: 4-bit codes → int16
    samples from (predictor, step index) state. The shift-add
    difference form (step>>3 base, +step/+step>>1/+step>>2 by
    magnitude bits) is the reference integer implementation — the
    one audioop uses too. Sequential by nature (the step adapts on
    every sample); per-block Python loop, cost ∝ samples."""
    step_t, idx_t = _IMA_STEP_TABLE, _IMA_INDEX_TABLE
    out = []
    for nib in nibbles:
        nib = int(nib)
        step = step_t[index]
        index += idx_t[nib & 7]
        index = 0 if index < 0 else (88 if index > 88 else index)
        diff = step >> 3
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step >> 1
        if nib & 1:
            diff += step >> 2
        pred = pred - diff if nib & 8 else pred + diff
        pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
        out.append(pred)
    return out, pred, index


def _ima_adpcm_decode(data: bytes, channels: int, block_align: int,
                      samples_per_block: "int | None"):
    """WAV IMA ADPCM block structure → interleaved int64 samples:
    each ``block_align``-byte block opens with a 4-byte header per
    channel (int16 predictor — emitted as the block's first sample —
    uint8 step index, reserved), then 4-byte-per-channel nibble
    groups (8 samples each, LOW nibble first) interleaved
    channel-major. A short FINAL block is accepted if its groups are
    whole; any other misalignment, an out-of-range step index, or a
    truncated header returns None — no fabricated samples."""
    import struct

    import numpy as np

    if channels < 1 or block_align <= 4 * channels:
        return None
    chunks = []
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        if len(block) < 4 * channels:
            return None  # truncated header
        preds, idxs = [], []
        for c in range(channels):
            pred = struct.unpack_from("<h", block, 4 * c)[0]
            index = block[4 * c + 2]
            if index > 88:
                return None
            preds.append(pred)
            idxs.append(index)
        body = block[4 * channels :]
        if len(body) % (4 * channels):
            return None  # partial nibble group
        per_ch = [[p] for p in preds]  # header predictor = sample 0
        for g in range(0, len(body), 4 * channels):
            for c in range(channels):
                quad = body[g + 4 * c : g + 4 * (c + 1)]
                nibs = []
                for byte in quad:
                    nibs.append(byte & 0x0F)  # low nibble first
                    nibs.append(byte >> 4)
                out, preds[c], idxs[c] = _ima_decode_core(
                    nibs, preds[c], idxs[c]
                )
                per_ch[c].extend(out)
        n = min(len(s) for s in per_ch)
        if samples_per_block is not None:
            n = min(n, samples_per_block)
        arr = np.empty(n * channels, dtype=np.int64)
        for c in range(channels):
            arr[c::channels] = per_ch[c][:n]
        chunks.append(arr)
    if not chunks:
        return None
    return np.concatenate(chunks)


def _ima_encode_core(samples, pred: int, index: int):
    """FIXTURE encoder: the canonical greedy IMA quantizer — choose
    the magnitude bits top-down against the current step, then
    update (predictor, index) with the DECODER's own reconstruction
    so encoder and decoder state never drift. Returns (nibbles,
    pred, index)."""
    step_t, idx_t = _IMA_STEP_TABLE, _IMA_INDEX_TABLE
    nibbles = []
    for s in samples:
        s = int(s)
        step = step_t[index]
        delta = s - pred
        nib = 8 if delta < 0 else 0
        mag = -delta if delta < 0 else delta
        if mag >= step:
            nib |= 4
            mag -= step
        if mag >= step >> 1:
            nib |= 2
            mag -= step >> 1
        if mag >= step >> 2:
            nib |= 1
        nibbles.append(nib)
        diff = step >> 3
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step >> 1
        if nib & 1:
            diff += step >> 2
        pred = pred - diff if nib & 8 else pred + diff
        pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
        index += idx_t[nib & 7]
        index = 0 if index < 0 else (88 if index > 88 else index)
    return nibbles, pred, index


def _ima_encode_block(samples, block_align: int) -> bytes:
    """FIXTURE: one mono IMA block — sample 0 exact in the header
    (predictor, start index 0), the rest quantized; nibbles packed
    LOW-first, padded with 0-nibbles to the block size."""
    import struct

    s = [int(v) for v in samples]
    hdr = struct.pack("<hBB", s[0], 0, 0)
    nibbles, _, _ = _ima_encode_core(s[1:], s[0], 0)
    want = (block_align - 4) * 2
    nibbles = nibbles + [0] * (want - len(nibbles))
    body = bytearray()
    for k in range(0, len(nibbles), 2):
        body.append(nibbles[k] | (nibbles[k + 1] << 4))
    return hdr + bytes(body)


def decode_wav_samples(payload: bytes):
    """REAL sample decode for RIFF/WAVE audio in the pure-Python
    envelope: 16-bit linear PCM (format 1), the G.711 telephony
    codings — 8-bit µ-law (format 7) and A-law (format 6) — expanded
    to linear through the 256-entry ITU-T tables (``_g711_luts``),
    and IMA/DVI ADPCM (format 0x11, the 4-bit adaptive differential
    coding game and telephony WAVs carry) decoded through the
    standard step/index tables with WAV block framing
    (``_ima_adpcm_decode``) — so a companded OR ADPCM re-encode of a
    clip fingerprints like its PCM twin. Returns the samples as an
    ``int64`` numpy array (multi-channel averaged to mono with
    truncating integer division), or ``None`` outside the envelope
    (other compressed audio keeps its header-only probe). Truncated
    data chunks are rejected — no fabricated samples."""
    import struct

    import numpy as np

    p = payload
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        return None
    i, fmt, fmt_ext, data = 12, None, b"", None
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        clen = int.from_bytes(p[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 8 + 16 <= len(p):
            fmt = struct.unpack_from("<HHIIHH", p, i + 8)
            fmt_ext = p[i + 8 + 16 : min(i + 8 + clen, len(p))]
        elif cid == b"data":
            if i + 8 + clen > len(p):
                return None  # truncated sample data
            data = p[i + 8 : i + 8 + clen]
        i += 8 + clen + (clen & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, channels, _rate, _brate, _align, bits = fmt
    if channels < 1:
        return None
    if audio_format == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.int64)
    elif audio_format == 7 and bits == 8:  # µ-law
        x = _ULAW_LUT[np.frombuffer(data, dtype=np.uint8)]
    elif audio_format == 6 and bits == 8:  # A-law
        x = _ALAW_LUT[np.frombuffer(data, dtype=np.uint8)]
    elif audio_format == 0x11 and bits == 4:  # IMA/DVI ADPCM
        spb = (
            struct.unpack_from("<H", fmt_ext, 2)[0]
            if len(fmt_ext) >= 4
            else None  # cbSize + wSamplesPerBlock extension absent
        )
        x = _ima_adpcm_decode(data, channels, _align, spb)
        if x is None:
            return None
    else:
        return None
    if channels > 1:
        x = x[: len(x) // channels * channels]
        x = x.reshape(-1, channels).sum(axis=1) // channels
    return x


def audio_fingerprint64(samples) -> int:
    """Energy aHash over PCM samples: 64 equal frames, bit k set iff
    frame k's truncating mean |amplitude| exceeds the truncating
    mean of all 64 frame energies. The audio analog of
    :func:`ahash64` — invariant under clipping-free amplitude
    scaling (every frame energy and the threshold scale together) —
    computed with the same integer box-mean helper. Signed 64-bit."""
    import numpy as np

    m = _box_means(np.abs(samples)[None, :], 64, 1).ravel()
    thresh = int(m.sum()) // 64
    h = 0
    for k, val in enumerate(m):
        if int(val) > thresh:
            h |= 1 << k
    return _to_signed64(h)


def audio_fingerprints(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-media audio fingerprints via the REAL sample path: one
    Arrow-batched pass decoding 16-bit PCM WAV payloads
    (:func:`decode_wav_samples`) and emitting (id, afp). Payloads
    without a pure-Python sample path emit NULL — no fake values
    (swap the decoder for ffmpeg where codecs exist). Near-dup pairs
    over the fingerprint reuse :func:`phash_near_dup_pairs`
    (any 64-bit hash column)."""
    out_schema = StructType(
        [media.schema[id_col], StructField("afp", LongType())]
    )

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for raw in pdf[payload_col]:
                x = decode_wav_samples(bytes(raw)) if raw is not None else None
                out.append(None if x is None or not len(x) else audio_fingerprint64(x))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "afp": pd.array(out, dtype="Int64"),
                }
            )

    return media.mapInPandas(fp_batches, schema=out_schema)


def synth_wav_pcm_media(
    ids: DataFrame,
    id_col: str = "media_id",
    pattern_col: str = "pattern",
    gain_col: str = "gain",
    frames: int = 64,
    samples_per_frame: int = 32,
    codec_col: "str | None" = None,
) -> DataFrame:
    """Plant REAL 16-bit PCM WAV payloads whose SAMPLES are a fixed
    integer formula of a pattern byte ``v`` (1..254) and an integer
    ``gain`` — the audio twin of ``synth_bmp_pixel_media``: frame f
    is a zero-DC square wave of amplitude ``(180 if bit (f%8) of v
    else 60) · gain``, so :func:`audio_fingerprint64` PROVABLY
    equals ``v``'s bits replicated across the 64 frames (injective,
    ≥8-bit cross-pattern Hamming margin, gain-invariant — gains up
    to 182 stay inside int16). Payloads are a pure function of
    (v, gain); metadata is NULL (the probe recovers duration from
    the real RIFF fields). Output yielded in ≤1024-row frames
    (~4 KB payloads — the Arrow batch-size discipline from the BMP
    synth).

    ``codec_col`` (optional) names a column of "pcm16" / "ulaw" /
    "alaw" / "adpcm": the SAME sample formula stored as 16-bit
    linear PCM (format 1), G.711-companded 8-bit (formats 7 / 6,
    fixture nearest-representable encode), or IMA ADPCM 4-bit
    (format 0x11, canonical greedy quantizer, one block per clip) —
    byte-disjoint tellings of one signal whose fingerprints must
    collapse (verified over all 254 patterns × gains 1 and 3: both
    G.711 laws AND the ADPCM leg, 0 mismatches each)."""
    import struct

    import numpy as np

    cols = [
        F.col(id_col).cast("long").alias("media_id"),
        F.col(pattern_col).cast("int").alias("_v"),
        F.col(gain_col).cast("int").alias("_g"),
    ]
    if codec_col is not None:
        cols.append(F.col(codec_col).cast("string").alias("_c"))
    slim = ids.select(*cols)
    n = frames * samples_per_frame
    sign = np.where(np.arange(n) % 2 == 0, 1, -1).astype(np.int64)
    frame_bit = (np.arange(n) // samples_per_frame) % 8
    fmt16 = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    fmt_g711 = {
        "ulaw": struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8),
        "alaw": struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8),
    }
    # IMA ADPCM: one block per clip (sample 0 exact in the header,
    # the rest 4-bit quantized), fmt extension carries
    # wSamplesPerBlock so the trailing pad nibble is truncated
    ba_adpcm = 4 + n // 2
    fmt_adpcm = struct.pack(
        "<HHIIHHHH", 0x11, 1, 8000, 8000 * ba_adpcm // n, ba_adpcm, 4, 2, n
    )
    chunk = 1024

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                codecs = (
                    seg["_c"] if codec_col is not None
                    else ["pcm16"] * len(seg)
                )
                for mid, v, g, c in zip(
                    seg["media_id"], seg["_v"], seg["_g"], codecs
                ):
                    mid, v, g = int(mid), int(v), int(g)
                    x = np.where((v >> frame_bit) & 1, 180, 60) * g * sign
                    if c == "pcm16":
                        fmt, pcm = fmt16, x.astype("<i2").tobytes()
                    elif c in fmt_g711:
                        lut = _ULAW_LUT if c == "ulaw" else _ALAW_LUT
                        fmt = fmt_g711[c]
                        pcm = _g711_encode(x, lut).tobytes()
                    elif c == "adpcm":
                        fmt = fmt_adpcm
                        pcm = _ima_encode_block(x, ba_adpcm)
                    else:
                        raise ValueError(f"unknown wav codec: {c!r}")
                    body = (
                        b"WAVE"
                        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                        + b"data" + struct.pack("<I", len(pcm)) + pcm
                    )
                    payload = b"RIFF" + struct.pack("<I", len(body)) + body
                    rows.append(
                        (mid, "audio", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    max_hamming: int = 3,
    max_bucket_size: "int | None" = 1000,
) -> DataFrame:
    """Perceptual near-duplicate pairs over a 64-bit image hash —
    the LAION-pipeline fuzzy twin of the exact payload dedup
    (``queries/media.py::multimodal_dedup_audit``): (id_a, id_b,
    hamming) for every pair within ``max_hamming`` bits.

    The pair join IS :func:`tidb_cdc_spark.functions.dedup.
    simhash_pairs_from_sigs` — Manku permuted tables over the hash,
    linear in corpus size — because a perceptual hash and a SimHash
    pose the identical banded-Hamming-join problem; only the
    signature differs. NULL hashes (undecodable payloads) are
    screened out first. ``max_bucket_size`` is the viral-family skew
    guard (same contract as the text ops); pass ``None`` when the
    workload's duplicate families are the signal being measured."""
    from tidb_cdc_spark.functions.dedup import simhash_pairs_from_sigs

    sig = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_sh")
    )
    return simhash_pairs_from_sigs(
        sig, max_hamming=max_hamming, max_bucket_size=max_bucket_size
    )


def phash_cap_report(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "ahash",
    max_hamming: int = 3,
    blocks: int = 6,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """One-row audit of what :func:`phash_near_dup_pairs`'s
    ``max_bucket_size`` skew guard EXCLUDES — the perceptual-hash
    member of the repo's no-silent-caps family
    (``functions/winnow.py::winnow_cap_report`` is the template):
    ``(capped_buckets, affected_media, blinded_media, total_buckets,
    max_bucket)`` over the SAME Manku permuted-table buckets the
    pair join keys on.

    ``affected_media`` counts media sitting in ≥1 oversized
    ``(table, key)`` bucket — their recall is degraded (some clean-
    block tables dropped). ``blinded_media`` counts media whose
    EVERY table bucket is oversized — these are fully invisible to
    the banded join (the only way a true pair is lost, per
    ``simhash_pairs_from_sigs``'s contract: all of a pair's
    clean-block tables oversized ⇒ both sides inside a ≥cap-sized
    mutual near-dup family). A curation run reads this row next to
    the pair list to see exactly which recall statement it still
    has.

    Cost: the identical explode + bucket-count window pass the
    guarded pair join already runs, minus the self-join — linear in
    n, ids and two longs through the shuffle. The per-id
    oversized-membership count is a second window over the SAME
    explode output (each id appears exactly once per table)."""
    from math import comb

    from pyspark.sql import Window

    from tidb_cdc_spark.functions.dedup import manku_table_keys

    n_tables = comb(blocks, blocks - max_hamming)
    sig = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_sh")
    )
    from tidb_cdc_spark.session import materialize

    # materialized: the bucket stats AND the per-id oversized count
    # both consume the exploded keys — without this the upstream
    # hash/decode chain runs once per consumer
    keyed = materialize(
        manku_table_keys(
            sig, max_hamming=max_hamming, blocks=blocks
        ).withColumn(
            "_bs",
            F.count(F.lit(1)).over(Window.partitionBy("_table", "_key")),
        )
    )
    buckets = keyed.groupBy("_table", "_key").agg(
        F.first("_bs").alias("_bs")
    )
    stats = buckets.agg(
        F.count(F.when(F.col("_bs") > max_bucket_size, F.lit(1))).alias(
            "capped_buckets"
        ),
        F.count(F.lit(1)).alias("total_buckets"),
        F.coalesce(F.max("_bs"), F.lit(0)).cast("long").alias("max_bucket"),
    )
    per_id = keyed.groupBy("_id").agg(
        F.count(
            F.when(F.col("_bs") > max_bucket_size, F.lit(1))
        ).alias("_over")
    )
    impact = per_id.agg(
        F.count(F.when(F.col("_over") > 0, F.lit(1))).alias(
            "affected_media"
        ),
        F.count(F.when(F.col("_over") == n_tables, F.lit(1))).alias(
            "blinded_media"
        ),
    )
    return stats.crossJoin(F.broadcast(impact)).select(
        "capped_buckets",
        "affected_media",
        "blinded_media",
        "total_buckets",
        "max_bucket",
    )


def synth_bmp_pixel_media(
    ids: DataFrame,
    id_col: str = "media_id",
    pattern_col: str = "pattern",
    shift_col: str = "shift",
    width: int = 70,
    height: int = 64,
) -> DataFrame:
    """Plant REAL uncompressed 24-bpp BMPs whose PIXELS are a fixed
    integer formula of a pattern byte ``v`` (column ``pattern_col``,
    use 1..254) and a brightness shift δ (``shift_col``) — the pixel
    twin of ``synth_image_media``'s header plants, and the audit
    source for the perceptual-hash chain (queries/media.py):

    - the image is an 8×8 block pattern aligned with the aHash
      downsample grid: block (bx, by) is bright (180+δ) iff bit
      ``(by·8+bx) % 8`` of ``v`` is set, else dark (60+δ) — so
      ``ahash64`` PROVABLY equals ``v``'s bits replicated across the
      64 cells: injective in ``v``, any two distinct patterns differ
      in ≥8 hash bits (every flipped v-bit flips 8 replicated cells —
      the cross-cluster Hamming margin), and a uniform δ cannot flip
      any comparison (60..200 stays in-range, no clamping);
    - rows are stored top-down (negative height) for odd ``v``,
      bottom-up for even — both row orders under the oracle;
    - width 70 forces a 2-byte row-stride pad, so the padding path
      is always exercised.

    Payloads are a pure function of (v, δ): identical plants ⇒
    identical bytes; shifted plants ⇒ different bytes, same
    perceptual hash. Metadata is NULL (the probe/decoder must
    recover everything from the bytes)."""
    import struct

    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(pattern_col).cast("int").alias("_v"),
        F.col(shift_col).cast("int").alias("_d"),
    )

    # cell-index lookup per pixel coordinate, matching _box_means's
    # boundaries exactly (i·n//8 ≤ x < (i+1)·n//8)
    def _cells(n: int) -> "np.ndarray":
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = _cells(width), _cells(height)
    bit_idx = (yb[:, None] * 8 + xb[None, :]) % 8
    # width 70 → stride 212 with a 2-byte pad per row, carried by the
    # zero-initialized body array
    stride = (width * 3 + 3) & ~3
    file_size = 54 + stride * height

    # yield in ≤512-row frames: each output row carries a ~13.6 KB
    # payload, and one yielded pandas frame becomes (at least) one
    # Arrow record batch — at the session default of 10k rows/batch a
    # payload batch is ~136 MB PER CORE, which measured 7× slower end
    # to end than ~7 MB batches (r12 NOTES: 44.6 s → 6.3 s for the
    # 500k-row synth pass). Chunking here also propagates the sane
    # batch size to any chained mapInPandas consumer (probe, hashes).
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, v, d in zip(seg["media_id"], seg["_v"], seg["_d"]):
                    mid, v, d = int(mid), int(v), int(d)
                    topdown = v % 2 == 1
                    gray = np.where((v >> bit_idx) & 1, 180, 60) + d
                    hdr = (
                        b"BM"
                        + struct.pack("<IHHI", file_size, 0, 0, 54)
                        + struct.pack(
                            "<IiiHHIIiiII",
                            40,
                            width,
                            -height if topdown else height,
                            1,
                            24,
                            0,
                            stride * height,
                            0,
                            0,
                            0,
                            0,
                        )
                    )
                    stored = gray if topdown else gray[::-1]
                    body = np.zeros((height, stride), dtype=np.uint8)
                    body[:, : width * 3] = np.repeat(
                        stored.astype(np.uint8), 3, axis=1
                    )
                    rows.append(
                        (
                            mid,
                            "image",
                            None,
                            None,
                            None,
                            None,
                            hdr + body.tobytes(),
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


# ------------------------------------ compressed-codec pixel plants
# Encoders for the synth side of the PNG/GIF decode audits. These
# are TEST-FIXTURE writers (the engine only decodes); they live here
# so the planted-formula synthesis runs inside the same Arrow pass
# as the other media plants.


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _idat_payload(png: bytes) -> bytes:
    """Concatenated IDAT payload bytes of a fixture-encoded PNG —
    each APNG frame's complete zlib stream, ready for fdAT."""
    import struct

    out = []
    pos = 8
    while pos + 12 <= len(png):
        (clen,) = struct.unpack_from(">I", png, pos)
        if png[pos + 4 : pos + 8] == b"IDAT":
            out.append(png[pos + 8 : pos + 8 + clen])
        pos += 12 + clen
    return b"".join(out)


def _encode_apng(
    frames,
    width: int,
    height: int,
    delay_ms: int = 40,
    hidden_default=None,
) -> bytes:
    """TEST/AUDIT FIXTURE: a REAL animated PNG — IHDR (8-bit gray)
    + acTL + per-frame fcTL with the frame data as IDAT (first
    frame, when the default image participates) or fdAT chunks,
    sequence numbers in spec order, CRCs everywhere. ``frames`` is
    a list of ``(gray_rect, x, y, dispose, blend)``; pass a
    full-size gray array as ``hidden_default`` to emit a HIDDEN
    default image (IDAT before any fcTL — every animation frame
    then rides fdAT). Each frame's pixel stream comes from the
    conformance-verified still encoder (:func:`_encode_png`), so
    the decode side under test is the APNG machinery alone."""
    import struct

    out = bytearray(b"\x89PNG\r\n\x1a\n")
    out += _png_chunk(
        b"IHDR",
        struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0),
    )
    out += _png_chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    if hidden_default is not None:
        out += _png_chunk(
            b"IDAT",
            _idat_payload(_encode_png(hidden_default, "gray")),
        )
    for i, (gray, x, y, dispose, blend) in enumerate(frames):
        h, w = gray.shape
        out += _png_chunk(
            b"fcTL",
            struct.pack(
                ">IIIIIHHBB", seq, w, h, x, y, delay_ms, 1000,
                dispose, blend,
            ),
        )
        seq += 1
        data = _idat_payload(_encode_png(gray, "gray", filter_seed=i))
        if i == 0 and hidden_default is None:
            out += _png_chunk(b"IDAT", data)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + data)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def _encode_png(gray, mode: str, filter_seed: int = 0) -> bytes:
    """Encode an int64 gray array as a REAL 8-bit PNG in the given
    mode — ``rgb`` (color type 2, gray replicated to 3 channels),
    ``gray`` (type 0) or ``pal`` (type 3, palette of the distinct
    gray values as (g,g,g) entries). Scanline filters CYCLE through
    all five types (``(y + filter_seed) % 5``) so every decode-side
    unfilter recurrence is exercised by every payload."""
    import struct
    import zlib

    import numpy as np

    g8 = gray.astype(np.uint8)
    h, w = g8.shape
    if mode == "rgb":
        raw_rows = np.repeat(g8, 3, axis=1)
        color, ch = 2, 3
        plte = b""
    elif mode == "gray":
        raw_rows = g8
        color, ch = 0, 1
        plte = b""
    else:  # pal
        vals = np.unique(g8)
        idx = np.searchsorted(vals, g8).astype(np.uint8)
        raw_rows = idx
        color, ch = 3, 1
        plte = _png_chunk(b"PLTE", np.repeat(vals, 3).tobytes())
    out = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        cur = raw_rows[y].astype(np.int64)
        f = (y + filter_seed) % 5
        left = np.concatenate([np.zeros(ch, dtype=np.int64), cur[:-ch]])
        upleft = np.concatenate([np.zeros(ch, dtype=np.int64), prev[:-ch]])
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur - left
        elif f == 2:
            filt = cur - prev
        elif f == 3:
            filt = cur - (left + prev) // 2
        else:  # Paeth
            pa = np.abs(prev - upleft)
            pb = np.abs(left - upleft)
            pc = np.abs(left + prev - 2 * upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            filt = cur - pred
        out += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + plte
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_pack_rows(sub, depth: int):
    """Pack one (sub-)image's (h, w, ch) samples into PNG scanline
    bytes — the exact inverse of :func:`_png_samples`: big-endian
    pairs at depth 16, straight bytes at 8, MSB-first bit fields
    below 8 (zero row-padding bits)."""
    import numpy as np

    h, w, ch = sub.shape
    if depth == 16:
        flat = sub.reshape(h, w * ch)
        hi = (flat >> 8).astype(np.uint8)
        lo = (flat & 0xFF).astype(np.uint8)
        return np.stack([hi, lo], axis=2).reshape(h, -1)
    if depth == 8:
        return sub.reshape(h, w * ch).astype(np.uint8)
    per = 8 // depth
    rowbytes = (w * depth + 7) // 8
    padded = np.zeros((h, rowbytes * per), dtype=np.int64)
    padded[:, :w] = sub[:, :, 0]
    shifts = np.arange(per - 1, -1, -1, dtype=np.int64) * depth
    return (
        (padded.reshape(h, rowbytes, per) << shifts).sum(axis=2).astype(np.uint8)
    )


def _encode_png_ex(
    samples,
    color: int,
    depth: int,
    interlaced: bool = False,
    filter_seed: int = 0,
    palette: bytes | None = None,
) -> bytes:
    """REAL general PNG encoder (test fixture, like ``_encode_png``
    but spanning the whole decode envelope): any spec-legal
    (``color``, ``depth``), optional Adam7 interlace. ``samples`` is
    the (h, w, ch) int array in [0, 2^depth); ``palette`` the raw
    PLTE bytes for color type 3. Scanline filters cycle through all
    five types ACROSS pass boundaries (one global row counter), so
    an interlaced payload exercises every unfilter recurrence in
    every pass position. Adam7 passes are emitted in spec order;
    empty passes contribute zero bytes."""
    import struct
    import zlib

    import numpy as np

    samples = np.asarray(samples, dtype=np.int64)
    if samples.ndim == 2:
        samples = samples[:, :, None]
    h, w, ch = samples.shape
    bits_pp = depth * ch
    bpp = max(1, bits_pp // 8)
    passes = _ADAM7_PASSES if interlaced else ((0, 0, 1, 1),)
    out = bytearray()
    row_counter = 0
    for x0, y0, dx, dy in passes:
        sub = samples[y0::dy, x0::dx]
        ph, pw = sub.shape[:2]
        if ph == 0 or pw == 0:
            continue
        packed = _png_pack_rows(sub, depth)
        prev = np.zeros(packed.shape[1], dtype=np.int64)
        for y in range(ph):
            cur = packed[y].astype(np.int64)
            f = (row_counter + filter_seed) % 5
            row_counter += 1
            left = np.concatenate([np.zeros(bpp, dtype=np.int64), cur[:-bpp]])
            upleft = np.concatenate(
                [np.zeros(bpp, dtype=np.int64), prev[:-bpp]]
            )
            if f == 0:
                filt = cur
            elif f == 1:
                filt = cur - left
            elif f == 2:
                filt = cur - prev
            elif f == 3:
                filt = cur - (left + prev) // 2
            else:  # Paeth
                pa = np.abs(prev - upleft)
                pb = np.abs(left - upleft)
                pc = np.abs(left + prev - 2 * upleft)
                pred = np.where(
                    (pa <= pb) & (pa <= pc),
                    left,
                    np.where(pb <= pc, prev, upleft),
                )
                filt = cur - pred
            out += bytes([f]) + (filt % 256).astype(np.uint8).tobytes()
            prev = cur
    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlaced else 0
    )
    chunks = _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        chunks += _png_chunk(b"PLTE", palette)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunks
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-flavor LZW encode — the exact inverse convention of
    :func:`_gif_lzw_decode`: LSB-first packing, width grows when
    ``next_code`` passes ``2^width`` (one code after the decoder's
    table reaches it — the standard one-in-flight lag), clear code
    emitted at the 4096 cap."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code, size):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {(i,): i for i in range(clear)}, eoi + 1, min_code_size + 1

    table, next_code, code_size = fresh()
    emit(clear, code_size)
    w = ()
    for k in indices:
        k = int(k)
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w], code_size)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        if next_code == 4096:
            emit(clear, code_size)
            table, next_code, code_size = fresh()
        w = (k,)
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _encode_gif(gray, interlaced: bool = False) -> bytes:
    """Encode an int64 gray array as a REAL GIF87a: palette of the
    distinct gray values as (g,g,g) entries (padded to a power of
    two), LZW-compressed indices, optionally interlaced (rows stored
    in the 4-pass order the decoder must invert)."""
    import struct

    import numpy as np

    g8 = gray.astype(np.uint8)
    h, w = g8.shape
    vals = np.unique(g8)
    bits = max(1, int(len(vals) - 1).bit_length())
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[: len(vals)] = np.repeat(vals, 3).reshape(-1, 3)
    idx = np.searchsorted(vals, g8)
    if interlaced:
        order = [
            *range(0, h, 8),
            *range(4, h, 8),
            *range(2, h, 4),
            *range(1, h, 2),
        ]
        idx = idx[order]
    min_code = max(2, bits)
    lzw = _gif_lzw_encode(idx.ravel(), min_code)
    sub = bytearray()
    for i in range(0, len(lzw), 255):
        blk = lzw[i : i + 255]
        sub += bytes([len(blk)]) + blk
    sub += b"\x00"
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
        + pal.tobytes()
        + b"\x2c"
        + struct.pack(
            "<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0
        )
        + bytes([min_code])
        + bytes(sub)
        + b"\x3b"
    )


def _encode_gif_anim(
    frames, loop: bool = True, delays=None, screen=None
) -> bytes:
    """TEST/AUDIT FIXTURE: encode a REAL ANIMATED GIF89a. ``frames``
    is a list of (gray, lx, ty, disposal) rendering blocks: ``gray``
    an int64 array whose -1 entries are TRANSPARENT (previous canvas
    shows through), placed at offset (lx, ty), with the GIF89a
    disposal method for afterwards (0/1 keep, 2 restore-to-paper,
    3 restore-to-previous). Each block gets its own Graphic Control
    Extension and LOCAL palette (distinct grays as (g,g,g) entries
    plus a reserved transparent slot when needed) — the shapes a
    real optimizing encoder emits (delta patches over a keyframe).
    ``loop`` adds the NETSCAPE2.0 application extension, so decoders
    must skip an app-extension block too. ``delays`` (centiseconds
    per block, default 4 each) feeds the GCE delay field —
    ``gif_animation_info`` recovers their ×10 ms sum. The logical
    screen is sized to the first block (which must be at (0, 0)),
    or to an explicit ``screen=(w, h)`` — blocks may then be
    SMALLER than the screen (the header-probe fixtures plant
    formula dims with 2×2 rendering blocks)."""
    import struct

    import numpy as np

    g0, lx0, ty0, _ = frames[0]
    assert lx0 == 0 and ty0 == 0, "first frame anchors the screen"
    if screen is not None:
        sw, sh = screen
    else:
        sh, sw = g0.shape
    out = bytearray(
        b"GIF89a" + struct.pack("<HHBBB", sw, sh, 0, 0, 0)
    )  # no global color table
    if loop:
        out += (
            b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
        )
    for fi, (gray, lx, ty, disposal) in enumerate(frames):
        g = np.asarray(gray, dtype=np.int64)
        ih, iw = g.shape
        vals = np.unique(g[g >= 0])
        has_t = bool((g < 0).any())
        nslots = len(vals) + (1 if has_t else 0)
        bits = max(1, int(nslots - 1).bit_length())
        pal = np.zeros((1 << bits, 3), dtype=np.uint8)
        pal[: len(vals)] = np.repeat(vals, 3).reshape(-1, 3).astype(
            np.uint8
        )
        tidx = len(vals)  # transparent slot right after the grays
        idx = np.where(
            g < 0, tidx, np.searchsorted(vals, np.clip(g, 0, 255))
        )
        gflags = (disposal & 0x7) << 2 | (1 if has_t else 0)
        delay = int(delays[fi]) if delays is not None else 4
        out += b"\x21\xf9\x04" + bytes(
            [gflags, delay & 0xFF, (delay >> 8) & 0xFF,
             tidx if has_t else 0]
        ) + b"\x00"
        out += b"\x2c" + struct.pack(
            "<HHHHB", lx, ty, iw, ih, 0x80 | (bits - 1)
        )
        out += pal.tobytes()
        min_code = max(2, bits)
        lzw = _gif_lzw_encode(idx.ravel(), min_code)
        out += bytes([min_code])
        for i in range(0, len(lzw), 255):
            blk = lzw[i : i + 255]
            out += bytes([len(blk)]) + blk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def synth_audio_probe_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Plant REAL FLAC / MP3 header bytes with formula-valued
    duration fields for the header-only probe: ``id % 4`` ∈ {0, 2} →
    FLAC STREAMINFO (20-bit rate ``8000 + (id%32)·250``, 36-bit
    total samples ``16000 + (id%1000)·16``); 1 → MP3 with an ID3v2
    tag of syncsafe size ``id % 100`` to skip, then a mono MPEG-1
    Layer III frame carrying a Xing tag with ``200 + id%800``
    frames; 3 → CBR MP3 (bitrate index ``1 + id%14``, total stream
    length ``2000 + id%6000`` bytes — the remaining-bytes estimate).
    Metadata NULL; the probe walks headers only."""
    import struct

    slim = ids.select(F.col(id_col).cast("long").alias("media_id"))
    chunk = 1024

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                for mid in pdf["media_id"].iloc[lo : lo + chunk]:
                    mid = int(mid)
                    v = mid % 4
                    if v in (0, 2):
                        sr = 8000 + (mid % 32) * 250
                        total = 16000 + (mid % 1000) * 16
                        b = bytearray(34)
                        b[0:2] = (4096).to_bytes(2, "big")
                        b[2:4] = (4096).to_bytes(2, "big")
                        b[10] = sr >> 12
                        b[11] = (sr >> 4) & 0xFF
                        b[12] = ((sr & 0xF) << 4) | (0 << 1) | 0
                        b[13] = (15 << 4) | ((total >> 32) & 0xF)
                        b[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
                        payload = (
                            b"fLaC" + bytes([0x80])
                            + (34).to_bytes(3, "big") + bytes(b)
                        )
                    elif v == 1:
                        tag_sz = mid % 100
                        id3 = (
                            b"ID3\x04\x00\x00"
                            + bytes(
                                [
                                    (tag_sz >> 21) & 0x7F,
                                    (tag_sz >> 14) & 0x7F,
                                    (tag_sz >> 7) & 0x7F,
                                    tag_sz & 0x7F,
                                ]
                            )
                            + bytes(tag_sz)
                        )
                        sridx = mid % 3
                        # FF FB: MPEG-1 Layer III no-CRC; bitrate idx 9
                        hdr = bytes(
                            [0xFF, 0xFB, (9 << 4) | (sridx << 2), 0xC0]
                        )
                        nframes = 200 + mid % 800
                        xing = (
                            b"Xing"
                            + (1).to_bytes(4, "big")
                            + nframes.to_bytes(4, "big")
                        )
                        payload = id3 + hdr + bytes(17) + xing + bytes(32)
                    else:
                        bidx = 1 + mid % 14
                        total = 2000 + mid % 6000
                        sridx = mid % 3
                        hdr = bytes(
                            [0xFF, 0xFB, (bidx << 4) | (sridx << 2), 0xC0]
                        )
                        payload = hdr + bytes(total - 4)
                    rows.append(
                        (mid, "audio", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


def synth_anim_probe_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Plant REAL animated containers with formula-valued animation
    metadata for the header-only probe: even ids get an animated GIF
    (``n = 2 + id % 7`` frames, per-frame GCE delay ``2 + id % 50``
    centiseconds ⇒ duration ``n·(2+id%50)·10`` ms), odd ids an
    animated WebP (VP8X+ANIM+ANMF, per-frame duration
    ``20 + id % 500`` ms ⇒ ``n·(20+id%500)``). Canvas dims are
    ``(8 + id % 24) × (8 + id % 16)``. Frame content is real
    (flat-gray GIF blocks / VP8L literal streams) but irrelevant —
    the probe walks headers only. Metadata NULL."""
    import numpy as np

    slim = ids.select(F.col(id_col).cast("long").alias("media_id"))
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                for mid in pdf["media_id"].iloc[lo : lo + chunk]:
                    mid = int(mid)
                    n = 2 + mid % 7
                    w, h = 8 + mid % 24, 8 + mid % 16
                    # the probe walks HEADERS only, so the planted
                    # formula dims live in the logical-screen/canvas
                    # fields while the rendering blocks stay 2×2 —
                    # spec-legal, and the synth cost is ∝ frame
                    # COUNT like the probe itself (measured: the
                    # full-size plant put a 7 s synth in front of a
                    # 0.7 s probe at sf0.1)
                    frames = [
                        np.full((2, 2), 80 + 10 * f, dtype=np.int64)
                        for f in range(n)
                    ]
                    if mid % 2 == 0:
                        delay = 2 + mid % 50
                        payload = _encode_gif_anim(
                            [(g, 0, 0, 1) for g in frames],
                            delays=[delay] * n,
                            screen=(w, h),
                        )
                    else:
                        dur = 20 + mid % 500
                        payload = _encode_webp_anim(
                            [(g, dur) for g in frames], w, h
                        )
                    rows.append(
                        (mid, "video", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


#: the six codec legs of `multimodal_codec_matrix_audit`; each maps
#: the planted gray array to REAL encoded bytes of that format.
#: `synth_codec_pixel_media` additionally accepts the lossy legs
#: "jpeg" (grayscale baseline) and "jpeg_rgb" (3-component 4:4:4) —
#: kept out of the 70-px-wide matrix because JPEG's 8×8 blocks only
#: round-trip BIT-exactly when they align with the flat plant cells
#: (width/height multiples of 8 — `multimodal_jpeg_phash_audit`
#: plants 64×64).
CODEC_LEGS = ("bmp", "png", "png_gray", "png_pal", "gif", "gif_i")

# the full-envelope PNG legs (r13): Adam7 interlace, 16-bit samples
# (stored as v·257 so the high-byte reduction recovers v exactly),
# opaque RGBA / gray+alpha (white-compositing at a=255 is the
# identity), depth-2 palette, and the Adam7+16-bit combination —
# six byte-disjoint encodings of the SAME pixels, used by
# multimodal_png_deep_audit the way CODEC_LEGS feeds the codec
# matrix audit (kept separate: that audit's plant arithmetic is
# pinned to these six legs in this order).
PNG_DEEP_LEGS = (
    "png_i", "png_16", "png_rgba", "png_ga", "png_pal2", "png_i16",
)


def synth_codec_pixel_media(
    ids: DataFrame,
    id_col: str = "media_id",
    pattern_col: str = "pattern",
    shift_col: str = "shift",
    codec_col: str = "codec",
    width: int = 70,
    height: int = 64,
) -> DataFrame:
    """Plant the SAME 8×8 block pattern as ``synth_bmp_pixel_media``
    (block (bx, by) bright 180+δ iff bit ``(by·8+bx) % 8`` of the
    pattern byte is set, else dark 60+δ — so ``ahash64`` provably
    equals the pattern bits replicated, injective per pattern,
    shift-invariant, ≥8-bit cross-pattern Hamming margin) but
    encoded per-row in the CODEC named by ``codec_col``:

    - ``bmp`` — uncompressed 24-bpp bottom-up BMP (byte-layout twin
      of ``synth_bmp_pixel_media``);
    - ``png`` / ``png_gray`` / ``png_pal`` — real zlib-compressed
      8-bit PNGs in color types 2 / 0 / 3, scanline filters cycling
      through ALL FIVE types (seed = pattern, so different plants
      start the cycle at different rows);
    - ``png_i`` / ``png_16`` / ``png_rgba`` / ``png_ga`` /
      ``png_pal2`` / ``png_i16`` (``PNG_DEEP_LEGS``) — the full PNG
      envelope: Adam7-interlaced RGB, 16-bit grayscale (samples
      stored as v·257, so the decoder's high-byte reduction recovers
      v exactly), opaque RGBA and gray+alpha (white compositing at
      a=255 is the identity), depth-2 palette, and Adam7+16-bit;
    - ``gif`` / ``gif_i`` — real LZW-compressed GIF87a, sequential
      and interlaced.

    Identical (pattern, shift) pixels re-encoded across codecs are
    byte-DIFFERENT payloads with IDENTICAL luma — the cross-codec
    re-encode case perceptual dedup exists to catch. Metadata is
    NULL (decoders must recover everything from the bytes)."""
    import struct

    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(pattern_col).cast("int").alias("_v"),
        F.col(shift_col).cast("int").alias("_d"),
        F.col(codec_col).cast("string").alias("_c"),
    )

    def _cells(n: int) -> "np.ndarray":
        bounds = [i * n // 8 for i in range(1, 8)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = _cells(width), _cells(height)
    bit_idx = (yb[:, None] * 8 + xb[None, :]) % 8
    stride = (width * 3 + 3) & ~3
    bmp_size = 54 + stride * height
    chunk = 512

    def _bmp(gray) -> bytes:
        hdr = (
            b"BM"
            + struct.pack("<IHHI", bmp_size, 0, 0, 54)
            + struct.pack(
                "<IiiHHIIiiII",
                40, width, height, 1, 24, 0, stride * height, 0, 0, 0, 0,
            )
        )
        body = np.zeros((height, stride), dtype=np.uint8)
        body[:, : width * 3] = np.repeat(
            gray[::-1].astype(np.uint8), 3, axis=1
        )
        return hdr + body.tobytes()

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, v, d, c in zip(
                    seg["media_id"], seg["_v"], seg["_d"], seg["_c"]
                ):
                    mid, v, d = int(mid), int(v), int(d)
                    gray = np.where((v >> bit_idx) & 1, 180, 60) + d
                    if c == "bmp":
                        payload = _bmp(gray)
                    elif c == "png":
                        payload = _encode_png(gray, "rgb", filter_seed=v)
                    elif c == "png_gray":
                        payload = _encode_png(gray, "gray", filter_seed=v)
                    elif c == "png_pal":
                        payload = _encode_png(gray, "pal", filter_seed=v)
                    elif c == "png_i":
                        payload = _encode_png_ex(
                            np.repeat(gray[:, :, None], 3, axis=2),
                            2, 8, interlaced=True, filter_seed=v,
                        )
                    elif c == "png_16":
                        payload = _encode_png_ex(
                            gray[:, :, None] * 257, 0, 16, filter_seed=v
                        )
                    elif c == "png_i16":
                        payload = _encode_png_ex(
                            gray[:, :, None] * 257,
                            0, 16, interlaced=True, filter_seed=v,
                        )
                    elif c == "png_rgba":
                        rgba = np.concatenate(
                            [
                                np.repeat(gray[:, :, None], 3, axis=2),
                                np.full(
                                    (height, width, 1), 255, dtype=np.int64
                                ),
                            ],
                            axis=2,
                        )
                        payload = _encode_png_ex(rgba, 6, 8, filter_seed=v)
                    elif c == "png_ga":
                        ga = np.stack(
                            [gray, np.full_like(gray, 255)], axis=2
                        )
                        payload = _encode_png_ex(ga, 4, 8, filter_seed=v)
                    elif c == "png_pal2":
                        vals = np.unique(gray)
                        if len(vals) > 4:
                            raise ValueError("png_pal2 needs ≤4 grays")
                        idx = np.searchsorted(vals, gray)
                        payload = _encode_png_ex(
                            idx[:, :, None], 3, 2, filter_seed=v,
                            palette=np.repeat(vals, 3)
                            .astype(np.uint8)
                            .tobytes(),
                        )
                    elif c == "gif":
                        payload = _encode_gif(gray, interlaced=False)
                    elif c == "gif_i":
                        payload = _encode_gif(gray, interlaced=True)
                    elif c == "jpeg":
                        from tidb_cdc_spark.functions.jpeg import encode_jpeg

                        payload = encode_jpeg(gray, color=False)
                    elif c == "jpeg_rgb":
                        from tidb_cdc_spark.functions.jpeg import encode_jpeg

                        payload = encode_jpeg(gray, color=True)
                    elif c == "jpeg_420":
                        from tidb_cdc_spark.functions.jpeg import encode_jpeg

                        payload = encode_jpeg(
                            gray, color=True, subsampling="420"
                        )
                    elif c == "jpeg_prog":
                        from tidb_cdc_spark.functions.jpeg import (
                            encode_jpeg_progressive,
                        )

                        payload = encode_jpeg_progressive(gray)
                    elif c == "jpeg_prog_420":
                        from tidb_cdc_spark.functions.jpeg import (
                            encode_jpeg_progressive,
                        )

                        payload = encode_jpeg_progressive(
                            gray, color=True, subsampling="420"
                        )
                    elif c.startswith("jpeg_o"):
                        from tidb_cdc_spark.functions.jpeg import (
                            encode_jpeg,
                        )

                        o = int(c[6:])
                        inv = {
                            1: lambda a: a,
                            2: lambda a: a[:, ::-1],
                            3: lambda a: a[::-1, ::-1],
                            4: lambda a: a[::-1, :],
                            5: lambda a: a.T,
                            6: lambda a: a[:, ::-1].T,
                            7: lambda a: a[::-1, ::-1].T,
                            8: lambda a: a.T[:, ::-1],
                        }[o]
                        payload = encode_jpeg(
                            np.ascontiguousarray(inv(gray)),
                            exif_orientation=o,
                        )
                    elif c == "tiff":
                        payload = _encode_tiff(gray, rows_per_strip=16)
                    elif c == "tiff_rgb_be":
                        payload = _encode_tiff(gray, rgb=True, endian=">")
                    elif c == "tiff_16":
                        payload = _encode_tiff(
                            gray, bits=16, rows_per_strip=8
                        )
                    elif c == "tiff_rgba":
                        payload = _encode_tiff(gray, rgba=True)
                    elif c == "tiff_wiz":
                        payload = _encode_tiff(gray, photometric=0)
                    elif c.startswith("tiff_o"):
                        o = int(c[6:])
                        inv = {
                            1: lambda a: a,
                            2: lambda a: a[:, ::-1],
                            3: lambda a: a[::-1, ::-1],
                            4: lambda a: a[::-1, :],
                            5: lambda a: a.T,
                            6: lambda a: a[:, ::-1].T,
                            7: lambda a: a[::-1, ::-1].T,
                            8: lambda a: a.T[:, ::-1],
                        }[o]
                        payload = _encode_tiff(
                            np.ascontiguousarray(inv(gray)),
                            orientation=o,
                        )
                    elif c == "webp_lossy":
                        from tidb_cdc_spark.functions.webp import (
                            encode_webp_lossy,
                        )

                        payload = encode_webp_lossy(gray, 95.0)
                    elif c.startswith("webp"):
                        from tidb_cdc_spark.functions.webp import (
                            encode_webp_lossless,
                        )

                        payload = encode_webp_lossless(
                            gray, c[5:] if len(c) > 4 else "literal"
                        )
                    else:
                        raise ValueError(f"unknown codec leg: {c!r}")
                    rows.append(
                        (mid, "image", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


# --------------------------------------- trim-robust audio near-dup
# The whole-clip fingerprint (``audio_fingerprint64``) is gain-
# invariant but trim-VARIANT: cutting windows off the front moves
# every frame boundary, so a trimmed re-encode hashes differently.
# The fix is the same one video uses (``video_frame_hashes`` →
# ``video_near_dup_pairs``): hash fixed-length WINDOWS and join on
# shared window hashes — a copy trimmed by whole windows still
# shares every surviving aligned window. Arbitrary-offset trims need
# landmark/peak fingerprints (Shazam-style) — codec-adjacent DSP,
# out of scope like compressed audio itself.


def audio_window_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    window_samples: int = 512,
) -> DataFrame:
    """(id, window_idx, whash): per-window energy fingerprints via
    the REAL sample path — the audio analog of
    :func:`video_frame_hashes`. Decodes 16-bit PCM WAV payloads
    (:func:`decode_wav_samples`), splits the mono stream into fixed
    windows of ``window_samples`` and fingerprints each with the
    shared :func:`audio_fingerprint64` (per-window gain invariance
    carries over). The trailing partial window is dropped — a
    deterministic boundary, so two streams sharing a whole window
    share its hash. Non-PCM payloads emit NO rows (header-probe /
    exact-digest territory — no sample evidence, no window claim).
    Output rows are ~20 B: at 100 TB of audio only window hashes
    shuffle, the samples never do."""
    out_schema = StructType(
        [
            media.schema[id_col],
            StructField("window_idx", IntegerType()),
            StructField("whash", LongType()),
        ]
    )

    def wh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hs = [], [], []
            for mid, raw in zip(pdf[id_col], pdf[payload_col]):
                x = decode_wav_samples(bytes(raw)) if raw is not None else None
                if x is None:
                    continue
                for k in range(len(x) // window_samples):
                    ids.append(mid)
                    idxs.append(k)
                    hs.append(
                        audio_fingerprint64(
                            x[k * window_samples : (k + 1) * window_samples]
                        )
                    )
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype=pdf[id_col].dtype),
                    "window_idx": pd.array(idxs, dtype="int32"),
                    "whash": pd.array(hs, dtype="Int64"),
                }
            )

    return media.mapInPandas(wh, schema=out_schema)


def audio_near_dup_pairs(
    window_hashes: DataFrame,
    id_col: str = "media_id",
    min_shared_windows: int = 4,
    max_window_freq: "int | None" = 1000,
) -> DataFrame:
    """(id_a, id_b, shared_windows): audio near-duplicate pairs —
    clips sharing ≥ ``min_shared_windows`` DISTINCT window hashes.
    Catches the trim+regain re-encode (different bytes, different
    whole-clip fingerprint) that both the exact digest path and the
    clip fingerprint structurally cannot.

    The join IS :func:`video_near_dup_pairs` — per-window audio
    hashes and per-frame video hashes pose the identical
    inverted-index containment problem (``max_window_freq`` is the
    same viral guard: silence / a jingle appears in millions of
    clips and would alone re-create the quadratic)."""
    wh = window_hashes.select(
        F.col(id_col), F.col("whash").alias("fhash")
    )
    return video_near_dup_pairs(
        wh,
        id_col=id_col,
        min_shared_frames=min_shared_windows,
        max_frame_freq=max_window_freq,
    ).withColumnRenamed("shared_frames", "shared_windows")


def audio_window_cap_report(
    window_hashes: DataFrame,
    id_col: str = "media_id",
    max_window_freq: int = 1000,
) -> DataFrame:
    """One-row audit of what :func:`audio_near_dup_pairs`'s
    ``max_window_freq`` viral-window guard EXCLUDES — the audio
    member of the no-silent-caps family, and (like the pair join
    itself) a direct reuse of the video machinery: digital silence
    or a jingle sting is the audio analog of the black frame.
    Columns ``(capped_whashes, affected_media, total_whashes,
    max_freq)`` over the distinct ``(media, whash)`` inverted index."""
    wh = window_hashes.select(
        F.col(id_col), F.col("whash").alias("fhash")
    )
    return (
        video_frame_cap_report(
            wh, id_col=id_col, max_frame_freq=max_window_freq
        )
        .withColumnRenamed("capped_fhashes", "capped_whashes")
        .withColumnRenamed("total_fhashes", "total_whashes")
    )


def synth_wav_windowed_media(
    ids: DataFrame,
    id_col: str = "media_id",
    base_col: str = "base",
    skip_col: str = "skip",
    gain_col: str = "gain",
    n_windows: int = 8,
    frames_per_window: int = 64,
    samples_per_frame: int = 8,
) -> DataFrame:
    """Plant REAL 16-bit PCM WAVs with per-WINDOW patterns — the
    audio twin of ``synth_avi_media``'s per-frame plants, and the
    audit source for the trim-robust window chain: the clip for row
    (base ``B``, skip ``s``, gain ``g``) carries windows
    ``w ∈ [s, n_windows)``, and window w is the square-wave
    construction of ``synth_wav_pcm_media`` over a 16-BIT pattern
    word ``v = 1 + (B·n_windows + w) % 65534`` (frame f of the
    window has amplitude ``(180 if bit (f%16) of v else 60) · g``,
    alternating sign, zero DC), so each window's
    :func:`audio_fingerprint64` is PROVABLY v's 16 bits replicated
    ×4 — injective in v (hence in (B, w) while B·n_windows + w <
    65534), gain-invariant for g ∈ [1, 182] (no clipping: 180·182 <
    2¹⁵). ``skip`` plants the TRIMMED copy (first ``s`` windows cut
    — different bytes even before regain) and ``gain`` the regained
    one; a trim+regain copy still shares every surviving window
    hash. Window length = frames_per_window × samples_per_frame
    samples (default 512 = 64 ms at the planted 8 kHz rate, so the
    real RIFF fields put duration under the probe oracle too).
    Payloads are pure functions of (B, s, g); metadata NULL.
    ≤1024-row yields (the Arrow batch-size discipline)."""
    import struct

    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(base_col).cast("long").alias("_b"),
        F.col(skip_col).cast("int").alias("_s"),
        F.col(gain_col).cast("int").alias("_g"),
    )
    w_len = frames_per_window * samples_per_frame
    sign = np.where(np.arange(w_len) % 2 == 0, 1, -1).astype(np.int64)
    frame_bit = (np.arange(w_len) // samples_per_frame) % 16
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    chunk = 1024

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, base, skip, g in zip(
                    seg["media_id"], seg["_b"], seg["_s"], seg["_g"]
                ):
                    mid, base, skip, g = int(mid), int(base), int(skip), int(g)
                    parts = []
                    for w in range(skip, n_windows):
                        v = 1 + (base * n_windows + w) % 65534
                        amp = np.where((v >> frame_bit) & 1, 180, 60) * g
                        parts.append((amp * sign).astype("<i2"))
                    # skip ≥ n_windows plants a real zero-sample WAV
                    # (still a valid RIFF; the window pass emits no
                    # rows for it) rather than crashing the Arrow pass
                    pcm = (
                        np.concatenate(parts).tobytes() if parts else b""
                    )
                    body = (
                        b"WAVE"
                        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                        + b"data" + struct.pack("<I", len(pcm)) + pcm
                    )
                    payload = b"RIFF" + struct.pack("<I", len(body)) + body
                    rows.append(
                        (mid, "audio", None, None, None, None, payload)
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)


# ------------------------------------------- DCT perceptual hash
# The pHash algorithm proper (the third member of the perceptual
# family next to aHash/dHash): downsample, 2-D DCT-II, threshold the
# low-frequency block at its median. Its practical edge over the
# box-mean hashes is low-pass robustness — per-pixel high-frequency
# perturbations (dither, sharpening halos, sensor noise) land in
# DCT frequencies the hash never looks at.

_DCT32 = None


def _dct32_basis():
    """Orthonormal 32-point DCT-II basis (float64, cached). Built
    from ``np.cos`` directly — no scipy dependency."""
    global _DCT32
    if _DCT32 is None:
        import numpy as np

        n = 32
        k = np.arange(n)[:, None]
        x = np.arange(n)[None, :]
        c = np.cos(np.pi * (2 * x + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
        c[0, :] = 1.0 / np.sqrt(n)
        _DCT32 = c
    return _DCT32


def dct_phash64(gray) -> "int | None":
    """DCT perceptual hash: 32×32 integer box means → orthonormal
    2-D DCT-II (float64) → keep the top-left 8×8 low-frequency block
    → round each coefficient to the nearest integer → bit k set iff
    coefficient k exceeds the MEDIAN of the 64 (the imagehash
    convention, DC included — DC sits above the median and carries a
    constant bit). Returns None for images smaller than 32×32 (the
    downsample grid would have empty boxes — no hash evidence).

    The integer rounding is load-bearing: a uniform brightness shift
    δ moves ONLY the DC coefficient mathematically (every AC basis
    row sums to zero), but float64 evaluation leaves ~1e-13·δ
    residue on the AC terms — and synthetic/flat images have
    STRUCTURALLY zero AC coefficients whose comparisons would
    otherwise be float-noise coin flips. Rounding quantizes the
    residue away, making the hash tie-deterministic and
    brightness-shift invariant exactly (pinned over the audit's full
    plant domain in tests/test_phash.py). Signed 64-bit.

    Platform caveat (ADVICE r12): this is the one hash in the
    perceptual family computed in float64 (np.cos basis + two
    matmuls) — aHash/dHash's all-integer determinism does NOT carry
    over. ``np.rint`` absorbs the ~1e-13 residue only while no true
    coefficient lands near an x.5 boundary, where a different
    BLAS/platform could round the other way. For the planted audit
    family this is PROVABLY absorbed: tests/test_phash.py asserts
    every low-frequency coefficient of all 101 plant words (both
    variants) sits ≥1e-4 from the nearest .5 boundary (measured min
    2.99e-4) — seven orders above the ~1e-11 cross-BLAS evaluation
    error bound — so the oracle hash is platform-independent.
    Arbitrary real images carry no such
    guarantee; treat cross-platform pHash equality as probabilistic
    at the last ulp."""
    import numpy as np

    if gray.shape[0] < 32 or gray.shape[1] < 32:
        return None
    c = _dct32_basis()
    m = _box_means(gray, 32, 32).astype(np.float64)
    d = c @ m @ c.T
    low = np.rint(d[:8, :8].ravel())
    med = np.median(low)
    h = 0
    for k, val in enumerate(low):
        if val > med:
            h |= 1 << k
    return _to_signed64(h)


def dct_phashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Per-media DCT perceptual hashes via the REAL pixel path —
    (id, phash) over payloads decodable through the
    :func:`decode_pixels` boundary (uncompressed BMP always;
    JPEG/PNG via the guarded PIL branch where a codec library
    exists), NULL for everything else — the same contract as
    :func:`perceptual_hashes`. Near-dup pairs over the hash reuse
    :func:`phash_near_dup_pairs` (``hash_col="phash"``)."""
    out_schema = StructType(
        [media.schema[id_col], StructField("phash", LongType())]
    )

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for raw in pdf[payload_col]:
                gray = (
                    decode_pixels(bytes(raw)) if raw is not None else None
                )
                out.append(None if gray is None else dct_phash64(gray))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "phash": pd.array(out, dtype="Int64"),
                }
            )

    return media.mapInPandas(hash_batches, schema=out_schema)


def synth_bmp_block16_media(
    ids: DataFrame,
    id_col: str = "media_id",
    word_col: str = "word",
    shift_col: str = "shift",
    noise_col: str = "noise",
    width: int = 70,
    height: int = 64,
) -> DataFrame:
    """Plant REAL uncompressed 24-bpp BMPs over a 2-D 4×4 BLOCK grid
    of a 16-bit pattern word — the DCT-audit source
    (``synth_bmp_pixel_media``'s vertical-stripe plant is
    structurally 1-D: its bit index ``(by·8+bx) % 8`` reduces to
    ``bx % 8``, which aHash resolves exactly but the low-pass DCT
    hash provably cannot keep injective). Block (BX, BY) ∈ 4×4 is
    bright (180+δ±ε) iff bit ``BY·4+BX`` of ``word`` is set, else
    dark (60+δ±ε); δ is a uniform brightness shift, ε a PER-PIXEL
    ``(-1)^(x+y)`` checkerboard — high-frequency noise. Both
    transforms leave :func:`dct_phash64` EXACTLY unchanged: every
    32×32 downsample box spans 2 full pixel rows (height 64), so the
    checkerboard cancels in each box sum exactly, and the brightness
    shift moves only the (rounded-away) DC coefficient. Injectivity
    and the cross-word Hamming margin over an audit's word set are
    empirical properties of that set — pinned in tests for the
    ``1 + (pid·643) % 65534`` family the audit uses (101 distinct
    hashes, min pairwise Hamming 4 > τ=3). Pixel range stays in
    [0, 255] for δ+ε ≤ 55: no clamping, shifts are exact.
    Payloads are pure functions of (word, δ, ε); metadata NULL;
    ≤512-row yields (the Arrow batch-size discipline)."""
    import struct

    import numpy as np

    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(word_col).cast("int").alias("_w"),
        F.col(shift_col).cast("int").alias("_d"),
        F.col(noise_col).cast("int").alias("_e"),
    )

    def _blocks(n: int) -> "np.ndarray":
        bounds = [i * n // 4 for i in range(1, 4)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    xb, yb = _blocks(width), _blocks(height)
    bit_idx = yb[:, None] * 4 + xb[None, :]
    yy, xx = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    checker = np.where((xx + yy) % 2 == 0, 1, -1)
    stride = (width * 3 + 3) & ~3
    file_size = 54 + stride * height
    hdr = (
        b"BM"
        + struct.pack("<IHHI", file_size, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, 24, 0,
            stride * height, 0, 0, 0, 0,
        )
    )
    chunk = 512

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                rows = []
                seg = pdf.iloc[lo : lo + chunk]
                for mid, w, d, e in zip(
                    seg["media_id"], seg["_w"], seg["_d"], seg["_e"]
                ):
                    mid, w, d, e = int(mid), int(w), int(d), int(e)
                    gray = (
                        np.where((w >> bit_idx) & 1, 180, 60)
                        + d
                        + e * checker
                    )
                    body = np.zeros((height, stride), dtype=np.uint8)
                    body[:, : width * 3] = np.repeat(
                        gray[::-1].astype(np.uint8), 3, axis=1
                    )
                    rows.append(
                        (mid, "image", None, None, None, None,
                         hdr + body.tobytes())
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
                )

    return _spread(slim).mapInPandas(synth, schema=MEDIA_SCHEMA)
