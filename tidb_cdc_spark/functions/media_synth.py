"""Synthetic media: the fixture encoders and the ``synth_*`` planters.

The engine only decodes; everything here WRITES media so the decoders,
probes and hashes have formula-valued inputs at corpus scale:

- fixture encoders for every decoded format — ``_encode_png`` /
  ``_encode_png_ex`` (the whole PNG envelope), ``_encode_apng``,
  ``_encode_gif`` / ``_encode_gif_anim``, ``_encode_webp_anim``,
  ``_encode_tiff``, ``_g711_encode`` and the IMA ADPCM quantizer
  (``_ima_encode_core`` / ``_ima_encode_block``);
- the ``synth_*`` planters, which write REAL container bytes whose
  header fields, pixels, frames or samples are fixed integer
  formulas of the planted columns, so the values the probes and
  hashes recover are reproducible by any engine (the planted-value
  audit sources of ``queries/media.py``).

Every planter runs through one Arrow chain (``plant_rows``): slim
select → ``session.fan_out`` → ``mapInPandas`` → ``MEDIA_SCHEMA``
rows with NULL metadata, yielded in frames of the planter's own chunk
size. The block patterns come from ``_bit_grid`` / ``_pattern`` and
the BMP rows from ``_encode_bmp`` / ``_bmp_rows``.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.jpeg import (
    encode_jpeg,
    encode_jpeg_progressive,
    mjpeg_strip_dht,
)
from tidb_cdc_spark.functions.media_decode import (
    _ADAM7_PASSES,
    _ALAW_LUT,
    _IMA_STEP_TABLE,
    _ULAW_LUT,
    _bgr_stride,
    _ima_step,
    gif_interlace_rows,
)
from tidb_cdc_spark.functions.media_probe import (
    FCTL,
    MEDIA_SCHEMA,
    PNG_MAGIC,
    TIFF_TYPES,
    _chunk,
    _png,
    _png_chunk,
    _riff,
    png_chunks,
)
from tidb_cdc_spark.functions.webp import encode_webp_lossless, encode_webp_lossy
from tidb_cdc_spark.session import fan_out

# ---------------------------------------------------- planter chain


def plant_rows(slim: DataFrame, schema, row, chunk: "int | None" = None):
    """The one Arrow chain behind every planter: fan the id-sized
    frame ``slim`` out across the cluster (``session.fan_out`` — the
    chain is CPU-bound per row and would otherwise inherit a
    single-split source's one task), then map each row's values
    through ``row(*values)`` into one output tuple of ``schema``.
    Output is yielded in frames of at most ``chunk`` rows (the whole
    input batch when None): one yielded pandas frame becomes at least
    one Arrow batch, so planters with large payloads keep the batch
    bytes — and those of every chained consumer — small."""
    names = slim.columns
    columns = [f.name for f in schema.fields]

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            step = chunk or max(len(pdf), 1)
            for lo in range(0, len(pdf), step):
                seg = pdf.iloc[lo : lo + step]
                vals = zip(*(seg[c].tolist() for c in names))
                yield pd.DataFrame([row(*v) for v in vals], columns=columns)

    return fan_out(slim, slim.sparkSession).mapInPandas(synth, schema=schema)


def _plant(ids: DataFrame, id_col: str, kind, payload, *cols, chunk=None):
    """``MEDIA_SCHEMA`` rows for ``ids``: ``payload(media_id, *values)``
    over the id column (cast to long) and the planter's ``cols``;
    ``kind`` is a string or a function of the media id; mime, width,
    height and duration stay NULL so the probes must recover them."""
    slim = ids.select(
        F.col(id_col).cast("long").alias("media_id"),
        *[c.alias(f"_{i}") for i, c in enumerate(cols)],
    )

    def row(mid, *vals):
        k = kind(mid) if callable(kind) else kind
        return (mid, k, None, None, None, None, payload(mid, *vals))

    return plant_rows(slim, MEDIA_SCHEMA, row, chunk)


def _bit_grid(width: int, height: int, mod: int, cells: int = 8):
    """Per-pixel bit index of a planted block pattern: pixel (x, y)
    lies in block (bx, by) of a ``cells``×``cells`` grid whose
    boundaries match ``media_hash._box_means`` exactly
    (i·n//cells ≤ x < (i+1)·n//cells) and reads bit
    ``(by·cells + bx) % mod`` of the pattern word."""

    def block(n: int):
        bounds = [i * n // cells for i in range(1, cells)]
        return np.searchsorted(bounds, np.arange(n), side="right")

    return (block(height)[:, None] * cells + block(width)[None, :]) % mod


def _pattern(word: int, bits):
    """Bright 180 where bit ``bits`` of ``word`` is set, else dark 60."""
    return np.where((word >> bits) & 1, 180, 60)


def _frames(base: int, skip: int, shift: int, n_frames: int, bits) -> list:
    """The shared video plant: frame f ∈ [skip, n_frames) of base B
    is the pattern of the 16-bit word ``1 + (B·n_frames + f) % 65534``
    plus the brightness shift."""
    return [
        _pattern(1 + (base * n_frames + f) % 65534, bits) + shift
        for f in range(skip, n_frames)
    ]


def _changed_rect(prev, g, grid: int):
    """``(y0, x0, y1, x1)``: the bounding rect of the pixels where
    frame ``g`` differs from ``prev``, its origin snapped down to the
    ``grid`` (1 or 2 px) — a ``grid``-sized rect at the origin when
    nothing changed."""
    ys, xs = np.nonzero(g != prev)
    if len(ys) == 0:
        return 0, 0, grid, grid
    y0, x0 = int(ys.min()) & -grid, int(xs.min()) & -grid
    return y0, x0, int(ys.max()) + 1, int(xs.max()) + 1


def _bmp_rows(rows) -> bytes:
    """24-bpp BMP pixel rows in stored order: gray replicated to BGR,
    each row zero-padded to the 4-byte stride."""
    h, w = rows.shape
    body = np.zeros((h, _bgr_stride(w)), dtype=np.uint8)
    body[:, : w * 3] = np.repeat(rows.astype(np.uint8), 3, axis=1)
    return body.tobytes()


def _encode_bmp(gray, topdown: bool = False) -> bytes:
    """An uncompressed 24-bpp BITMAPINFOHEADER BMP of a gray array,
    bottom-up unless ``topdown`` (stored height negative)."""
    h, w = gray.shape
    size = _bgr_stride(w) * h
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + size, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, -h if topdown else h, 1, 24, 0, size,
            0, 0, 0, 0,
        )
        + _bmp_rows(gray if topdown else gray[::-1])
    )


def _wav(fmt: bytes, samples: bytes) -> bytes:
    return _riff(b"WAVE", _chunk(b"fmt ", fmt) + _chunk(b"data", samples))


def _avi(tag: bytes, frames, width: int, height: int, us_per_frame: int):
    """RIFF 'AVI ' with LIST hdrl (avih: µs-per-frame, total frames,
    dims) and LIST movi holding one ``tag`` chunk per frame
    (word-aligned)."""
    movi = b"movi" + b"".join(_chunk(tag, f, pad=True) for f in frames)
    avih = (
        struct.pack("<I", us_per_frame)
        + b"\x00" * 12
        + struct.pack("<I", len(frames))
        + b"\x00" * 12
        + struct.pack("<II", width, height)
        + b"\x00" * 16
    )
    return _riff(
        b"AVI ",
        _chunk(b"LIST", b"hdrl" + _chunk(b"avih", avih)) + _chunk(b"LIST", movi),
    )


# ------------------------------------------------ fixture encoders
# TEST-FIXTURE writers for the synth side of the decode audits (the
# engine only decodes); the planters call them inside the same Arrow
# pass as the other media plants.


def _idat_payload(png: bytes) -> bytes:
    """Concatenated IDAT payload bytes of a fixture-encoded PNG —
    each APNG frame's complete zlib stream, ready for fdAT."""
    return b"".join(d for t, d in png_chunks(png) if t == b"IDAT")


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
    chunks = [
        (b"IHDR", struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)),
        (b"acTL", struct.pack(">II", len(frames), 0)),
    ]
    if hidden_default is not None:
        chunks.append(
            (b"IDAT", _idat_payload(_encode_png(hidden_default, "gray")))
        )
    seq = 0
    for i, (gray, x, y, dispose, blend) in enumerate(frames):
        h, w = gray.shape
        fctl = FCTL.pack(seq, w, h, x, y, delay_ms, 1000, dispose, blend)
        chunks.append((b"fcTL", fctl))
        seq += 1
        data = _idat_payload(_encode_png(gray, "gray", filter_seed=i))
        if i == 0 and hidden_default is None:
            chunks.append((b"IDAT", data))
        else:
            chunks.append((b"fdAT", struct.pack(">I", seq) + data))
            seq += 1
    return _png(chunks)


def _encode_png(gray, mode: str, filter_seed: int = 0) -> bytes:
    """Encode an int64 gray array as a REAL 8-bit PNG in the given
    mode — ``rgb`` (color type 2, gray replicated to 3 channels),
    ``gray`` (type 0) or ``pal`` (type 3, palette of the distinct
    gray values as (g,g,g) entries). Scanline filters CYCLE through
    all five types (``(y + filter_seed) % 5``) so every decode-side
    unfilter recurrence is exercised by every payload. The bytes are
    :func:`_encode_png_ex`'s at depth 8 without interlace."""
    g8 = gray.astype(np.uint8)
    if mode == "rgb":
        return _encode_png_ex(
            np.repeat(g8[:, :, None], 3, axis=2), 2, 8, filter_seed=filter_seed
        )
    if mode == "gray":
        return _encode_png_ex(g8, 0, 8, filter_seed=filter_seed)
    vals = np.unique(g8)  # pal
    return _encode_png_ex(
        np.searchsorted(vals, g8), 3, 8, filter_seed=filter_seed,
        palette=np.repeat(vals, 3).tobytes(),
    )


def _png_pack_rows(sub, depth: int):
    """Pack one (sub-)image's (h, w, ch) samples into PNG scanline
    bytes — the exact inverse of ``media_decode._unpack_samples``:
    big-endian pairs at depth 16, straight bytes at 8, MSB-first bit
    fields below 8 (zero row-padding bits)."""
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
    """REAL general PNG encoder (test fixture spanning the whole
    decode envelope): any spec-legal (``color``, ``depth``), optional
    Adam7 interlace. ``samples`` is the (h, w, ch) int array in
    [0, 2^depth); ``palette`` the raw PLTE bytes for color type 3.
    Scanline filters cycle through all five types ACROSS pass
    boundaries (one global row counter), so an interlaced payload
    exercises every unfilter recurrence in every pass position.
    Adam7 passes are emitted in spec order; empty passes contribute
    zero bytes."""
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
    plte = [] if palette is None else [(b"PLTE", palette)]
    idat = zlib.compress(bytes(out), 6)
    return _png([(b"IHDR", ihdr), *plte, (b"IDAT", idat)])


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF-flavor LZW encode — the exact inverse convention of
    ``media_decode._gif_lzw_decode``: LSB-first packing, width grows
    when ``next_code`` passes ``2^width`` (one code after the
    decoder's table reaches it — the standard one-in-flight lag),
    clear code emitted at the 4096 cap."""
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


def _gif_encode_image(g):
    """One GIF image of an int64 array whose -1 entries are
    TRANSPARENT: ``(bits, palette, data, tidx)`` — a color table of
    the distinct grays as (g,g,g) entries plus a transparent slot
    right after them when needed (padded to ``2^bits`` entries), the
    LZW min code size + data sub-blocks + terminator, and the
    transparent index (None when no pixel is transparent)."""
    vals = np.unique(g[g >= 0])
    has_t = bool((g < 0).any())
    bits = max(1, int(len(vals) + has_t - 1).bit_length())
    pal = np.zeros((1 << bits, 3), dtype=np.uint8)
    pal[: len(vals)] = np.repeat(vals, 3).reshape(-1, 3).astype(np.uint8)
    idx = np.where(g < 0, len(vals), np.searchsorted(vals, np.clip(g, 0, 255)))
    min_code = max(2, bits)
    lzw = _gif_lzw_encode(idx.ravel(), min_code)
    data = bytes([min_code]) + b"".join(
        bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
        for i in range(0, len(lzw), 255)
    )
    return bits, pal.tobytes(), data + b"\x00", len(vals) if has_t else None


def _encode_gif(gray, interlaced: bool = False) -> bytes:
    """Encode an int64 gray array as a REAL GIF87a: palette of the
    distinct gray values as (g,g,g) entries (padded to a power of
    two), LZW-compressed indices, optionally interlaced (rows stored
    in the 4-pass order the decoder must invert)."""
    g = gray.astype(np.uint8).astype(np.int64)
    h, w = g.shape
    if interlaced:
        g = g[gif_interlace_rows(h)]
    bits, pal, data, _ = _gif_encode_image(g)
    return (
        b"GIF87a"
        + struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
        + pal
        + b"\x2c"
        + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0)
        + data
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
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for fi, (gray, lx, ty, disposal) in enumerate(frames):
        g = np.asarray(gray, dtype=np.int64)
        ih, iw = g.shape
        bits, pal, data, tidx = _gif_encode_image(g)
        gflags = (disposal & 0x7) << 2 | (tidx is not None)
        delay = int(delays[fi]) if delays is not None else 4
        out += b"\x21\xf9\x04" + bytes(
            [gflags, delay & 0xFF, (delay >> 8) & 0xFF, tidx or 0]
        ) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", lx, ty, iw, ih, 0x80 | (bits - 1))
        out += pal + data
    out += b"\x3b"
    return bytes(out)


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
    vp8x = bytes([0x02, 0, 0, 0]) + (width - 1).to_bytes(3, "little") + (
        height - 1
    ).to_bytes(3, "little")
    chunks = _chunk(b"VP8X", vp8x)
    chunks += _chunk(b"ANIM", b"\xff\xff\xff\xff\x00\x00")  # bg + loop 0
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
        chunks += _chunk(b"ANMF", body, pad=True)
    return _riff(b"WEBP", chunks)


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
    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    if rgb or rgba:
        px = np.repeat(g[:, :, None], 3, axis=2)
        if rgba:
            px = np.concatenate([px, np.full((h, w, 1), 255)], axis=2)
    else:
        px = ((255 - g) if photometric == 0 else g)[:, :, None]
    spp = px.shape[2]
    if bits == 16:
        px = px * 257
    rows = px.astype(endian + "u2" if bits == 16 else np.uint8).reshape(h, -1)
    rps = rows_per_strip or h
    strips = [rows[y : y + rps].tobytes() for y in range(0, h, rps)]
    counts = [len(b) for b in strips]
    entries = {  # {tag: (TIFF type, values)}: SHORTs, strips as LONGs
        256: (3, [w]), 257: (3, [h]), 258: (3, [bits] * spp), 259: (3, [1]),
        262: (3, [2 if spp > 1 else photometric]), 277: (3, [spp]),
        278: (3, [rps]), 273: (4, counts), 279: (4, counts),
    }
    if orientation != 1:
        entries[274] = (3, [orientation])

    def packed(typ, vals):
        return struct.pack(f"{endian}{len(vals)}{TIFF_TYPES[typ]}", *vals)

    # one layout: header, IFD (count, 12-byte entries, next-IFD link),
    # the values longer than 4 bytes in tag order, then the strips
    ifd_end = 8 + 2 + 12 * len(entries) + 4
    blocks = [packed(typ, vals) for typ, vals in entries.values()]
    # the strips start after the spilled values; StripOffsets' own
    # length does not depend on where they start
    first = ifd_end + sum(len(b) for b in blocks if len(b) > 4)
    entries[273] = (4, [first + sum(counts[:i]) for i in range(len(strips))])
    ifd = struct.pack(endian + "H", len(entries))
    data = b""
    for tag, (typ, vals) in sorted(entries.items()):
        raw = packed(typ, vals)
        ifd += struct.pack(endian + "HHI", tag, typ, len(vals))
        if len(raw) <= 4:
            ifd += raw.ljust(4, b"\x00")
        else:
            ifd += struct.pack(endian + "I", ifd_end + len(data))
            data += raw
    head = struct.pack(endian + "2sHI", b"II" if endian == "<" else b"MM", 42, 8)
    return head + ifd + struct.pack(endian + "I", 0) + data + b"".join(strips)


def _g711_encode(x, lut):
    """FIXTURE encoder: nearest-representable quantization against
    the expansion table (argmin over 256 codes — the optimal
    quantizer; the decode side is the op under test). Vectorized;
    decode(encode(x)) is the closest expandable value to x."""
    x = np.asarray(x, dtype=np.int64)
    return np.abs(lut[None, :] - x[:, None]).argmin(axis=1).astype(np.uint8)


def _ima_encode_core(samples, pred: int, index: int):
    """FIXTURE encoder: the canonical greedy IMA quantizer — choose
    the magnitude bits top-down against the current step, then
    update (predictor, index) with the DECODER's own reconstruction
    (``media_decode._ima_step``) so encoder and decoder state never
    drift. Returns (nibbles, pred, index)."""
    nibbles = []
    for s in samples:
        step = _IMA_STEP_TABLE[index]
        delta = int(s) - pred
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
        pred, index = _ima_step(nib, pred, index)
    return nibbles, pred, index


def _ima_encode_block(samples, block_align: int) -> bytes:
    """FIXTURE: one mono IMA block — sample 0 exact in the header
    (predictor, start index 0), the rest quantized; nibbles packed
    LOW-first, padded with 0-nibbles to the block size."""
    s = [int(v) for v in samples]
    hdr = struct.pack("<hBB", s[0], 0, 0)
    nibbles, _, _ = _ima_encode_core(s[1:], s[0], 0)
    want = (block_align - 4) * 2
    nibbles = nibbles + [0] * (want - len(nibbles))
    body = bytearray()
    for k in range(0, len(nibbles), 2):
        body.append(nibbles[k] | (nibbles[k + 1] << 4))
    return hdr + bytes(body)


# ---------------------------------------------------------- planters


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

    def payload(mid):
        if mid % 2 == 0:
            byte_rate = 8000 + (mid % 32) * 250
            data_len = 16000 + (mid % 1000) * 16
            fmt = struct.pack("<HHIIHH", 1, 1, 8000, byte_rate, 2, 16)
            return _riff(
                b"WAVE",
                _chunk(b"fmt ", fmt) + b"data" + struct.pack("<I", data_len),
            )
        ts = 600 + (mid % 400)
        if mid % 4 == 1:  # version 0: 32-bit times
            mvhd = b"\x00" * 12 + struct.pack(">II", ts, 2400 + (mid % 3000))
        else:  # version 1: 64-bit duration field
            mvhd = (
                b"\x01" + b"\x00" * 19
                + struct.pack(">IQ", ts, 8589934592 + (mid % 3000))
            )
        mvhd_box = struct.pack(">I", 8 + len(mvhd)) + b"mvhd" + mvhd
        moov = struct.pack(">I", 8 + len(mvhd_box)) + b"moov" + mvhd_box
        return struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4 + moov

    return _plant(
        ids, id_col, lambda mid: "audio" if mid % 2 == 0 else "video", payload
    )


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
    source for the image parsers (queries/media.py). Payloads are
    header-only (13-43 bytes: GIF 13, BMP 26/30, PNG 33, JPEG
    41/43); all metadata is planted NULL so the probe must RECOVER
    mime/width/height from the bytes."""

    def payload(mid):
        w = 16 + mid % 60000
        h = 16 + mid % 40000
        cls = mid % 5
        if cls == 0:
            ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
            return PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
        if cls == 1:
            magic = b"GIF87a" if (mid // 5) % 2 == 0 else b"GIF89a"
            return magic + struct.pack("<HH", w, h) + b"\x70\x00\x00"
        if cls == 2:  # file size / reserved / offset, BITMAPCOREHEADER
            return b"BM" + b"\x00" * 12 + struct.pack("<IHHHH", 12, w, h, 1, 24)
        if cls == 3:  # BITMAPINFOHEADER
            stored_h = -h if mid % 2 == 1 else h
            return b"BM" + b"\x00" * 12 + struct.pack("<IiiHH", 40, w, stored_h, 1, 24)
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        fill = b"\xff\xff" if mid % 2 == 0 else b""
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">HBHHB", 17, 8, h, w, 3)
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
        )
        return b"\xff\xd8" + app0 + fill + sof0 + b"\xff\xd9"

    return _plant(ids, id_col, "image", payload)


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
    frame's ``ahash64`` is PROVABLY v's 16 bits replicated ×4 —
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
    bits = _bit_grid(width, height, 16)

    def payload(mid, base, skip, d):
        frames = _frames(base, skip, d, n_frames, bits)
        return _avi(
            b"00db", [_bmp_rows(g[::-1]) for g in frames], width, height,
            us_per_frame,
        )

    return _plant(
        ids, id_col, "video", payload,
        F.col(base_col).cast("long"),
        F.col(skip_col).cast("int"),
        F.col(shift_col).cast("int"),
        chunk=512,
    )


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
    bit ``(by·8+bx) % 16``), so each frame's ``ahash64`` is
    provably v's 16 bits replicated ×4, injective in (B, f) and
    invariant under the brightness shift δ.

    ``skip=1`` plants the TRIMMED copy (first frame dropped);
    ``strip=1`` plants the DHT-LESS "AVI1" frame form (different
    bytes, identical pixels — decodable only through the
    :func:`~tidb_cdc_spark.functions.jpeg.mjpeg_ensure_dht` K.3
    injection, so a matching frame hash certifies that path).
    Payloads are pure functions of (B, s, δ, strip); ≤512-row
    yields (the Arrow batch-size discipline)."""
    cell = np.arange(size) // 8  # 8-px cells == JPEG block grid
    bits = (cell[:, None] * 8 + cell[None, :]) % 16

    def payload(mid, base, skip, d, strip):
        frames = [
            encode_jpeg(g, tables="standard")
            for g in _frames(base, skip, d, n_frames, bits)
        ]
        if strip:
            frames = [mjpeg_strip_dht(f) for f in frames]
        return _avi(b"00dc", frames, size, size, us_per_frame)

    return _plant(
        ids, id_col, "video", payload,
        F.col(base_col).cast("long"),
        F.col(skip_col).cast("int"),
        F.col(shift_col).cast("int"),
        F.col(strip_col).cast("int"),
        chunk=512,
    )


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
    bits = _bit_grid(width, height, 16)

    def payload(mid, base, skip, d):
        frames = _frames(base, skip, d, n_frames, bits)
        blocks = [(frames[0], 0, 0, 1)] + [
            (np.where(g != prev, g, -1), 0, 0, 1)
            for prev, g in zip(frames, frames[1:])
        ]
        return _encode_gif_anim(blocks)

    return _plant(
        ids, id_col, "video", payload,
        F.col(base_col).cast("long"),
        F.col(skip_col).cast("int"),
        F.col(shift_col).cast("int"),
        chunk=512,
    )


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
    bits = _bit_grid(width, height, 16)

    def payload(mid, base, skip, d):
        frames = _frames(base, skip, d, n_frames, bits)
        specs = [(frames[0], 40)] if frames else []
        for prev, g in zip(frames, frames[1:]):
            y0, x0, y1, x1 = _changed_rect(prev, g, 2)
            specs.append((g[y0:y1, x0:x1], 40, x0, y0, 2))  # no-blend
        return _encode_webp_anim(specs, width, height)

    return _plant(
        ids, id_col, "video", payload,
        F.col(base_col).cast("long"),
        F.col(skip_col).cast("int"),
        F.col(shift_col).cast("int"),
        chunk=512,
    )


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
    bits = _bit_grid(width, height, 16)

    def payload(mid, base, skip, d):
        frames = _frames(base, skip, d, n_frames, bits)
        specs = [(frames[0], 0, 0, 0, 0)] if frames else []
        for prev, g in zip(frames, frames[1:]):
            y0, x0, y1, x1 = _changed_rect(prev, g, 1)
            specs.append((g[y0:y1, x0:x1], x0, y0, 0, 0))
        return _encode_apng(specs, width, height)

    return _plant(
        ids, id_col, "video", payload,
        F.col(base_col).cast("long"),
        F.col(skip_col).cast("int"),
        F.col(shift_col).cast("int"),
        chunk=512,
    )


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
    else 60) · gain``, so ``audio_fingerprint64`` PROVABLY equals
    ``v``'s bits replicated across the 64 frames (injective, ≥8-bit
    cross-pattern Hamming margin, gain-invariant — gains up to 182
    stay inside int16). Payloads are a pure function of (v, gain);
    metadata is NULL (the probe recovers duration from the real RIFF
    fields). Output yielded in ≤1024-row frames (~4 KB payloads —
    the Arrow batch-size discipline from the BMP synth).

    ``codec_col`` (optional) names a column of "pcm16" / "ulaw" /
    "alaw" / "adpcm": the SAME sample formula stored as 16-bit
    linear PCM (format 1), G.711-companded 8-bit (formats 7 / 6,
    fixture nearest-representable encode), or IMA ADPCM 4-bit
    (format 0x11, canonical greedy quantizer, one block per clip) —
    byte-disjoint tellings of one signal whose fingerprints must
    collapse (verified over all 254 patterns × gains 1 and 3: both
    G.711 laws AND the ADPCM leg, 0 mismatches each)."""
    n = frames * samples_per_frame
    sign = np.where(np.arange(n) % 2 == 0, 1, -1).astype(np.int64)
    frame_bit = (np.arange(n) // samples_per_frame) % 8
    fmt16 = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    fmt_g711 = {
        "ulaw": (struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8), _ULAW_LUT),
        "alaw": (struct.pack("<HHIIHH", 6, 1, 8000, 8000, 1, 8), _ALAW_LUT),
    }
    # IMA ADPCM: one block per clip (sample 0 exact in the header,
    # the rest 4-bit quantized), fmt extension carries
    # wSamplesPerBlock so the trailing pad nibble is truncated
    ba_adpcm = 4 + n // 2
    fmt_adpcm = struct.pack(
        "<HHIIHHHH", 0x11, 1, 8000, 8000 * ba_adpcm // n, ba_adpcm, 4, 2, n
    )

    def payload(mid, v, g, c="pcm16"):
        x = _pattern(v, frame_bit) * g * sign
        if c == "pcm16":
            return _wav(fmt16, x.astype("<i2").tobytes())
        if c in fmt_g711:
            fmt, lut = fmt_g711[c]
            return _wav(fmt, _g711_encode(x, lut).tobytes())
        if c == "adpcm":
            return _wav(fmt_adpcm, _ima_encode_block(x, ba_adpcm))
        raise ValueError(f"unknown wav codec: {c!r}")

    cols = [F.col(pattern_col).cast("int"), F.col(gain_col).cast("int")]
    if codec_col is not None:
        cols.append(F.col(codec_col).cast("string"))
    return _plant(ids, id_col, "audio", payload, *cols, chunk=1024)


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
    recover everything from the bytes). Yields ≤512-row frames: each
    row carries a ~13.6 KB payload, and at the session default of
    10k rows/batch a payload batch is ~136 MB per core, which
    measured 7× slower end to end than ~7 MB batches."""
    bits = _bit_grid(width, height, 8)

    def payload(mid, v, d):
        return _encode_bmp(_pattern(v, bits) + d, topdown=v % 2 == 1)

    return _plant(
        ids, id_col, "image", payload,
        F.col(pattern_col).cast("int"),
        F.col(shift_col).cast("int"),
        chunk=512,
    )


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

    def payload(mid):
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
            return b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big") + bytes(b)
        sridx = mid % 3
        if v == 1:
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
            # FF FB: MPEG-1 Layer III no-CRC; bitrate idx 9
            hdr = bytes([0xFF, 0xFB, (9 << 4) | (sridx << 2), 0xC0])
            nframes = 200 + mid % 800
            xing = b"Xing" + (1).to_bytes(4, "big") + nframes.to_bytes(4, "big")
            return id3 + hdr + bytes(17) + xing + bytes(32)
        bidx = 1 + mid % 14
        total = 2000 + mid % 6000
        hdr = bytes([0xFF, 0xFB, (bidx << 4) | (sridx << 2), 0xC0])
        return hdr + bytes(total - 4)

    return _plant(ids, id_col, "audio", payload, chunk=1024)


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

    def payload(mid):
        n = 2 + mid % 7
        w, h = 8 + mid % 24, 8 + mid % 16
        # the probe walks HEADERS only, so the planted formula dims
        # live in the logical-screen/canvas fields while the
        # rendering blocks stay 2×2 — spec-legal, and the synth cost
        # is ∝ frame COUNT like the probe itself (measured: the
        # full-size plant put a 7 s synth in front of a 0.7 s probe
        # at sf0.1)
        frames = [np.full((2, 2), 80 + 10 * f, dtype=np.int64) for f in range(n)]
        if mid % 2 == 0:
            return _encode_gif_anim(
                [(g, 0, 0, 1) for g in frames],
                delays=[2 + mid % 50] * n,
                screen=(w, h),
            )
        return _encode_webp_anim([(g, 20 + mid % 500) for g in frames], w, h)

    return _plant(ids, id_col, "video", payload, chunk=512)


#: the six codec legs of `multimodal_codec_matrix_audit`; each maps
#: the planted gray array to REAL encoded bytes of that format.
#: `synth_codec_pixel_media` additionally accepts the lossy legs
#: "jpeg" (grayscale baseline) and "jpeg_rgb" (3-component 4:4:4) —
#: kept out of the 70-px-wide matrix because JPEG's 8×8 blocks only
#: round-trip BIT-exactly when they align with the flat plant cells
#: (width/height multiples of 8 — `multimodal_jpeg_phash_audit`
#: plants 64×64).
CODEC_LEGS = ("bmp", "png", "png_gray", "png_pal", "gif", "gif_i")

# the full-envelope PNG legs: Adam7 interlace, 16-bit samples (stored
# as v·257 so the high-byte reduction recovers v exactly), opaque
# RGBA / gray+alpha (white-compositing at a=255 is the identity),
# depth-2 palette, and the Adam7+16-bit combination — six
# byte-disjoint encodings of the SAME pixels, used by
# multimodal_png_deep_audit the way CODEC_LEGS feeds the codec matrix
# audit (kept separate: that audit's plant arithmetic is pinned to
# these six legs in this order).
PNG_DEEP_LEGS = (
    "png_i", "png_16", "png_rgba", "png_ga", "png_pal2", "png_i16",
)

#: the stored array whose display under EXIF/TIFF orientation o is
#: the upright plant — the inverse of ``apply_exif_orientation``
_INVERSE_ORIENT = {
    1: lambda a: a,
    2: lambda a: a[:, ::-1],
    3: lambda a: a[::-1, ::-1],
    4: lambda a: a[::-1, :],
    5: lambda a: a.T,
    6: lambda a: a[:, ::-1].T,
    7: lambda a: a[::-1, ::-1].T,
    8: lambda a: a.T[:, ::-1],
}


def _encode_leg(c: str, gray, v: int) -> bytes:
    """The planted gray array encoded as codec leg ``c`` (filter
    seed ``v`` for the PNG legs)."""
    if c == "bmp":
        return _encode_bmp(gray)
    if c in ("png", "png_gray", "png_pal"):
        return _encode_png(gray, {"png": "rgb"}.get(c, c[4:]), filter_seed=v)
    if c == "png_i":
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        return _encode_png_ex(rgb, 2, 8, interlaced=True, filter_seed=v)
    if c in ("png_16", "png_i16"):
        return _encode_png_ex(
            gray[:, :, None] * 257, 0, 16, interlaced=c == "png_i16",
            filter_seed=v,
        )
    if c == "png_rgba":
        rgba = np.concatenate(
            [np.repeat(gray[:, :, None], 3, axis=2),
             np.full(gray.shape + (1,), 255, dtype=np.int64)],
            axis=2,
        )
        return _encode_png_ex(rgba, 6, 8, filter_seed=v)
    if c == "png_ga":
        ga = np.stack([gray, np.full_like(gray, 255)], axis=2)
        return _encode_png_ex(ga, 4, 8, filter_seed=v)
    if c == "png_pal2":
        vals = np.unique(gray)
        if len(vals) > 4:
            raise ValueError("png_pal2 needs ≤4 grays")
        return _encode_png_ex(
            np.searchsorted(vals, gray)[:, :, None], 3, 2, filter_seed=v,
            palette=np.repeat(vals, 3).astype(np.uint8).tobytes(),
        )
    if c in ("gif", "gif_i"):
        return _encode_gif(gray, interlaced=c == "gif_i")
    if c == "jpeg":
        return encode_jpeg(gray, color=False)
    if c == "jpeg_rgb":
        return encode_jpeg(gray, color=True)
    if c == "jpeg_420":
        return encode_jpeg(gray, color=True, subsampling="420")
    if c == "jpeg_prog":
        return encode_jpeg_progressive(gray)
    if c == "jpeg_prog_420":
        return encode_jpeg_progressive(gray, color=True, subsampling="420")
    if c.startswith("jpeg_o"):
        o = int(c[6:])
        stored = np.ascontiguousarray(_INVERSE_ORIENT[o](gray))
        return encode_jpeg(stored, exif_orientation=o)
    if c == "tiff":
        return _encode_tiff(gray, rows_per_strip=16)
    if c == "tiff_rgb_be":
        return _encode_tiff(gray, rgb=True, endian=">")
    if c == "tiff_16":
        return _encode_tiff(gray, bits=16, rows_per_strip=8)
    if c == "tiff_rgba":
        return _encode_tiff(gray, rgba=True)
    if c == "tiff_wiz":
        return _encode_tiff(gray, photometric=0)
    if c.startswith("tiff_o"):
        o = int(c[6:])
        stored = np.ascontiguousarray(_INVERSE_ORIENT[o](gray))
        return _encode_tiff(stored, orientation=o)
    if c == "webp_lossy":
        return encode_webp_lossy(gray, 95.0)
    if c.startswith("webp"):
        return encode_webp_lossless(gray, c[5:] if len(c) > 4 else "literal")
    raise ValueError(f"unknown codec leg: {c!r}")


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
      and interlaced;
    - ``jpeg*``, ``tiff*`` and ``webp*`` legs — baseline /
      progressive / orientation-tagged JPEG, baseline TIFF variants,
      lossless and lossy WebP (see ``_encode_leg``).

    Identical (pattern, shift) pixels re-encoded across codecs are
    byte-DIFFERENT payloads with IDENTICAL luma — the cross-codec
    re-encode case perceptual dedup exists to catch. Metadata is
    NULL (decoders must recover everything from the bytes)."""
    bits = _bit_grid(width, height, 8)

    def payload(mid, v, d, c):
        return _encode_leg(c, _pattern(v, bits) + d, v)

    return _plant(
        ids, id_col, "image", payload,
        F.col(pattern_col).cast("int"),
        F.col(shift_col).cast("int"),
        F.col(codec_col).cast("string"),
        chunk=512,
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
    ``audio_fingerprint64`` is PROVABLY v's 16 bits replicated
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
    w_len = frames_per_window * samples_per_frame
    sign = np.where(np.arange(w_len) % 2 == 0, 1, -1).astype(np.int64)
    frame_bit = (np.arange(w_len) // samples_per_frame) % 16
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)

    def payload(mid, base, skip, g):
        # skip ≥ n_windows plants a real zero-sample WAV (still a
        # valid RIFF; the window pass emits no rows for it) rather
        # than crashing the Arrow pass
        pcm = b"".join(
            (_pattern(1 + (base * n_windows + w) % 65534, frame_bit) * g * sign)
            .astype("<i2")
            .tobytes()
            for w in range(skip, n_windows)
        )
        return _wav(fmt, pcm)

    return _plant(
        ids, id_col, "audio", payload,
        F.col(base_col).cast("long"),
        F.col(skip_col).cast("int"),
        F.col(gain_col).cast("int"),
        chunk=1024,
    )


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
    transforms leave ``dct_phash64`` EXACTLY unchanged: every
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
    bits = _bit_grid(width, height, 16, cells=4)
    yy, xx = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    checker = np.where((xx + yy) % 2 == 0, 1, -1)

    def payload(mid, w, d, e):
        return _encode_bmp(_pattern(w, bits) + d + e * checker)

    return _plant(
        ids, id_col, "image", payload,
        F.col(word_col).cast("int"),
        F.col(shift_col).cast("int"),
        F.col(noise_col).cast("int"),
        chunk=512,
    )
