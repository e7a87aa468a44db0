"""Media decoders: pixels, animation frames and audio samples from
container bytes, in pure Python + numpy.

PIXEL decode is REAL for uncompressed 24-bpp BMP
(``decode_bmp_pixels``), for COMPRESSED PNG over its FULL
still-image envelope (``decode_png_pixels`` — stdlib ``zlib``
inflate, all five scanline unfilters, every spec-legal
color-type/bit-depth combination incl. 16-bit and sub-byte depths,
alpha composited over white, Adam7 interlace, per-chunk CRC), GIF
(``decode_gif_pixels`` — pure-Python LZW, sequential + interlaced),
uncompressed baseline TIFF (``decode_tiff_pixels``), baseline JPEG
(``functions/jpeg.py::decode_jpeg_pixels`` — table-driven Huffman +
orthogonal IDCT, any integer-ratio chroma subsampling) and lossless
WebP (``functions/webp.py`` — VP8L, conformance-verified against
libwebp), with EXIF/eXIf camera rotation normalized. All of them
feed the perceptual-hash chain (``media_hash``) through the single
``decode_pixels`` boundary.

FRAME decode covers uncompressed and MJPEG AVI
(``decode_avi_frames``) and the three animation formats composed
onto a white canvas (``decode_gif_frames``,
``decode_webp_anim_frames``, ``decode_apng_frames``). SAMPLE decode
covers WAV 16-bit PCM, G.711 µ-law / A-law and IMA ADPCM
(``decode_wav_samples``).

Every decoder returns None for bytes outside its envelope — no
fabricated pixels or samples, and no exception: a raise inside
``mapInPandas`` would fail the whole Spark job. The container walks
come from ``media_probe``, so a decoder and its header probe read a
stream the same way.
"""

from __future__ import annotations

import io
import struct
import zlib

import numpy as np

from tidb_cdc_spark.functions.jpeg import (
    MAX_CANVAS_PIXELS,
    apply_exif_orientation,
    decode_jpeg_pixels,
    jpeg_exif_orientation,
    luma,
    mjpeg_ensure_dht,
    over_white,
    tiff_orientation,
)
from tidb_cdc_spark.functions.media_probe import (
    GIF_MAGIC,
    PNG_MAGIC,
    _PIL_Image,
    _tiff_ifd0,
    _tiff_values,
    avi_list,
    gif_blocks,
    parse_avi_header,
    png_chunks,
    riff_chunks,
    webp_anim_chunks,
)
from tidb_cdc_spark.functions.webp import (
    decode_webp_lossless_pixels,
    decode_webp_lossy_pixels,
)


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
    return luma(arr[:, :, 2], arr[:, :, 1], arr[:, :, 0])


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

    Every chunk CRC is verified (``media_probe.png_chunks``);
    corrupt, truncated, over-long, spec-illegal (palette at depth
    16, RGB at depth 4, interlace method 2, ...) payloads return
    ``None`` (header-probe-only treatment — no pixel evidence, no
    perceptual claim). Returns the int64 luma array (h, w).

    Scale: filters Sub/Average/Paeth are sequential along x by
    definition, so those rows decode in a Python byte loop — fine
    for the thumbnail/screen sizes perceptual hashing runs on
    (decode cost is ∝ pixel bytes, measured µs-scale per image, and
    the pass is the same Arrow-batched linear scan as BMP: pixels
    never shuffle). A codec fleet swaps in libpng via the PIL branch
    of ``decode_pixels`` with no plan change."""
    p = payload
    chunks = png_chunks(p) if len(p) >= 45 else None
    if chunks is None:
        return None
    ihdr = None
    plte = None
    exif = None
    idat = []
    for ctype, data in chunks:
        if ctype == b"IHDR":
            if len(data) != 13:
                return None
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if len(data) % 3 != 0:
                return None
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"eXIf":
            exif = data  # raw TIFF stream (PNG 1.5 extension)
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
    passes = []  # (x0, y0, dx, dy, pw, ph, rowbytes); empty passes
    for x0, y0, dx, dy in ((0, 0, 1, 1),) if interlace == 0 else _ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx  # contribute zero bytes
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            passes.append((x0, y0, dx, dy, pw, ph, (pw * bits_pp + 7) // 8))
    if sum(ph * (1 + rb) for *_, ph, rb in passes) != len(raw):
        return None  # truncated pixel stream or trailing garbage
    samples = np.zeros((h, w, ch), dtype=np.int64)
    pos = 0
    for x0, y0, dx, dy, pw, ph, rowbytes in passes:
        need = ph * (1 + rowbytes)
        rows = _png_unfilter(raw[pos : pos + need], ph, rowbytes, bpp)
        if rows is None:
            return None  # invalid filter byte
        pos += need
        samples[y0::dy, x0::dx] = _png_samples(rows, pw, depth, ch)
    # reduce to the 8-bit domain
    if depth == 16:
        samples >>= 8  # high byte: v·257 expansions reduce to v
    elif depth < 8 and color == 0:
        samples *= 255 // ((1 << depth) - 1)  # left-bit replication
    if color == 0:
        gray = samples[:, :, 0]  # luma(g,g,g) = g exactly
    else:
        if color == 3:
            idx = samples[:, :, 0]
            if int(idx.max()) * 3 + 2 >= len(plte):
                return None  # index past the palette
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            rgb = pal.astype(np.int64)[idx]
        elif color in (4, 6):
            v = over_white(samples[:, :, :-1], samples[:, :, -1:])
            rgb = np.repeat(v, 3, axis=2) if color == 4 else v
        else:  # color == 2
            rgb = samples
        gray = luma(rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2])
    if exif is not None:
        # PNG eXIf: same camera-rotation normalization as JPEG APP1
        gray = apply_exif_orientation(gray, tiff_orientation(exif))
    return gray


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


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """One length + type + data + CRC chunk."""
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


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


def gif_interlace_rows(h: int) -> list:
    """Stored row order of an interlaced GIF image: the 4-pass
    (every 8th from 0, every 8th from 4, every 4th from 2, every
    2nd from 1) sequence."""
    return [*range(0, h, 8), *range(4, h, 8), *range(2, h, 4), *range(1, h, 2)]


def _gif_image(block):
    """(palette indices, palette luma) of one ``gif_blocks`` record:
    LZW-decoded, de-interlaced, every index inside the palette — or
    None for a malformed image."""
    _gce, _lx, _ty, iw, ih, iflags, pal, min_code, data = block
    idx = _gif_lzw_decode(b"".join(data), min_code)
    if idx is None or len(idx) < iw * ih:
        return None
    arr = np.array(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
    if iflags & 0x40:  # interlaced: 4-pass row order
        de = np.empty_like(arr)
        de[gif_interlace_rows(ih)] = arr
        arr = de
    if int(arr.max()) * 3 + 2 >= len(pal):
        return None
    pt = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
    return arr, luma(pt[:, 0], pt[:, 1], pt[:, 2])


def decode_gif_pixels(payload: bytes):
    """REAL pixel decode for GIF87a/GIF89a — compressed bytes, pure
    Python (the LZW codec is ~40 lines; no library needed). Decodes
    the FIRST image frame: global or local color table, interlaced
    (4-pass row shuffle) or sequential, extensions skipped. Returns
    the int64 BT.601 luma array, or ``None`` for malformed streams
    or palette-index overruns. Same scale shape as the PNG path:
    the decode is ∝ pixel bytes inside the Arrow pass."""
    first = next(gif_blocks(payload), None)
    img = None if first is None else _gif_image(first)
    if img is None:
        return None
    arr, lut = img
    return lut[arr]


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
    p = payload
    if len(p) < 13 or p[:6] not in GIF_MAGIC:
        return None
    sw, sh = struct.unpack_from("<HH", p, 6)
    if sw <= 0 or sh <= 0 or sw * sh > MAX_CANVAS_PIXELS:
        return None
    canvas = np.full((sh, sw), 255, dtype=np.int64)  # white paper
    frames = []
    for block in gif_blocks(p):
        if block is None:
            return None
        gce, lx, ty, iw, ih = block[:5]
        if lx + iw > sw or ty + ih > sh:
            return None  # frame outside the logical screen
        img = _gif_image(block)
        if img is None:
            return None
        arr, lut = img
        disposal = 0 if gce is None else (gce[0] >> 2) & 0x7
        transp = gce[3] if gce is not None and gce[0] & 1 else None
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
    return frames or None


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
    p = payload
    chunks = webp_anim_chunks(p)
    if chunks is None:
        return None
    cw = 1 + int.from_bytes(p[24:27], "little")
    ch = 1 + int.from_bytes(p[27:30], "little")
    if cw * ch > MAX_CANVAS_PIXELS:
        return None
    canvas = np.full((ch, cw), 255, dtype=np.int64)  # white paper
    frames = []
    for tag, body in chunks:
        if tag != b"ANMF":
            continue
        if len(body) < 16:
            return None
        fx = 2 * int.from_bytes(body[0:3], "little")
        fy = 2 * int.from_bytes(body[3:6], "little")
        fw = 1 + int.from_bytes(body[6:9], "little")
        fh = 1 + int.from_bytes(body[9:12], "little")
        flags = body[15]
        if fx + fw > cw or fy + fh > ch:
            return None
        # frame data: optional ALPH chunk, then one VP8/VP8L
        sub = riff_chunks(body, 16)
        if sub is None:
            return None
        has_alpha = False
        stream = None
        for ftag, fdata in sub:
            if ftag == b"ALPH":
                has_alpha = True
            elif ftag in (b"VP8 ", b"VP8L"):
                stream = ftag + struct.pack("<I", len(fdata)) + fdata
                if ftag == b"VP8L" and len(fdata) >= 5:
                    # VP8L header: signature byte, then 14+14 dim
                    # bits; the ALPHA HINT is the next bit (bit 4 of
                    # the 4th bitstream byte)
                    has_alpha = has_alpha or bool(fdata[4] & 0x10)
                break
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
    return frames or None


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
    p = payload
    chunks = png_chunks(p) if len(p) >= 45 else None
    if chunks is None:
        return None
    ihdr_raw = None
    plte = None
    trns = False
    actl = None
    seen_idat = False
    next_seq = 0
    frames_meta = []  # each: [fctl_tuple, [data bytes], is_idat]
    for ctype, data in chunks:
        clen = len(data)
        if ctype == b"IHDR":
            if clen != 13:
                return None
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
    if ihdr_raw is None or actl is None or not seen_idat:
        return None
    if len(frames_meta) != actl[0] or not frames_meta:
        return None
    W, H = struct.unpack_from(">II", ihdr_raw)
    color = ihdr_raw[9]
    if W * H > MAX_CANVAS_PIXELS:
        return None
    canvas = np.full((H, W), 255, dtype=np.int64)  # white paper
    frames = []
    for i, (fctl, parts, is_idat) in enumerate(frames_meta):
        _, fw, fh, fx, fy, _, _, dispose, blend = fctl
        if not parts:
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
            PNG_MAGIC
            + _png_chunk(
                b"IHDR",
                struct.pack(">II", fw, fh) + ihdr_raw[8:],
            )
            + (_png_chunk(b"PLTE", plte) if plte is not None else b"")
            + _png_chunk(b"IDAT", b"".join(parts))
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
    configuration 2, predictors — codec territory, fail closed — or
    a tag whose values are missing or unreadable). Scale shape: one
    strip concatenation + vectorized numpy per payload inside the
    Arrow pass."""
    hdr = _tiff_ifd0(payload)
    if hdr is None:
        return None
    end, entries = hdr
    p = payload

    def vals(tag, default=None):
        if tag not in entries:
            return default
        return _tiff_values(p, end, entries[tag])

    def one(tag, default):
        v = vals(tag, [default])
        return v[0] if v else None

    if 322 in entries or 323 in entries:
        return None  # tiled layout
    if one(259, 1) != 1:
        return None  # compressed TIFF: codec territory
    if one(284, 1) != 1:
        return None
    if one(317, 1) != 1:
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
    photo = one(262, 1)
    spp = one(277, 1)
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
        gray = luma(pal[0][idx] >> 8, pal[1][idx] >> 8, pal[2][idx] >> 8)
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
            comp_rgb = [over_white(sam[:, :, c], sam[:, :, 3]) for c in range(3)]
        else:
            comp_rgb = [sam[:, :, c] for c in range(3)]
        gray = luma(*comp_rgb)
    orient = one(274, 1)
    if orient is None or not 1 <= orient <= 8:
        orient = 1
    return apply_exif_orientation(gray, orient)


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
    if len(payload) >= 8 and payload[:8] == PNG_MAGIC:
        gray = decode_png_pixels(payload)
        if gray is not None:
            return gray
    if len(payload) >= 6 and payload[:6] in GIF_MAGIC:
        gray = decode_gif_pixels(payload)
        if gray is not None:
            return gray
    if len(payload) >= 2 and payload[:2] == b"\xff\xd8":
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
        try:
            with _PIL_Image.open(io.BytesIO(payload)) as im:
                arr = np.asarray(im.convert("RGB"), dtype=np.int64)
        except Exception:
            return None
        gray = luma(arr[:, :, 0], arr[:, :, 1], arr[:, :, 2])
        if payload[:2] == b"\xff\xd8":
            # JPEGs outside the native envelope still carry camera
            # rotation — normalize here too (PIL does not)
            gray = apply_exif_orientation(
                gray, jpeg_exif_orientation(payload)
            )
        return gray
    return None


# ------------------------------------------------- real video path
# Uncompressed AVI (RIFF 'AVI ' + LIST hdrl/avih + LIST movi with
# '00db' raw-DIB frames) is pure-Python decodable for the same
# reason uncompressed BMP is: fixed chunk layout, raw bottom-up BGR
# rows. MJPEG '00dc' frames are standalone baseline JPEGs; other
# compressed codecs stay codec territory.


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
    hdr = parse_avi_header(payload)
    if hdr is None:
        return None
    _, w, h, _ = hdr
    if w <= 0 or h <= 0:
        return None
    stride = (w * 3 + 3) & ~3
    p = payload
    frames = []
    j, end = avi_list(p, b"movi") or (0, 0)
    while j + 8 <= end:
        fid = p[j : j + 4]
        flen = int.from_bytes(p[j + 4 : j + 8], "little")
        if fid[2:4] == b"db":
            if flen != stride * h or j + 8 + flen > len(p):
                return None  # truncated / mis-sized frame
            arr = np.frombuffer(p, dtype=np.uint8, count=flen, offset=j + 8)
            arr = (
                arr.reshape(h, stride)[:, : w * 3]
                .reshape(h, w, 3)
                .astype(np.int64)[::-1]  # bottom-up rows
            )
            frames.append(luma(arr[:, :, 2], arr[:, :, 1], arr[:, :, 0]))
        elif fid[2:4] == b"dc" and p[j + 8 : j + 10] == b"\xff\xd8":
            if j + 8 + flen > len(p):
                return None  # truncated MJPEG frame
            gray = decode_jpeg_pixels(mjpeg_ensure_dht(p[j + 8 : j + 8 + flen]))
            if gray is None or gray.shape != (h, w):
                return None  # undecodable / dims disagree
            frames.append(gray)
        j += 8 + flen + (flen & 1)
    return frames if frames else None


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
    (tests/test_audio_fp.py guards it)."""
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


def _ima_step(nib: int, pred: int, index: int):
    """One IMA ADPCM state update: the reconstructed sample and the
    next step index after 4-bit code ``nib``. The shift-add
    difference form (step>>3 base, +step/+step>>1/+step>>2 by
    magnitude bits) is the reference integer implementation — the
    one audioop uses too — and the encoder updates its state with
    this same function, so the two never drift."""
    step = _IMA_STEP_TABLE[index]
    diff = step >> 3
    if nib & 4:
        diff += step
    if nib & 2:
        diff += step >> 1
    if nib & 1:
        diff += step >> 2
    pred = pred - diff if nib & 8 else pred + diff
    pred = -32768 if pred < -32768 else (32767 if pred > 32767 else pred)
    index += _IMA_INDEX_TABLE[nib & 7]
    index = 0 if index < 0 else (88 if index > 88 else index)
    return pred, index


def _ima_decode_core(nibbles, pred: int, index: int):
    """One channel's IMA ADPCM recurrence: 4-bit codes → int16
    samples from (predictor, step index) state. Sequential by nature
    (the step adapts on every sample); per-block Python loop, cost ∝
    samples."""
    out = []
    for nib in nibbles:
        pred, index = _ima_step(int(nib), pred, index)
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
        x = np.frombuffer(data[: len(data) & ~1], dtype="<i2").astype(np.int64)
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
