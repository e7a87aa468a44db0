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
(``decode_avi_frames``) and the three animation formats
(``decode_gif_frames``, ``decode_webp_anim_frames``,
``decode_apng_frames``): each only turns its blocks or chunks into
``(x, y, w, h, pixels, dispose)`` frames, and the one compositor
``_compose`` bounds the canvas, paints the frames onto white paper
and disposes them. SAMPLE decode
covers WAV 16-bit PCM, G.711 µ-law / A-law and IMA ADPCM
(``decode_wav_samples``).

Every decoder returns None for bytes outside its envelope — no
fabricated pixels or samples, and no exception: a raise inside
``mapInPandas`` would fail the whole Spark job. The container walks
come from ``media_probe``, so a decoder and its header probe read a
stream the same way, and the sample paths share one unpacker
(``_unpack_samples``: PNG scanlines and TIFF strips), one palette
reduction (``_palette_gray``: PNG and GIF) and one padded-BGR row
reader (``_bgr_luma``: BMP and AVI).
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
    FCTL,
    GIF_MAGIC,
    PNG_MAGIC,
    _chunk,
    _PIL_Image,
    _png,
    _riff,
    _tiff_ifd0,
    _tiff_values,
    anmf_fields,
    avi_list,
    gif_blocks,
    is_riff,
    parse_avi_header,
    png_chunks,
    riff_chunks,
    riff_walk,
    vp8x_canvas,
    wav_chunks,
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
    return _bgr_luma(p, off, w, abs(h), bottom_up=h > 0)


def _bgr_stride(w: int) -> int:
    """Bytes per stored row of ``w`` BGR pixels: 3·w padded to 4."""
    return (w * 3 + 3) & ~3


def _bgr_luma(p: bytes, off: int, w: int, h: int, bottom_up: bool):
    """BT.601 luma of the ``h`` stored rows of ``w`` BGR pixels at
    ``p[off:]``, each ``_bgr_stride(w)`` bytes — the layout of a BMP
    pixel array and of an AVI ``00db`` frame — with the first stored
    row at the bottom when ``bottom_up``, or None when the rows run
    past the end."""
    stride = _bgr_stride(w)
    if off + stride * h > len(p):
        return None  # truncated pixel rows
    rows = np.frombuffer(p, dtype=np.uint8, count=stride * h, offset=off)
    bgr = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3).astype(np.int64)
    if bottom_up:
        bgr = bgr[::-1]
    return luma(bgr[:, :, 2], bgr[:, :, 1], bgr[:, :, 0])


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
    if w <= 0 or h <= 0 or w * h > MAX_CANVAS_PIXELS:
        return None
    if color == 3 and plte is None:
        return None
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bits_pp = depth * ch
    bpp = max(1, bits_pp // 8)  # filter unit: whole bytes, min 1
    passes = []  # (x0, y0, dx, dy, pw, ph, rowbytes); empty passes
    for x0, y0, dx, dy in ((0, 0, 1, 1),) if interlace == 0 else _ADAM7_PASSES:
        pw = (w - x0 + dx - 1) // dx  # contribute zero bytes
        ph = (h - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            passes.append((x0, y0, dx, dy, pw, ph, (pw * bits_pp + 7) // 8))
    raw = _inflate(b"".join(idat), sum(ph * (1 + rb) for *_, ph, rb in passes))
    if raw is None:
        return None  # corrupt, truncated or over-long pixel stream
    samples = np.zeros((h, w, ch), dtype=np.int64)
    pos = 0
    for x0, y0, dx, dy, pw, ph, rowbytes in passes:
        need = ph * (1 + rowbytes)
        rows = _png_unfilter(raw[pos : pos + need], ph, rowbytes, bpp)
        if rows is None:
            return None  # invalid filter byte
        pos += need
        samples[y0::dy, x0::dx] = _unpack_samples(rows, pw, depth, ch)
    # reduce to the 8-bit domain
    if depth == 16:
        samples >>= 8  # high byte: v·257 expansions reduce to v
    elif depth < 8 and color == 0:
        samples *= 255 // ((1 << depth) - 1)  # left-bit replication
    if color in (4, 6):
        samples = over_white(samples[:, :, :-1], samples[:, :, -1:])
    if color == 3:
        gray = _palette_gray(samples[:, :, 0], plte)
        if gray is None:
            return None  # index past the palette
    elif color in (2, 6):
        gray = luma(samples[:, :, 0], samples[:, :, 1], samples[:, :, 2])
    else:
        gray = samples[:, :, 0]  # luma(g, g, g) = g exactly
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


def _inflate(data: bytes, size: int):
    """The zlib stream ``data`` inflated, or None unless it ends —
    checksum included — after exactly ``size`` bytes. At most
    ``size + 1`` bytes are ever produced, so a few bytes of stream
    cannot expand into a large buffer."""
    z = zlib.decompressobj()
    try:
        out = z.decompress(data, size + 1)
    except zlib.error:
        return None
    return out if z.eof and len(out) == size else None


def _unpack_samples(rows, w: int, depth: int, ch: int, order: str = ">"):
    """Unpack one (sub-)image's scanline bytes (PNG after unfiltering,
    TIFF strips) into the (h, w, ch) int64 sample array: byte pairs in
    ``order`` (``>`` big-endian, ``<`` little) at depth 16, straight
    bytes at 8, MSB-first bit fields below 8 (sub-byte depths are
    single-channel; row padding bits are discarded by the trim to
    ``w``)."""
    h = rows.shape[0]
    if depth == 16:
        pairs = rows[:, : w * ch * 2].reshape(h, w, ch, 2).astype(np.int64)
        hi, lo = (0, 1) if order == ">" else (1, 0)
        return (pairs[..., hi] << 8) | pairs[..., lo]
    if depth == 8:
        return rows[:, : w * ch].reshape(h, w, ch).astype(np.int64)
    per = 8 // depth
    mask = (1 << depth) - 1
    shifts = np.arange(per - 1, -1, -1, dtype=np.int64) * depth
    expanded = (rows[:, :, None].astype(np.int64) >> shifts) & mask
    return expanded.reshape(h, -1)[:, :w].reshape(h, w, 1)


def _palette_gray(idx, table: bytes):
    """Luma of the palette indices ``idx`` through a raw RGB colour
    table (PNG ``PLTE``, GIF colour tables), or None for an index past
    the table."""
    if int(idx.max()) * 3 + 2 >= len(table):
        return None
    rgb = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
    return luma(rgb[:, 0], rgb[:, 1], rgb[:, 2])[idx]


def _gif_lzw_decode(data: bytes, min_code_size: int,
                    limit: int = MAX_CANVAS_PIXELS):
    """GIF-flavor LZW decode (variable code width, LSB-first bit
    packing, clear/EOI codes, 12-bit dictionary cap). Returns the
    palette-index list or None on a malformed stream. Codes stop
    expanding once the list holds ``limit`` indices; every later code
    is still checked, which needs only the table's size."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [(i,) for i in range(clear)] + [None, None]
    table = list(base)
    code_size = min_code_size + 1
    out = []
    prev = None
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
            prev = None
            continue
        if code == eoi:
            return out
        grow = prev is not None and len(table) < 4096
        if code >= len(table) + grow:
            return None  # neither in the table nor the next entry
        if len(out) >= limit:
            entry = ()  # past the limit: count entries, build none
        else:
            entry = table[code] if code < len(table) else prev + prev[:1]
        if grow:
            table.append(prev + entry[:1])
        out.extend(entry)
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
        prev = entry


def gif_interlace_rows(h: int) -> list:
    """Stored row order of an interlaced GIF image: the 4-pass
    (every 8th from 0, every 8th from 4, every 4th from 2, every
    2nd from 1) sequence."""
    return [*range(0, h, 8), *range(4, h, 8), *range(2, h, 4), *range(1, h, 2)]


def _gif_image(block):
    """(palette indices, luma) of one ``gif_blocks`` record:
    LZW-decoded, de-interlaced, every index inside the palette — or
    None for a malformed or oversized image."""
    _gce, _lx, _ty, iw, ih, iflags, pal, min_code, data = block
    if iw * ih > MAX_CANVAS_PIXELS:
        return None
    idx = _gif_lzw_decode(b"".join(data), min_code, iw * ih)
    if idx is None or len(idx) < iw * ih:
        return None
    arr = np.array(idx[: iw * ih], dtype=np.int64).reshape(ih, iw)
    if iflags & 0x40:  # interlaced: 4-pass row order
        de = np.empty_like(arr)
        de[gif_interlace_rows(ih)] = arr
        arr = de
    gray = _palette_gray(arr, pal)
    return None if gray is None else (arr, gray)


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
    return None if img is None else img[1]


def _compose(width: int, height: int, frames):
    """The one animation compositor: the luma snapshots of a
    ``width``×``height`` WHITE canvas after each of ``frames``, or
    None for a canvas over :data:`MAX_CANVAS_PIXELS` and for a frame
    that is None (malformed), lies outside the canvas, or whose pixels
    do not decode to its size — each fails the whole animation — or
    for no frame at all. A frame is ``(x, y, w, h, pixels, dispose)``:
    ``pixels()`` decodes its ``h``×``w`` luma (None when it cannot;
    negative entries are transparent and paint nothing), called only
    once the rect is known to fit. After the snapshot ``dispose`` 1
    restores the rect to the white paper, 2 to what it covered
    before, and 0 keeps it. ``frames`` is consumed lazily, so nothing
    is decoded for a refused canvas."""
    if width <= 0 or height <= 0 or width * height > MAX_CANVAS_PIXELS:
        return None
    canvas = np.full((height, width), 255, dtype=np.int64)  # white paper
    out = []
    for frame in frames:
        if frame is None:
            return None
        x, y, w, h, pixels, dispose = frame
        gray = pixels() if x + w <= width and y + h <= height else None
        if gray is None or gray.shape != (h, w):
            return None
        region = canvas[y : y + h, x : x + w]
        saved = region.copy() if dispose == 2 else None
        np.copyto(region, gray, where=gray >= 0)
        out.append(canvas.copy())
        if dispose == 1:
            region[:] = 255
        elif dispose == 2:
            region[:] = saved
    return out or None


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
    screen = struct.unpack_from("<HH", p, 6)
    return _compose(*screen, map(_gif_frame, gif_blocks(p)))


def _gif_frame(block):
    """One ``gif_blocks`` record as a ``_compose`` frame: pixels with
    the GCE's transparent index are transparent, disposal 2 restores
    the paper and 3 the previous contents (0, 1 and the reserved 4-7
    keep the frame) — or None for a malformed block."""
    if block is None:
        return None
    gce, lx, ty, iw, ih = block[:5]

    def pixels():
        img = _gif_image(block)
        if img is None:
            return None
        arr, gray = img
        if gce is not None and gce[0] & 1:
            gray = np.where(arr == gce[3], -1, gray)
        return gray

    disposal = 0 if gce is None else gce[0] >> 2 & 0x7
    return lx, ty, iw, ih, pixels, {2: 1, 3: 2}.get(disposal, 0)


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
    chunks = webp_anim_chunks(payload)
    if chunks is None:
        return None
    anmf = (_webp_frame(body) for tag, body in chunks if tag == b"ANMF")
    return _compose(*vp8x_canvas(payload), anmf)


def _webp_frame(body: bytes):
    """One ANMF chunk body as a ``_compose`` frame — its optional
    ALPH chunk, then one VP8/VP8L stream decoded as a still WebP —
    or None outside the envelope (``decode_webp_anim_frames``)."""
    anmf = anmf_fields(body)
    sub = None if anmf is None else riff_chunks(body, 16)
    if sub is None:
        return None
    x, y, w, h, _, flags = anmf
    has_alpha = False
    for tag, data in sub:
        if tag in (b"VP8 ", b"VP8L"):
            break
        has_alpha |= tag == b"ALPH"
    else:
        return None  # no frame bitstream
    if tag == b"VP8L" and len(data) >= 5:
        # VP8L header: signature byte, then 14+14 dim bits; the ALPHA
        # HINT is the next bit (bit 4 of the 4th bitstream byte)
        has_alpha |= bool(data[4] & 0x10)
    if has_alpha and not flags & 0x02:
        return None  # alpha blending: fail closed (docstring)
    still = _riff(b"WEBP", _chunk(tag, data, pad=True))

    def pixels():
        gray = decode_webp_lossless_pixels(still)
        return decode_webp_lossy_pixels(still) if gray is None else gray

    return x, y, w, h, pixels, flags & 0x01  # bit 0: dispose to paper


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
            if clen != FCTL.size:
                return None
            fctl = FCTL.unpack(data)
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
    pal = [] if plte is None else [(b"PLTE", plte)]

    def frame(i, fctl, parts, is_idat):
        _, fw, fh, fx, fy, _, _, dispose, blend = fctl
        if not parts:
            return None  # fcTL without frame data
        if is_idat and (fw, fh, fx, fy) != (W, H, 0, 0):
            return None  # spec: the IDAT frame covers the canvas
        if blend == 1 and (color in (4, 6) or trns):
            return None  # true alpha blending: fail closed
        if blend > 1 or dispose > 2:
            return None
        ihdr = struct.pack(">II", fw, fh) + ihdr_raw[8:]
        still = _png([(b"IHDR", ihdr), *pal, (b"IDAT", b"".join(parts))])
        # spec: a first frame's dispose-to-previous means background
        dispose = 1 if dispose == 2 and i == 0 else dispose
        return fx, fy, fw, fh, lambda: decode_png_pixels(still), dispose

    return _compose(W, H, (frame(i, *m) for i, m in enumerate(frames_meta)))


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
    sam = _unpack_samples(rows, w, bits, spp, end)
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
    else:
        # the 8-bit domain: 16-bit by the high byte (the PNG rule)
        sam = sam >> 8 if bits == 16 else sam * 255 if bits == 1 else sam
        if spp == 4:
            sam = over_white(sam[:, :, :3], sam[:, :, 3:])
        if photo == 2:
            gray = luma(sam[:, :, 0], sam[:, :, 1], sam[:, :, 2])
        else:
            gray = 255 - sam[:, :, 0] if photo == 0 else sam[:, :, 0]
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
    if len(payload) >= 16 and is_riff(payload, b"WEBP"):
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
    p = payload
    frames = []
    for tag, at, flen in riff_walk(p, *(avi_list(p, b"movi") or (0, 0))):
        if tag[2:4] == b"db":
            if flen != _bgr_stride(w) * h:
                return None  # mis-sized frame
            gray = _bgr_luma(p, at, w, h, bottom_up=True)
            if gray is None:
                return None  # truncated frame
        elif tag[2:4] == b"dc" and p[at : at + 2] == b"\xff\xd8":
            if at + flen > len(p):
                return None  # truncated MJPEG frame
            gray = decode_jpeg_pixels(mjpeg_ensure_dht(p[at : at + flen]))
            if gray is None or gray.shape != (h, w):
                return None  # undecodable / dims disagree
        else:
            continue
        frames.append(gray)
    return frames or None


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
    fmt, fmt_ext, data = None, b"", None
    for tag, at, clen in wav_chunks(p):
        if tag == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", p, at)
            fmt_ext = p[at + 16 : at + clen]
        elif at + clen > len(p):
            return None  # truncated sample data
        else:
            data = p[at : at + clen]
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
