"""WebP lossless (VP8L, RFC 9649) in pure Python + numpy — no codec
library — plus lossy VP8 through libwebp's own decoder.

One bitstream model serves both directions. A VP8L image is a chain
of transforms, each with its own sub-images, followed by one
prefix-coded image; every prefix-coded image (main, predictor or
colour tiles, palette, meta-code tiles) is five canonical prefix codes
— green + LZ77 length + colour-cache symbols, red, blue, alpha, LZ77
distance — followed by one symbol per literal channel, LZ77 copy or
cache hit. Each rule of that model is written once and used by both
the reader and the fixture writer:

- the canonical code assignment (``_prefix_code``, which is
  ``jpeg._canonical``'s rule read off per-symbol lengths): the reader
  keys its table by code, the writer by symbol;
- the LZ77 prefix-value ranges (``_prefix_range``; the writer's
  ``_prefix_symbol`` searches them);
- the colour-cache hash (``_cache_slot``);
- the palette-size → index-bundling rule (``_bundle_bits``) and the
  palette's per-channel delta coding (``_palette_delta``).

The reader takes every transform (predictor with all 14 modes and the
spec's edge rules, colour, subtract-green, colour indexing with
sub-byte index bundling), both prefix-code forms (SIMPLE, and
code-length-coded with 16/17/18 repeats and the max-symbol cap), meta
prefix-code tiles, the colour cache and LZ77 with the 120-entry
neighbour map. Running out of bits and every validity check raise one
private exception (``_Malformed``), which
:func:`decode_webp_lossless_pixels` turns into None in one place. A
header that declares more than :data:`MAX_CANVAS_PIXELS` is refused
before anything is allocated, on both pixel paths.

The pixels reduce to the shared 8-bit luma domain like every other
pixel path (``jpeg.over_white`` then ``jpeg.luma``), so an opaque WebP
re-save of a PNG/BMP image hashes identically.

Conformance is checked against libwebp itself wherever ``libwebp.so``
loads through ctypes (tests/test_webp_conformance.py): its
``WebPEncodeLosslessRGBA`` output over an image battery decodes
exactly; one crafted stream per distance code re-derives the whole
``_DIST_MAP`` against ``WebPDecodeRGBA``; crafted random-residual
streams pin each predictor mode. Lossy VP8 and the extended VP8X
container are left to :func:`decode_webp_lossy_pixels`, a lazy ctypes
binding to libwebp's ``WebPDecodeRGBA``; where libwebp is absent the
guarded-PIL / NULL-hash admission path applies.

The writer half (``encode_webp_lossless``) is a TEST FIXTURE like the
PNG/GIF/JPEG encoders: each of its five variants is a transform header
plus the symbol image it hands to the one image writer
(``_write_image``), so every decode branch the reader supports is
round-trip pinned.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import struct

import numpy as np

from tidb_cdc_spark.functions.jpeg import (
    MAX_CANVAS_PIXELS,
    _canonical,
    luma,
    over_white,
)

# code-length-code read order (RFC 9649, "Decoding of Code Lengths")
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

# code-length repeat symbols: (extra bits, base repeat count)
_REPEAT = {16: (2, 3), 17: (3, 3), 18: (7, 11)}

# The COMPLETE 120-entry LZ77 neighbor map — (dx, dy) per distance
# code, dist = dy·width + dx (clamped to ≥1). Every entry verified
# against libwebp's own decoder: per-code crafted streams decoded by
# both implementations agree pixel-for-pixel (the guarded ctypes
# conformance test in tests/test_webp_conformance.py re-derives the
# whole table wherever libwebp.so is present).
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1),
    (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2),
    (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3),
    (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1),
    (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4),
    (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1),
    (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5),
    (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1),
    (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4),
    (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7),
    (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4),
    (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3),
    (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4),
    (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7),
    (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5),
    (7, 7), (-7, 7), (8, 6), (8, 7),
]
assert len(_DIST_MAP) == 120 and len(set(_DIST_MAP)) == 120


class _Malformed(Exception):
    """A VP8L stream that runs out of bits or breaks a rule of the
    format; :func:`decode_webp_lossless_pixels` returns None for it."""


def _check(ok) -> None:
    if not ok:
        raise _Malformed


def _subsample(size: int, bits: int) -> int:
    """DIV_ROUND_UP(size, 2**bits): tile and bundled-image extents."""
    return -(-size >> bits)


def _prefix_code(lengths):
    """The canonical prefix code of per-symbol code ``lengths``:
    ``(symbol, code, length)`` per coded symbol, by ``jpeg._canonical``
    (the same shortest-first rule). A lone symbol codes to zero bits."""
    coded = sorted((ln, s) for s, ln in enumerate(lengths) if ln)
    counts = [0] * 16
    for ln, _ in coded:
        counts[ln - 1] += 1
    code = list(_canonical(counts, [s for _, s in coded]))
    return [(code[0][0], 0, 0)] if len(code) == 1 else code


def _prefix_range(code: int):
    """(first value, extra bits) of LZ77 length/distance prefix
    symbol ``code`` (RFC 9649, "LZ77 Backward Reference")."""
    if code < 4:
        return code + 1, 0
    extra = (code - 2) >> 1
    return ((2 + (code & 1)) << extra) + 1, extra


def _cache_slot(argb: int, cache_bits: int) -> int:
    """Colour-cache slot of ``argb`` (RFC 9649, "Color Cache Coding")."""
    return (0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)


def _bundle_bits(npal: int) -> int:
    """log2 of the pixels one colour-indexed byte bundles for a
    palette of ``npal`` entries: 8, 4, 2 or 1 pixels (RFC 9649,
    "Color Indexing Transform")."""
    return 3 if npal <= 2 else 2 if npal <= 4 else 1 if npal <= 16 else 0


def _palette_delta(argb, decode: bool):
    """Palette delta coding (same section): each entry is stored as
    its per-channel difference, mod 256, from the entry before it.
    ``decode`` sums the differences back up."""
    ch = np.asarray(argb, dtype=np.uint32).view(np.uint8).reshape(-1, 4)
    ch = ch.astype(np.int64)
    ch = np.cumsum(ch, axis=0) if decode else np.diff(ch, axis=0, prepend=0)
    return (ch & 0xFF).astype(np.uint8).view(np.uint32).reshape(-1)


# ------------------------------------------------------------ reader


class _LsbReader:
    """LSB-first bit reader (VP8L convention — opposite of JPEG)."""

    def __init__(self, d: bytes, pos: int = 0):
        self.d = d
        self.bit = pos * 8

    def bits(self, n: int) -> int:
        bit = self.bit
        end = bit + n
        _check(end <= len(self.d) * 8)
        self.bit = end
        chunk = int.from_bytes(self.d[bit >> 3 : (end + 7) >> 3], "little")
        return (chunk >> (bit & 7)) & ((1 << n) - 1)

    def symbol(self, table) -> int:
        """One prefix-coded symbol. ``table`` maps ``1 << length |
        code`` to the symbol; code bits arrive MSB first, and a
        one-symbol code (key 1) reads no bits."""
        d = self.d
        bit = self.bit
        key = 1
        while key not in table:
            # codes are at most 15 bits
            _check(key < 1 << 15 and bit >> 3 < len(d))
            key = key << 1 | (d[bit >> 3] >> (bit & 7) & 1)
            bit += 1
        self.bit = bit
        return table[key]


def _read_table(lengths):
    """The reader's table for code ``lengths``; an empty or
    over-subscribed code is malformed."""
    code = _prefix_code(lengths)
    _check(code and all(c < 1 << ln for _, c, ln in code))
    return {1 << ln | c: s for s, c, ln in code}


def _read_prefix_code(br: _LsbReader, alphabet: int):
    """One prefix code: SIMPLE (1-2 symbols, direct bits) or normal
    (code-length-coded lengths with 16/17/18 repeats and the optional
    max-symbol cap)."""
    lengths = [0] * alphabet
    if br.bits(1):
        two = br.bits(1)
        syms = [br.bits(8 if br.bits(1) else 1)]
        if two:
            syms.append(br.bits(8))
        _check(max(syms) < alphabet and len(set(syms)) == len(syms))
        for s in syms:
            lengths[s] = 1
        return _read_table(lengths)
    cl_len = [0] * 19
    for i in range(br.bits(4) + 4):
        cl_len[_CL_ORDER[i]] = br.bits(3)
    cl_table = _read_table(cl_len)
    max_symbol = 2 + br.bits(2 + 2 * br.bits(3)) if br.bits(1) else alphabet
    symbol = 0
    prev = 8
    while symbol < alphabet and max_symbol > 0:
        max_symbol -= 1
        cl = br.symbol(cl_table)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            prev = cl or prev
            continue
        extra, base = _REPEAT[cl]
        repeat = base + br.bits(extra)
        _check(symbol + repeat <= alphabet)
        lengths[symbol : symbol + repeat] = [prev if cl == 16 else 0] * repeat
        symbol += repeat
    return _read_table(lengths)


def _read_image(br: _LsbReader, w: int, h: int, level0: bool = False):
    """One prefix-coded image → uint32 ARGB array of w*h. ``level0``
    (the main image) admits meta prefix-code tiles; every image may
    carry a colour cache."""
    cache_bits = 0
    if br.bits(1):
        cache_bits = br.bits(4)
        _check(1 <= cache_bits <= 11)
    tile_bits = 0
    groups = 1
    if level0 and br.bits(1):
        tile_bits = br.bits(3) + 2
        tw = _subsample(w, tile_bits)
        # group id = (red << 8) | green
        ids = _read_image(br, tw, _subsample(h, tile_bits)) >> 8 & 0xFFFF
        groups = int(ids.max()) + 1
    green = 256 + 24 + (cache_bits and 1 << cache_bits)
    codes = [
        [_read_prefix_code(br, n) for n in (green, 256, 256, 256, 40)]
        for _ in range(groups)
    ]
    n = w * h
    gcode, rcode, bcode, acode, dcode = codes[0]
    if groups == 1 and not cache_bits and all(
        1 in c for c in (gcode, rcode, bcode, acode)
    ) and gcode[1] < 256:
        # one-symbol literal codes: every pixel is one ARGB, no bits
        argb = acode[1] << 24 | rcode[1] << 16 | gcode[1] << 8 | bcode[1]
        return np.full(n, argb, dtype=np.uint32)
    cache = [0] * (1 << cache_bits)
    px = np.zeros(n, dtype=np.uint32)
    pos = 0
    while pos < n:
        if groups > 1:
            x, y = pos % w, pos // w
            gcode, rcode, bcode, acode, dcode = codes[
                int(ids[(y >> tile_bits) * tw + (x >> tile_bits)])
            ]
        g = br.symbol(gcode)
        if g < 256:  # literal
            r = br.symbol(rcode)
            b = br.symbol(bcode)
            argb = br.symbol(acode) << 24 | r << 16 | g << 8 | b
            px[pos] = argb
            pos += 1
            if cache_bits:
                cache[_cache_slot(argb, cache_bits)] = argb
        elif g < 280:  # LZ77 copy
            first, extra = _prefix_range(g - 256)
            length = first + br.bits(extra)
            first, extra = _prefix_range(br.symbol(dcode))
            dist = first + br.bits(extra)
            if dist > 120:
                dist -= 120
            else:
                dx, dy = _DIST_MAP[dist - 1]
                dist = max(dy * w + dx, 1)
            _check(dist <= pos and pos + length <= n)
            for _ in range(length):
                argb = int(px[pos - dist])
                px[pos] = argb
                pos += 1
                if cache_bits:
                    cache[_cache_slot(argb, cache_bits)] = argb
        else:  # colour-cache hit (the green alphabet bounds the slot)
            px[pos] = cache[g - 280]
            pos += 1
    return px


def _inv_subtract_green(px, w, h):
    g = (px >> 8) & 0xFF
    r = ((px >> 16) & 0xFF) + g
    b = (px & 0xFF) + g
    return (
        (px & np.uint32(0xFF00FF00))
        | ((r & 0xFF).astype(np.uint32) << 16)
        | (b & 0xFF).astype(np.uint32)
    )


def _cdelta(t, c):
    """Signed 3.5 fixed-point color-transform delta (int arrays)."""
    ts = np.where(t >= 128, t - 256, t).astype(np.int64)
    cs = np.where(c >= 128, c - 256, c).astype(np.int64)
    return (ts * cs) >> 5


def _inv_color_transform(px, w, h, bits, tiles):
    tw = _subsample(w, bits)
    out = px.copy()
    xs = np.arange(w * h) % w
    ys = np.arange(w * h) // w
    tid = (ys >> bits) * tw + (xs >> bits)
    tpx = tiles[tid]
    # the transform element pixel stores: BLUE = green_to_red,
    # GREEN = green_to_blue, RED = red_to_blue
    g2red = tpx & 0xFF
    g2blue = (tpx >> 8) & 0xFF
    r2blue = (tpx >> 16) & 0xFF
    g = (out >> 8) & 0xFF
    r = ((out >> 16) & 0xFF).astype(np.int64)
    b = (out & 0xFF).astype(np.int64)
    r = (r + _cdelta(g2red, g)) & 0xFF
    b = (b + _cdelta(g2blue, g) + _cdelta(r2blue, r)) & 0xFF
    return (
        (out & np.uint32(0xFF00FF00))
        | (r.astype(np.uint32) << 16)
        | b.astype(np.uint32)
    )


#: per predictor mode, its candidate in ``_inv_predictor``'s row
#: stack — black, T, TR, TL, avg(TL, T), avg(T, TR) for modes 0, 2,
#: 3, 4, 8, 9, which read only the row above (TR at the right edge is
#: the row's first pixel, decoded first) — or -1 for a mode reading L
_ROW_PICK = np.array([0, -1, 1, 2, 3, -1, -1, -1, 4, 5, -1, -1, -1, -1])


def _predict(mode: int, L, T, TL, TR):
    """Predictor ``mode`` (one that reads L) per channel of four-int
    lists (RFC 9649, "Predictor Transform")."""
    if mode == 1:
        return L
    if mode == 11:  # Select: ties go to T (strict comparison)
        pl = sum(abs(t - tl) for t, tl in zip(T, TL))
        pt = sum(abs(lv - tl) for lv, tl in zip(L, TL))
        return L if pl < pt else T
    out = []
    for lv, t, tl, tr in zip(L, T, TL, TR):
        if mode == 5:
            v = (((lv + tr) >> 1) + t) >> 1
        elif mode == 6:
            v = (lv + tl) >> 1
        elif mode == 7:
            v = (lv + t) >> 1
        elif mode == 10:
            v = (((lv + tl) >> 1) + ((t + tr) >> 1)) >> 1
        elif mode == 12:
            v = lv + t - tl
        else:  # 13: AddSubtractComponentHalf, C division (toward zero)
            a = (lv + t) >> 1
            d = a - tl
            v = a + (d >> 1 if d >= 0 else -(-d >> 1))
        out.append(0 if v < 0 else 255 if v > 255 else v)
    return out


def _inv_predictor(px, w, h, bits, tiles):
    """Invert the predictor transform (14 modes) on per-channel
    planes. Row 0 is a running sum from the opaque-black base, column
    0 adds the pixel above. Elsewhere each row first takes every
    pixel whose mode reads only the row above at once, then the modes
    that read L left to right on Python ints."""
    shifts = np.array([24, 16, 8, 0])
    res = px.astype(np.int64).reshape(h, w, 1) >> shifts & 0xFF
    out = np.empty_like(res)
    res[0, 0, 0] += 0xFF  # (0, 0) predicts 0xff000000
    out[0] = np.cumsum(res[0], axis=0) % 256
    if h > 1 and w > 1:
        modes = (tiles.astype(np.int64) >> 8 & 0xFF).reshape(-1, _subsample(w, bits))
        _check(int(modes.max()) <= 13)
        modes = np.repeat(modes, 1 << bits, axis=1)[:, 1:w]  # x = 1 .. w-1
        picks = _ROW_PICK[modes]
        left = [(np.flatnonzero(k < 0) + 1).tolist() for k in picks]
        cols = np.arange(w - 1)
        black = np.broadcast_to([0xFF, 0, 0, 0], (w - 1, 4))
    for y in range(1, h):
        up, row = out[y - 1], out[y]
        row[0] = (res[y, 0] + up[0]) % 256
        if w == 1:
            continue
        T, TL = up[1:], up[:-1]
        TR = np.concatenate([up[2:], row[:1]])
        cand = np.stack([black, T, TR, TL, (TL + T) >> 1, (T + TR) >> 1])
        # a mode reading L picks the last candidate, then is redone
        row[1:] = (res[y, 1:] + cand[picks[y >> bits], cols]) % 256
        xs = left[y >> bits]
        if xs:
            m = modes[y >> bits].tolist()
            cur, top, r = row.tolist(), up.tolist(), res[y].tolist()
            for x in xs:
                tr = top[x + 1] if x + 1 < w else cur[0]
                p = _predict(m[x - 1], cur[x - 1], top[x], top[x - 1], tr)
                cur[x] = [(a + b) & 0xFF for a, b in zip(r[x], p)]
            out[y] = cur
    return (out[..., 0] << 24 | out[..., 1] << 16 | out[..., 2] << 8
            | out[..., 3]).astype(np.uint32).reshape(-1)


def _inv_color_indexing(px, w, h, palette, xbits):
    """Invert colour indexing: unbundle the indices packed LSB-first
    into the green channel (``1 << xbits`` per byte), look them up,
    then drop the padding columns past ``w``."""
    ibits = 8 >> xbits
    g = (px >> 8 & 0xFF).astype(np.int64).reshape(h, -1)
    idx = np.stack(
        [g >> (j * ibits) & (1 << ibits) - 1 for j in range(1 << xbits)],
        axis=2,
    ).reshape(h, -1)
    _check(int(idx.max()) < len(palette))
    return palette[idx[:, :w]].reshape(-1)


def decode_webp_lossless_pixels(payload: bytes):
    """REAL VP8L pixel decode → int64 BT.601 luma array (h, w) with
    alpha composited over white, or None outside the supported
    envelope (lossy VP8, VP8X extended container, a canvas over
    :data:`MAX_CANVAS_PIXELS`, truncated or malformed streams —
    module docstring)."""
    try:
        return _decode_vp8l(payload)
    except _Malformed:
        return None


def _decode_vp8l(p: bytes):
    _check(len(p) >= 21 and p[:4] == b"RIFF" and p[8:12] == b"WEBP")
    _check(p[12:16] == b"VP8L")  # lossy VP8 / VP8X: libwebp's territory
    (chunk_len,) = struct.unpack_from("<I", p, 16)
    data = p[20 : 20 + chunk_len]
    _check(len(data) == chunk_len >= 5 and data[0] == 0x2F)
    br = _LsbReader(data, 1)
    w = br.bits(14) + 1
    h = br.bits(14) + 1
    br.bits(1)  # alpha hint
    _check(br.bits(3) == 0 and w * h <= MAX_CANVAS_PIXELS)
    transforms = []  # (type, parameters, width at read time), read order
    cur_w = w
    while br.bits(1):
        ttype = br.bits(2)
        _check(all(t != ttype for t, _, _ in transforms))
        if ttype in (0, 1):  # predictor / colour transform tiles
            bits = br.bits(3) + 2
            tiles = _read_image(
                br, _subsample(cur_w, bits), _subsample(h, bits)
            )
            transforms.append((ttype, (bits, tiles), cur_w))
        elif ttype == 3:  # colour indexing
            npal = br.bits(8) + 1
            pal = _palette_delta(_read_image(br, npal, 1), decode=True)
            xbits = _bundle_bits(npal)
            transforms.append((3, (pal, xbits), cur_w))
            cur_w = _subsample(cur_w, xbits)
        else:  # subtract green
            transforms.append((2, None, cur_w))
    px = _read_image(br, cur_w, h, level0=True)
    for ttype, tp, tw in reversed(transforms):
        if ttype == 0:
            px = _inv_predictor(px, tw, h, *tp)
        elif ttype == 1:
            px = _inv_color_transform(px, tw, h, *tp)
        elif ttype == 2:
            px = _inv_subtract_green(px, tw, h)
        else:
            px = _inv_color_indexing(px, tw, h, *tp)
    argb = px.reshape(h, w).astype(np.int64)
    a = argb >> 24 & 0xFF
    return luma(*(over_white(argb >> s & 0xFF, a) for s in (16, 8, 0)))


# ------------------------------------------------ writer (fixture)


class _LsbWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int):
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int):
        """Prefix codes pack MSB-of-code first."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _balanced_lengths(symbols, alphabet):
    """Near-balanced code lengths over two or more ``symbols``: a
    complete code of depth ceil(log2 k), the first few symbols promoted
    one level up so the Kraft sum is exactly 1."""
    depth = max(1, (len(symbols) - 1).bit_length())
    promote = (1 << depth) - len(symbols)
    lengths = [0] * alphabet
    for i, s in enumerate(sorted(symbols)):
        lengths[s] = depth - 1 if i < promote else depth
    return lengths


def _length_runs(lengths):
    """The code-length symbol sequence for ``lengths``: (symbol, extra
    value, extra bits), with 17/18 for zero runs and 16 for repeats of
    a nonzero length, so the reader's repeat machinery is exercised."""
    seq = []
    i = 0
    end = len(lengths)
    while i < end:
        ln = lengths[i]
        j = i + 1
        while j < end and lengths[j] == ln:
            j += 1
        run = j - i
        if ln:
            seq.append((ln, 0, 0))
            run -= 1
        for sym in (16,) if ln else (18, 17):
            extra, base = _REPEAT[sym]
            while run >= base:
                r = min(run, base + (1 << extra) - 1)
                seq.append((sym, r - base, extra))
                run -= r
        seq += [(ln, 0, 0)] * run
        i = j
    return seq


def _write_code(bw: _LsbWriter, symbols, alphabet, use_max=False):
    """Write the prefix code over the sorted ``symbols`` and return its
    {symbol: (code, length)}: the SIMPLE form for at most two symbols
    below 256, else near-balanced lengths in the normal form (a
    balanced code-length code over the length symbols used, all 19
    slots written; ``use_max`` writes the max-symbol cap)."""
    if len(symbols) <= 2 and symbols[-1] < 256:
        first8 = len(symbols) == 2 or symbols[0] > 1
        bw.write(1, 1)  # simple
        bw.write(len(symbols) - 1, 1)
        bw.write(first8, 1)
        bw.write(symbols[0], 8 if first8 else 1)
        if len(symbols) == 2:
            bw.write(symbols[1], 8)
        lengths = [0] * alphabet
        for s in symbols:
            lengths[s] = 1
    else:
        lengths = _balanced_lengths(symbols, alphabet)
        seq = _length_runs(lengths[: symbols[-1] + 1] if use_max else lengths)
        used = sorted({s for s, _, _ in seq})
        if len(used) == 1:
            # a one-symbol code-length code would read zero bits; a
            # second (unused) symbol keeps it at one bit per entry
            used = sorted(used + [1 if used[0] == 0 else 0])
        cl_len = _balanced_lengths(used, 19)
        bw.write(0, 1)  # normal
        bw.write(15, 4)  # all 19 code-length code lengths
        for k in _CL_ORDER:
            bw.write(cl_len[k], 3)
        bw.write(use_max, 1)
        if use_max:
            bw.write(7, 3)  # length_nbits = 16
            bw.write(len(seq) - 2, 16)
        cl_code = {s: (c, ln) for s, c, ln in _prefix_code(cl_len)}
        for s, extra, nb in seq:
            bw.write_code(*cl_code[s])
            bw.write(extra, nb)
    return {s: (c, ln) for s, c, ln in _prefix_code(lengths)}


def _write_image(bw, image, level0=False, cache_bits=0, use_max=False,
                 reserve=()):
    """Write one prefix-coded image: the colour-cache bits (and, for
    the main image, a clear meta-code bit), the five prefix codes over
    the symbols it uses, then its symbols. ``image`` holds a Python
    int per literal ARGB pixel and a ``(code, symbol, extra value,
    extra bits)`` token per copy or cache hit (code 0 = green/length/
    cache, 4 = distance). ``reserve`` puts green symbols in the green
    code whether or not the image uses them."""
    tokens = []
    for e in image:
        if isinstance(e, int):  # literal: green, red, blue, alpha
            tokens += (
                (0, e >> 8 & 0xFF, 0, 0), (1, e >> 16 & 0xFF, 0, 0),
                (2, e & 0xFF, 0, 0), (3, e >> 24, 0, 0),
            )
        else:
            tokens.append(e)
    used = [set(reserve), set(), set(), set(), set()]
    for c, s, _, _ in tokens:
        used[c].add(s)
    bw.write(bool(cache_bits), 1)
    if cache_bits:
        bw.write(cache_bits, 4)
    if level0:
        bw.write(0, 1)  # no meta prefix codes
    green = 256 + 24 + (cache_bits and 1 << cache_bits)
    codes = [
        _write_code(bw, sorted(u or {0}), n, use_max)
        for u, n in zip(used, (green, 256, 256, 256, 40))
    ]
    for c, s, extra, nb in tokens:
        bw.write_code(*codes[c][s])
        bw.write(extra, nb)


def _prefix_symbol(v: int):
    """(prefix symbol, extra value, extra bits) coding LZ77 value
    ``v``: the inverse of :func:`_prefix_range`."""
    code = 0
    while True:
        first, extra = _prefix_range(code)
        if v < first + (1 << extra):
            return code, v - first, extra
        code += 1


def encode_webp_lossless(
    gray,
    variant: str = "literal",
    alpha: int = 255,
) -> bytes:
    """TEST FIXTURE: encode an int64 gray array as a REAL VP8L
    lossless WebP. Variants (byte-disjoint encodings of identical
    pixels):

    - ``literal`` — no transform, ARGB literals at ``alpha``;
    - ``pal`` — colour-indexing transform (≤16 grays ⇒ sub-byte
      index bundling);
    - ``sg`` — subtract-green transform (r=g=b ⇒ residual red/blue
      are 0);
    - ``lz`` — LZ77 copy-above backrefs for repeated rows + colour
      cache + the max-symbol cap path;
    - ``pred`` — predictor transform, one tile in mode 2 (T).
    """
    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    head = []  # (value, bits) fields of the one transform, if any
    sub = None  # that transform's sub-image
    opts = {}
    if variant == "literal":
        image = (alpha << 24 | g * 0x010101).ravel().tolist()
    elif variant == "sg":
        head = [(1, 1), (2, 2)]
        image = (0xFF000000 | g << 8).ravel().tolist()
    elif variant == "pal":
        vals = np.unique(g)
        if len(vals) > 16:
            raise ValueError("pal variant needs ≤16 grays")
        head = [(1, 1), (3, 2), (len(vals) - 1, 8)]
        pal = 0xFF000000 | vals * 0x010101
        sub = _palette_delta(pal, decode=False).tolist()
        xbits = _bundle_bits(len(vals))
        per = 1 << xbits
        idx = np.searchsorted(vals, g)
        idx = np.pad(idx, ((0, 0), (0, _subsample(w, xbits) * per - w)))
        shifts = np.arange(per) * (8 >> xbits)
        packed = (idx.reshape(h, -1, per) << shifts).sum(axis=2)
        image = (0xFF000000 | packed << 8).ravel().tolist()
    elif variant == "lz":
        # a row equal to the one above is one copy (length w, distance
        # symbol 0 = neighbour (0, 1)); other pixels are cache hits
        # when the 4-bit cache holds them, else literals
        lcode, lextra, lbits = _prefix_symbol(w)
        opts = {"cache_bits": 4, "use_max": True, "reserve": [256 + lcode]}
        opaque = (0xFF000000 | g * 0x010101).ravel().tolist()
        cache = [None] * 16
        image = []
        for y in range(h):
            row = opaque[y * w : (y + 1) * w]
            copy = y > 0 and row == opaque[(y - 1) * w : y * w]
            if copy:
                image += [(0, 256 + lcode, lextra, lbits), (4, 0, 0, 0)]
            for argb in row:
                slot = _cache_slot(argb, 4)
                if not copy:
                    image.append(
                        (0, 280 + slot, 0, 0) if cache[slot] == argb else argb
                    )
                cache[slot] = argb
    elif variant == "pred":
        # residuals per the inverse rules: (0,0) against 0xff000000,
        # the top row against L, everything else against T (the left
        # column by rule, the body by the tile's mode 2)
        if w > 512 or h > 512:
            raise ValueError("pred variant fixture caps dims at 512")
        head = [(1, 1), (0, 2), (7, 3)]  # size_bits 9: one 512×512 tile
        sub = [2 << 8]  # the tile: mode 2 in green
        pred = np.zeros_like(g)
        pred[0, 1:] = g[0, :-1]
        pred[1:] = g[:-1]
        image = ((g - pred) % 256 * 0x010101).ravel().tolist()
    else:
        raise ValueError(f"unknown webp variant: {variant!r}")
    bw = _LsbWriter()
    for v, n in ((w - 1, 14), (h - 1, 14), (0, 1), (0, 3), *head):
        bw.write(v, n)
    if sub is not None:
        _write_image(bw, sub)
    bw.write(0, 1)  # no further transform
    _write_image(bw, image, level0=True, **opts)
    data = b"\x2f" + bw.flush()
    padded = data + b"\x00" * (len(data) % 2)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(padded)) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(data)) + padded
    )


# ------------------------------------------- lossy VP8 via libwebp
# Lossy VP8 (and the extended VP8X container) cannot be decoded
# bit-deterministically in pure Python at pipeline cost, but any
# decode-fleet image ships libwebp's shared library. A lazy ctypes
# binding gives lossy WebP REAL pixels with no Python codec package:
# WebPDecodeRGBA handles every WebP flavor (VP8 lossy, VP8L lossless,
# VP8X-wrapped either). The pure VP8L path above stays FIRST in
# `decode_pixels` so lossless hashes never depend on the environment;
# this branch only catches what the pure path declines, exactly like
# the guarded PIL branch it upgrades.

_LIBWEBP = None  # None = not yet probed; False = probed, absent


def _libwebp():
    """Lazily load libwebp via ctypes; None when the library is
    absent (the NULL-hash admission path then applies). Loaded once
    per Python worker process — the handle is reused across Arrow
    batches."""
    global _LIBWEBP
    if _LIBWEBP is None:
        lib = None
        for name in ("libwebp.so.7", "libwebp.so", "libwebp.dylib"):
            try:
                lib = ctypes.CDLL(name)
                break
            except OSError:
                continue
        if lib is None:
            found = ctypes.util.find_library("webp")
            if found:
                try:
                    lib = ctypes.CDLL(found)
                except OSError:
                    lib = None
        if lib is None:
            _LIBWEBP = False
        else:
            size_args = [
                ctypes.c_char_p, ctypes.c_size_t,
                ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
            ]
            lib.WebPGetInfo.restype = ctypes.c_int
            lib.WebPGetInfo.argtypes = size_args
            lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
            lib.WebPDecodeRGBA.argtypes = size_args
            lib.WebPEncodeRGBA.restype = ctypes.c_size_t
            lib.WebPEncodeRGBA.argtypes = [
                ctypes.c_char_p, ctypes.c_int, ctypes.c_int, ctypes.c_int,
                ctypes.c_float,
                ctypes.POINTER(ctypes.POINTER(ctypes.c_uint8)),
            ]
            lib.WebPFree.argtypes = [ctypes.c_void_p]
            _LIBWEBP = lib
    return _LIBWEBP or None


def decode_webp_lossy_pixels(payload: bytes):
    """Decode ANY WebP flavor through libwebp's own WebPDecodeRGBA
    (ctypes) → the same int64 BT.601 luma-over-white array every
    pure path produces, or None when libwebp is absent, its header
    read (WebPGetInfo) declares a canvas over
    :data:`MAX_CANVAS_PIXELS`, or it rejects the stream.
    Deterministic for a given libwebp build (the decode spec is exact;
    only the ENCODER side of lossy VP8 has freedom), so hashes are
    stable within a fleet that pins its image."""
    lib = _libwebp()
    if lib is None:
        return None
    if (
        len(payload) < 16
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
    ):
        return None
    wi, hi = ctypes.c_int(), ctypes.c_int()
    size = (payload, len(payload), ctypes.byref(wi), ctypes.byref(hi))
    if not lib.WebPGetInfo(*size) or wi.value * hi.value > MAX_CANVAS_PIXELS:
        return None
    ptr = lib.WebPDecodeRGBA(*size)
    if not ptr:
        return None
    w, h = wi.value, hi.value
    if w <= 0 or h <= 0:
        lib.WebPFree(ptr)
        return None
    buf = ctypes.string_at(ptr, w * h * 4)
    lib.WebPFree(ptr)
    rgba = np.frombuffer(buf, np.uint8).reshape(h, w, 4).astype(np.int64)
    return luma(*(over_white(rgba[:, :, c], rgba[:, :, 3]) for c in range(3)))


def encode_webp_lossy(gray, quality: float = 95.0) -> bytes:
    """TEST/AUDIT FIXTURE: encode an int64 gray array as a REAL
    lossy-VP8 WebP through libwebp's WebPEncodeRGBA. Raises
    RuntimeError when libwebp is absent (the audit that plants lossy
    copies is only meaningful where the decode branch is live)."""
    lib = _libwebp()
    if lib is None:
        raise RuntimeError(
            "encode_webp_lossy needs libwebp; not found on this host"
        )
    g = np.clip(np.asarray(gray, dtype=np.int64), 0, 255).astype(np.uint8)
    h, w = g.shape
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, :3] = g[:, :, None]
    rgba[:, :, 3] = 255
    out = ctypes.POINTER(ctypes.c_uint8)()
    n = lib.WebPEncodeRGBA(
        rgba.tobytes(), w, h, w * 4, float(quality), ctypes.byref(out)
    )
    if n == 0:
        raise RuntimeError("WebPEncodeRGBA failed")
    data = ctypes.string_at(out, n)
    lib.WebPFree(out)
    return data
