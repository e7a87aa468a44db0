"""WebP LOSSLESS (VP8L) decode in pure Python + numpy — no codec
library. Closes the last named format in the perceptual-dedup codec
family: RIFF/WEBP container walk, the VP8L entropy-coded-image
machinery (canonical prefix codes in both SIMPLE and normal forms,
code-length codes with 16/17/18 repeats and the max-symbol cap,
META prefix-code tiles, color cache, LZ77 backward references with
the two-level length/distance prefix scheme), and all four
transforms inverted in reverse read order: PREDICTOR (all 14 modes
incl. Select and ClampAddSubtract full/half, with the spec's
top-row/left-column edge rules), COLOR (signed 3.5 fixed-point
green→red/green→blue/red→blue deltas), SUBTRACT-GREEN, and
COLOR-INDEXING (palette with sub-byte index bundling: 2/4/8 pixels
per green byte for ≤16/≤4/≤2 palette entries).

Reduction to the shared 8-bit luma domain mirrors the PNG path
exactly: alpha composites over WHITE with round-half-up integer
math ((v·a + 255·(255−a) + 127)//255 — a=255 is the identity), then
the BT.601 integer luma — so an opaque WebP re-save of a PNG/BMP
image hashes IDENTICALLY (the cross-codec audit's claim).

Conformance: the implementation is verified against libwebp ITSELF
wherever ``libwebp.so`` is importable via ctypes (this container
ships it): tests/test_webp_conformance.py (a) encodes a diverse
image battery with the REAL ``WebPEncodeLosslessRGBA`` and asserts
this decoder reproduces the source pixels exactly, and (b)
re-derives the COMPLETE 120-entry LZ77 neighbor-distance map by
crafting one stream per distance code and comparing against the
real ``WebPDecodeRGBA`` — the ``_DIST_MAP`` literal below is the
table that derivation produced (all 120 codes agree pixel-exactly;
on hosts without libwebp the tests skip and the literal stands as
the verified record), and (c) pins each of the 14 predictor modes
individually with crafted random-residual streams against
``WebPDecodeRGBA`` — necessary because encoder round-trips never
exercise the divergent operand patterns (the Select tie-break
and AddSubtractComponentHalf truncation bugs survived the battery
and were caught only differentially). Lossy VP8 and the extended
VP8X container return None from the PURE path, then get REAL pixels
through :func:`decode_webp_lossy_pixels` — a lazy ctypes binding to
libwebp's own ``WebPDecodeRGBA`` (this container ships the shared
library) with the identical luma-over-white reduction; where
libwebp is absent the guarded-PIL / NULL-hash admission path
applies unchanged.

Scale shape: identical to the other pixel paths — the decode rides
the Arrow-batched ``mapInPandas`` pass via ``decode_pixels``; CPU is
∝ pixel bytes; hashes (24 B) shuffle, pixels never do.

The encoder half (``encode_webp_lossless``) is a TEST FIXTURE like
the PNG/GIF/JPEG encoders: real spec-valid VP8L streams through
four variants (plain literals; palette with index bundling;
subtract-green; LZ77 copy-above + color cache + meta-capable code
path) so every decode branch the pure path supports is round-trip
pinned.
"""

from __future__ import annotations

import struct

import numpy as np

# code-length-code read order (spec §"Decoding the Code Lengths")
_CL_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

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


class _LsbReader:
    """LSB-first bit reader (VP8L convention — opposite of JPEG)."""

    def __init__(self, d: bytes, pos: int = 0):
        self.d = d
        self.bit = pos * 8

    def bits(self, n: int):
        v = 0
        d = self.d
        bit = self.bit
        for i in range(n):
            byte = bit >> 3
            if byte >= len(d):
                return None
            v |= ((d[byte] >> (bit & 7)) & 1) << i
            bit += 1
        self.bit = bit
        return v


def _build_canonical(lengths):
    """Canonical prefix code from code lengths (DEFLATE/VP8L
    convention): returns {(length, code): symbol}, a single-symbol
    marker, or None on an over-subscribed code."""
    nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
    if not nz:
        return None
    if len(nz) == 1:
        return ("single", nz[0][1])
    nz.sort()
    table = {}
    code = 0
    prev_len = nz[0][0]
    for ln, sym in nz:
        code <<= ln - prev_len
        prev_len = ln
        if code >= (1 << ln):
            return None  # over-subscribed
        table[(ln, code)] = sym
        code += 1
    return table


def _read_code(br: _LsbReader, tree):
    """Read one prefix-coded symbol (bit-by-bit tree walk; VP8L
    packs code bits MSB-of-code first like DEFLATE's Huffman)."""
    if isinstance(tree, tuple) and tree[0] == "single":
        return tree[1]
    code = 0
    for length in range(1, 16):
        b = br.bits(1)
        if b is None:
            return None
        code = (code << 1) | b
        sym = tree.get((length, code))
        if sym is not None:
            return sym
    return None


def _read_prefix_code(br: _LsbReader, alphabet: int):
    """One prefix code: SIMPLE (1-2 symbols, direct bits) or normal
    (code-length-coded lengths with 16/17/18 repeats and the
    optional max-symbol cap)."""
    simple = br.bits(1)
    if simple is None:
        return None
    if simple:
        num_symbols = br.bits(1)
        if num_symbols is None:
            return None
        num_symbols += 1
        first8 = br.bits(1)
        if first8 is None:
            return None
        s0 = br.bits(8 if first8 else 1)
        if s0 is None or s0 >= alphabet:
            return None
        if num_symbols == 1:
            return ("single", s0)
        s1 = br.bits(8)
        if s1 is None or s1 >= alphabet or s1 == s0:
            return None
        lengths = [0] * alphabet
        lengths[s0] = 1
        lengths[s1] = 1
        return _build_canonical(lengths)
    num_cl = br.bits(4)
    if num_cl is None:
        return None
    num_cl += 4
    cl_len = [0] * 19
    for i in range(num_cl):
        v = br.bits(3)
        if v is None:
            return None
        cl_len[_CL_ORDER[i]] = v
    cl_tree = _build_canonical(cl_len)
    if cl_tree is None:
        return None
    use_max = br.bits(1)
    if use_max is None:
        return None
    if use_max:
        nb = br.bits(3)
        if nb is None:
            return None
        length_nbits = 2 + 2 * nb
        ms = br.bits(length_nbits)
        if ms is None:
            return None
        max_symbol = 2 + ms
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    symbol = 0
    prev = 8
    while symbol < alphabet and max_symbol > 0:
        max_symbol -= 1
        cl = _read_code(br, cl_tree)
        if cl is None:
            return None
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev = cl
        else:
            if cl == 16:
                extra = br.bits(2)
                if extra is None:
                    return None
                repeat, fill = 3 + extra, prev
            elif cl == 17:
                extra = br.bits(3)
                if extra is None:
                    return None
                repeat, fill = 3 + extra, 0
            else:
                extra = br.bits(7)
                if extra is None:
                    return None
                repeat, fill = 11 + extra, 0
            if symbol + repeat > alphabet:
                return None
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _build_canonical(lengths)


def _lz77_value(br: _LsbReader, code: int):
    """Two-level length/distance value: 24 prefix codes, extra bits
    per the VP8L scheme."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    eb = br.bits(extra)
    if eb is None:
        return None
    return offset + eb + 1


def _decode_entropy_image(br: _LsbReader, w: int, h: int, level0: bool):
    """One VP8L entropy-coded image → uint32 ARGB array of w*h, or
    None. ``level0`` gates the meta-prefix-code machinery (main
    image only); every image may carry a color cache."""
    cache_bits = 0
    has_cache = br.bits(1)
    if has_cache is None:
        return None
    if has_cache:
        cache_bits = br.bits(4)
        if cache_bits is None or not 1 <= cache_bits <= 11:
            return None
    meta = 0
    tile_bits = 0
    entropy_img = None
    num_groups = 1
    if level0:
        meta = br.bits(1)
        if meta is None:
            return None
        if meta:
            tb = br.bits(3)
            if tb is None:
                return None
            tile_bits = tb + 2
            ew = -(-w // (1 << tile_bits))
            eh = -(-h // (1 << tile_bits))
            entropy_img = _decode_entropy_image(br, ew, eh, False)
            if entropy_img is None:
                return None
            # group id = (red << 8) | green
            entropy_ids = (
                ((entropy_img >> 16) & 0xFF) << 8 | ((entropy_img >> 8) & 0xFF)
            )
            num_groups = int(entropy_ids.max()) + 1
    green_alpha = 256 + 24 + ((1 << cache_bits) if cache_bits else 0)
    groups = []
    for _ in range(num_groups):
        gtree = _read_prefix_code(br, green_alpha)
        rtree = _read_prefix_code(br, 256)
        btree = _read_prefix_code(br, 256)
        atree = _read_prefix_code(br, 256)
        dtree = _read_prefix_code(br, 40)
        if None in (gtree, rtree, btree, atree, dtree):
            return None
        groups.append((gtree, rtree, btree, atree, dtree))
    cache = [0] * (1 << cache_bits) if cache_bits else None
    n = w * h
    px = np.zeros(n, dtype=np.uint32)
    pos = 0
    while pos < n:
        if num_groups > 1:
            x, y = pos % w, pos // w
            tid = int(
                entropy_ids[(y >> tile_bits) * (-(-w // (1 << tile_bits)))
                            + (x >> tile_bits)]
            )
            if tid >= num_groups:
                return None
            gtree, rtree, btree, atree, dtree = groups[tid]
        else:
            gtree, rtree, btree, atree, dtree = groups[0]
        g = _read_code(br, gtree)
        if g is None:
            return None
        if g < 256:
            r = _read_code(br, rtree)
            b = _read_code(br, btree)
            a = _read_code(br, atree)
            if None in (r, b, a):
                return None
            argb = (a << 24) | (r << 16) | (g << 8) | b
            px[pos] = argb
            pos += 1
            if cache is not None:
                cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)] = argb
        elif g < 280:
            length = _lz77_value(br, g - 256)
            if length is None:
                return None
            dcode = _read_code(br, dtree)
            if dcode is None:
                return None
            dval = _lz77_value(br, dcode)
            if dval is None:
                return None
            if dval > 120:
                dist = dval - 120
            else:
                dx, dy = _DIST_MAP[dval - 1]
                dist = dy * w + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                return None
            for _ in range(length):
                argb = int(px[pos - dist])
                px[pos] = argb
                pos += 1
                if cache is not None:
                    cache[
                        (0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)
                    ] = argb
        else:
            idx = g - 280
            if cache is None or idx >= len(cache):
                return None
            px[pos] = cache[idx]
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
    tw = -(-w // (1 << bits))
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


def _avg2(a, b):
    return (a + b) // 2


def _px_bytes(v):
    return np.array(
        [(v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF],
        dtype=np.int64,
    )


def _bytes_px(b):
    b = np.clip(b, 0, 255).astype(np.uint32)
    return (b[0] << 24) | (b[1] << 16) | (b[2] << 8) | b[3]


def _clamp_add_sub_full(a, b, c):
    return np.clip(a + b - c, 0, 255)


def _clamp_add_sub_half(a, b):
    # RFC 9649 AddSubtractComponentHalf: (a - b) / 2 with C integer
    # division (truncation toward ZERO), not Python floor division —
    # they differ whenever a < b by an odd amount.
    d = a - b
    return np.clip(a + np.sign(d) * (np.abs(d) // 2), 0, 255)


def _inv_predictor(px, w, h, bits, tiles):
    """Invert the predictor transform (14 modes). Sequential by
    definition (each pixel depends on decoded neighbors), per-pixel
    Python over thumbnail-scale images."""
    tw = -(-w // (1 << bits))
    out = px.astype(np.uint32).copy()
    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                mode = -1  # 0xff000000 base
            elif y == 0:
                mode = -2  # L
            elif x == 0:
                mode = -3  # T
            else:
                mode = int((tiles[(y >> bits) * tw + (x >> bits)] >> 8) & 0xFF)
                if mode > 13:
                    return None
            if mode in (-1, 0):
                pred = 0xFF000000
            elif mode == -2 or mode == 1:
                pred = int(out[i - 1])
            elif mode == -3 or mode == 2:
                pred = int(out[i - w])
            elif mode == 3:
                # TR: linear index i-w+1; at the right edge this is
                # the first (already decoded) pixel of the CURRENT
                # row — the spec addresses pixels in scan order
                pred = int(out[i - w + 1])
            elif mode == 4:  # TL
                pred = int(out[i - w - 1])
            else:
                L = _px_bytes(int(out[i - 1]))
                T = _px_bytes(int(out[i - w]))
                TL = _px_bytes(int(out[i - w - 1]))
                TR = _px_bytes(int(out[i - w + 1]))
                if mode == 5:
                    pred_b = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred_b = _avg2(L, TL)
                elif mode == 7:
                    pred_b = _avg2(L, T)
                elif mode == 8:
                    pred_b = _avg2(TL, T)
                elif mode == 9:
                    pred_b = _avg2(T, TR)
                elif mode == 10:
                    pred_b = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:  # Select
                    p = L + T - TL
                    perr = int(np.abs(p - L).sum())
                    terr = int(np.abs(p - T).sum())
                    # RFC 9649 Select: "if (pL < pT) return L; else
                    # return T" — ties go to T (strict comparison).
                    pred_b = L if perr < terr else T
                elif mode == 12:
                    pred_b = _clamp_add_sub_full(L, T, TL)
                else:  # 13
                    pred_b = _clamp_add_sub_half(_avg2(L, T), TL)
                out[i] = _bytes_px((_px_bytes(int(px[i])) + pred_b) % 256)
                continue
            out[i] = _bytes_px((_px_bytes(int(px[i])) + _px_bytes(pred)) % 256)
    return out


def _inv_color_indexing(px, w_reduced, h, palette, xbits):
    """Invert color indexing: palette lookup, with sub-byte index
    unbundling when xbits > 0 (indices packed LSB-first into the
    green channel)."""
    npal = len(palette)
    if xbits == 0:
        idx = ((px >> 8) & 0xFF).astype(np.int64)
        if int(idx.max()) >= npal:
            return None
        return palette[idx]
    per = 1 << xbits
    ibits = 8 >> xbits
    mask = (1 << ibits) - 1
    g = ((px >> 8) & 0xFF).astype(np.int64).reshape(h, w_reduced)
    cols = [(g >> (j * ibits)) & mask for j in range(per)]
    idx = np.stack(cols, axis=2).reshape(h, w_reduced * per)
    if int(idx.max()) >= npal:
        return None
    return palette[idx].reshape(-1)


def decode_webp_lossless_pixels(payload: bytes):
    """REAL VP8L pixel decode → int64 BT.601 luma array (h, w) with
    alpha composited over white, or None outside the supported
    envelope (lossy VP8, VP8X extended container, truncated or
    malformed streams, unpinned far-neighbor distance codes —
    module docstring)."""
    p = payload
    if len(p) < 21 or p[:4] != b"RIFF" or p[8:12] != b"WEBP":
        return None
    if p[12:16] != b"VP8L":
        return None  # lossy VP8 / VP8X: codec territory
    (chunk_len,) = struct.unpack_from("<I", p, 16)
    data = p[20 : 20 + chunk_len]
    if len(data) != chunk_len or len(data) < 5:
        return None
    if data[0] != 0x2F:
        return None
    br = _LsbReader(data, 1)
    wm1 = br.bits(14)
    hm1 = br.bits(14)
    _alpha_hint = br.bits(1)
    version = br.bits(3)
    if None in (wm1, hm1, _alpha_hint, version) or version != 0:
        return None
    w, h = wm1 + 1, hm1 + 1
    transforms = []  # (type, payload...), in read order
    seen = set()
    cur_w = w
    while True:
        t = br.bits(1)
        if t is None:
            return None
        if not t:
            break
        ttype = br.bits(2)
        if ttype is None or ttype in seen:
            return None
        seen.add(ttype)
        if ttype == 2:  # subtract green
            transforms.append((2, None))
        elif ttype in (0, 1):  # predictor / color transform
            sb = br.bits(3)
            if sb is None:
                return None
            bits = sb + 2
            tw = -(-cur_w // (1 << bits))
            th = -(-h // (1 << bits))
            tiles = _decode_entropy_image(br, tw, th, False)
            if tiles is None:
                return None
            transforms.append((ttype, (bits, tiles, cur_w)))
        elif ttype == 3:  # color indexing
            ps = br.bits(8)
            if ps is None:
                return None
            npal = ps + 1
            pal_img = _decode_entropy_image(br, npal, 1, False)
            if pal_img is None:
                return None
            # palette entries are delta-coded per channel
            pal = np.zeros(npal, dtype=np.uint32)
            prev = 0
            for i in range(npal):
                cur = int(pal_img[i])
                a = ((prev >> 24) + (cur >> 24)) & 0xFF
                r = (((prev >> 16) & 0xFF) + ((cur >> 16) & 0xFF)) & 0xFF
                g = (((prev >> 8) & 0xFF) + ((cur >> 8) & 0xFF)) & 0xFF
                b = ((prev & 0xFF) + (cur & 0xFF)) & 0xFF
                prev = (a << 24) | (r << 16) | (g << 8) | b
                pal[i] = prev
            if npal <= 2:
                xbits = 3
            elif npal <= 4:
                xbits = 2
            elif npal <= 16:
                xbits = 1
            else:
                xbits = 0
            transforms.append((3, (pal, xbits, cur_w)))
            cur_w = -(-cur_w // (1 << xbits))
    px = _decode_entropy_image(br, cur_w, h, True)
    if px is None:
        return None
    # invert in reverse read order
    for ttype, tp in reversed(transforms):
        if ttype == 2:
            px = _inv_subtract_green(px, cur_w, h)
        elif ttype == 1:
            bits, tiles, tr_w = tp
            px = _inv_color_transform(px, tr_w, h, bits, tiles)
        elif ttype == 0:
            bits, tiles, tr_w = tp
            px = _inv_predictor(px, tr_w, h, bits, tiles)
            if px is None:
                return None
        else:  # color indexing restores full width
            pal, xbits, full_w = tp
            px = _inv_color_indexing(px, cur_w, h, pal, xbits)
            if px is None:
                return None
            cur_w = full_w
            px = px[: cur_w * h] if xbits == 0 else _trim_bundled(
                px, cur_w, h, xbits
            )
    if px.size != w * h:
        return None
    argb = px.reshape(h, w).astype(np.int64)
    a = (argb >> 24) & 0xFF
    r = (argb >> 16) & 0xFF
    g = (argb >> 8) & 0xFF
    b = argb & 0xFF
    r = (r * a + 255 * (255 - a) + 127) // 255
    g = (g * a + 255 * (255 - a) + 127) // 255
    b = (b * a + 255 * (255 - a) + 127) // 255
    return (r * 299 + g * 587 + b * 114) // 1000


def _trim_bundled(px, full_w, h, xbits):
    """After unbundling, each row carries reduced_w · 2^xbits
    samples — trim the padding columns past full_w."""
    per = 1 << xbits
    red_w = -(-full_w // per)
    return px.reshape(h, red_w * per)[:, :full_w].reshape(-1)


# ------------------------------------------------ encoder (fixture)


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


def _canonical_codes(lengths):
    """symbol → (code, length) for canonical assignment."""
    nz = sorted((ln, sym) for sym, ln in enumerate(lengths) if ln > 0)
    table = {}
    code = 0
    prev_len = nz[0][0]
    for ln, sym in nz:
        code <<= ln - prev_len
        prev_len = ln
        table[sym] = (code, ln)
        code += 1
    return table


def _write_prefix_code(bw: _LsbWriter, lengths, use_max=False):
    """Emit a prefix code: SIMPLE form for ≤2 symbols, else the
    normal code-length-coded form (flat 5-bit code-length code over
    the lengths that occur, zeros as explicit literals so the repeat
    machinery stays optional; ``use_max`` exercises the max-symbol
    cap path)."""
    nz = [(sym, ln) for sym, ln in enumerate(lengths) if ln > 0]
    if len(nz) <= 2 and all(s < 256 for s, _ in nz):
        bw.write(1, 1)  # simple
        bw.write(len(nz) - 1, 1)
        s0 = nz[0][0]
        if len(nz) == 1:
            if s0 <= 1:
                bw.write(0, 1)  # 1-bit first symbol
                bw.write(s0, 1)
            else:
                bw.write(1, 1)
                bw.write(s0, 8)
            return
        bw.write(1, 1)
        bw.write(s0, 8)
        bw.write(nz[1][0], 8)
        return
    bw.write(0, 1)  # normal
    last = max(sym for sym, _ in nz)
    end = (last + 1) if use_max else len(lengths)
    # build the emission sequence first (17/18 for zero runs, 16 for
    # repeated nonzero lengths — exercising the decoder's repeat
    # machinery), then a balanced COMPLETE code-length code over the
    # cl symbols actually emitted
    seq = []  # (cl_symbol, extra_value, extra_bits)
    i = 0
    while i < end:
        ln = lengths[i]
        if ln == 0:
            j = i
            while j < end and lengths[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                r = min(run, 138)
                seq.append((18, r - 11, 7))
                run -= r
            while run >= 3:
                r = min(run, 10)
                seq.append((17, r - 3, 3))
                run -= r
            for _ in range(run):
                seq.append((0, 0, 0))
            i = j
        else:
            seq.append((ln, 0, 0))
            i += 1
            run = 0
            while i < end and lengths[i] == ln:
                run += 1
                i += 1
            while run >= 3:
                r = min(run, 6)
                seq.append((16, r - 3, 2))
                run -= r
            for _ in range(run):
                seq.append((ln, 0, 0))
    used_syms = sorted({s for s, _, _ in seq})
    if len(used_syms) == 1:
        # a 1-symbol code-length code would be zero-bit on the
        # decoder side; pad with a second (unused) symbol so both
        # sides agree on one bit per entry
        used_syms.append(0 if used_syms[0] != 0 else 1)
        used_syms.sort()
    cl_len = _balanced_lengths(used_syms, 19)
    # emit all 19 slots (num_cl = 19 → 4 bits value 15)
    bw.write(15, 4)
    for k in range(19):
        bw.write(cl_len[_CL_ORDER[k]], 3)
    cl_codes = _canonical_codes(cl_len)
    if use_max:
        bw.write(1, 1)
        bw.write(7, 3)  # length_nbits = 16
        bw.write(len(seq) - 2, 16)
    else:
        bw.write(0, 1)
    for sym, extra, ebits in seq:
        c, ln = cl_codes[sym]
        bw.write_code(c, ln)
        if ebits:
            bw.write(extra, ebits)


def _balanced_lengths(symbols, alphabet):
    """Assign near-balanced canonical code lengths to ``symbols``
    (complete Kraft sum, max depth 15)."""
    k = len(symbols)
    if k == 1:
        lengths = [0] * alphabet
        lengths[symbols[0]] = 1  # handled by SIMPLE form upstream
        return lengths
    import math

    depth = max(1, math.ceil(math.log2(k)))
    # complete code: 2^depth leaves; promote the first few to
    # depth-1 when k < 2^depth so the Kraft sum is exactly 1
    lengths = [0] * alphabet
    promote = (1 << depth) - k  # each promotion saves one leaf
    for i, s in enumerate(sorted(symbols)):
        lengths[s] = depth - 1 if i < promote else depth
    return lengths


def encode_webp_lossless(
    gray,
    variant: str = "literal",
    alpha: int = 255,
) -> bytes:
    """TEST FIXTURE: encode an int64 gray array as a REAL VP8L
    lossless WebP. Variants (byte-disjoint encodings of identical
    pixels):

    - ``literal`` — no transform, opaque ARGB literals, normal
      prefix codes;
    - ``pal`` — color-indexing transform (≤16 grays ⇒ sub-byte
      index bundling);
    - ``sg`` — subtract-green transform (r=g=b ⇒ residual red/blue
      are 0);
    - ``lz`` — LZ77 copy-above backrefs for repeated rows + color
      cache + the max-symbol cap path.
    """
    import numpy as np

    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    bw = _LsbWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version

    def write_image_header(cache_bits=0, level0=True):
        if cache_bits:
            bw.write(1, 1)
            bw.write(cache_bits, 4)
        else:
            bw.write(0, 1)
        if level0:
            bw.write(0, 1)  # no meta prefix codes (main image only)

    def emit_trees(greens, reds, blues, alphas, dists, green_alpha,
                   use_max=False):
        trees = {}
        for name, syms, alpha in (
            ("g", greens, green_alpha), ("r", reds, 256),
            ("b", blues, 256), ("a", alphas, 256), ("d", dists, 40),
        ):
            syms = sorted(syms)
            if len(syms) <= 2 and all(s < 256 for s in syms):
                # SIMPLE form
                lengths = [0] * alpha
                for s in syms:
                    lengths[s] = 1
                _write_prefix_code(bw, lengths)
                if len(syms) == 1:
                    trees[name] = {syms[0]: (0, 0)}
                else:
                    trees[name] = _canonical_codes(lengths)
            else:
                lengths = _balanced_lengths(syms, alpha)
                _write_prefix_code(bw, lengths, use_max=use_max)
                trees[name] = _canonical_codes(lengths)
        return trees

    def wc(tree, sym):
        c, ln = tree[sym]
        bw.write_code(c, ln)

    if variant == "literal":
        bw.write(0, 1)  # no transforms
        write_image_header()
        vals = sorted({int(v) for v in g.ravel()})
        trees = emit_trees(vals, vals, vals, [alpha], [0], 280)
        for v in g.ravel():
            v = int(v)
            wc(trees["g"], v)
            wc(trees["r"], v)
            wc(trees["b"], v)
            wc(trees["a"], alpha)
    elif variant == "sg":
        bw.write(1, 1)
        bw.write(2, 2)  # subtract-green
        bw.write(0, 1)  # no more transforms
        write_image_header()
        vals = sorted({int(v) for v in g.ravel()})
        trees = emit_trees(vals, [0], [0], [255], [0], 280)
        for v in g.ravel():
            wc(trees["g"], int(v))
            wc(trees["r"], 0)
            wc(trees["b"], 0)
            wc(trees["a"], 255)
    elif variant == "pal":
        vals = np.unique(g)
        npal = len(vals)
        if npal > 16:
            raise ValueError("pal variant needs ≤16 grays")
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        bw.write(npal - 1, 8)
        # palette image: 1×npal, delta-coded channels
        write_image_header(level0=False)  # palette sub-image (no cache)
        deltas = []
        prev = 0
        for v in vals:
            argb = (255 << 24) | (int(v) << 16) | (int(v) << 8) | int(v)
            da = ((argb >> 24) - (prev >> 24)) & 0xFF
            dr = (((argb >> 16) & 0xFF) - ((prev >> 16) & 0xFF)) & 0xFF
            dg = (((argb >> 8) & 0xFF) - ((prev >> 8) & 0xFF)) & 0xFF
            db = ((argb & 0xFF) - (prev & 0xFF)) & 0xFF
            deltas.append((da, dr, dg, db))
            prev = argb
        pg = sorted({d[2] for d in deltas})
        pr = sorted({d[1] for d in deltas})
        pb = sorted({d[3] for d in deltas})
        pa = sorted({d[0] for d in deltas})
        ptrees = emit_trees(pg, pr, pb, pa, [0], 280)
        for da, dr, dg, db in deltas:
            wc(ptrees["g"], dg)
            wc(ptrees["r"], dr)
            wc(ptrees["b"], db)
            wc(ptrees["a"], da)
        bw.write(0, 1)  # no more transforms
        # bundled index image
        if npal <= 2:
            xbits = 3
        elif npal <= 4:
            xbits = 2
        else:
            xbits = 1
        per = 1 << xbits
        ibits = 8 >> xbits
        red_w = -(-w // per)
        idx = np.searchsorted(vals, g)
        packed = np.zeros((h, red_w), dtype=np.int64)
        # pack row-wise LSB-first
        for y in range(h):
            for xr in range(red_w):
                b = 0
                for j in range(per):
                    x = xr * per + j
                    if x < w:
                        b |= int(idx[y, x]) << (j * ibits)
                packed[y, xr] = b
        write_image_header()
        greens = sorted({int(v) for v in packed.ravel()})
        trees = emit_trees(greens, [0], [0], [255], [0], 280)
        for v in packed.ravel():
            wc(trees["g"], int(v))
            wc(trees["r"], 0)
            wc(trees["b"], 0)
            wc(trees["a"], 255)
    elif variant == "lz":
        # copy-above for any row equal to the previous row; color
        # cache sized 4 bits; max-symbol cap exercised on the green
        # tree
        cache_bits = 4
        bw.write(0, 1)  # no transforms
        write_image_header(cache_bits)
        vals = sorted({int(v) for v in g.ravel()})
        # green alphabet: literals + length code for (w) + cache ids
        length_codes_needed = set()
        # length w prefix code
        def len_code(v):
            if v <= 4:
                return v - 1, 0, 0
            import math
            extra = max(0, (v - 1).bit_length() - 2)
            # find code s.t. offset <= v-1 < offset + 2^extra
            for code in range(4, 24):
                eb = (code - 2) >> 1
                off = (2 + (code & 1)) << eb
                if off + 1 <= v <= off + (1 << eb):
                    return code, v - off - 1, eb
            raise ValueError("length too large")
        lcode, lextra, lebits = len_code(w)
        greens = sorted(set(vals) | {256 + lcode})
        cache = [0] * (1 << cache_bits)

        def cache_key(argb):
            return (0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)

        # pre-scan: which pixels hit the cache (simulate)
        sim_cache = [None] * (1 << cache_bits)
        uses_cache_ids = set()
        rows_as_copy = [False] * h
        for y in range(1, h):
            if (g[y] == g[y - 1]).all():
                rows_as_copy[y] = True
        seq = []  # ops: ("lit", v) / ("cache", idx) / ("copy",)
        for y in range(h):
            if rows_as_copy[y]:
                seq.append(("copy",))
                for x in range(w):
                    argb = (255 << 24) | (int(g[y, x]) << 16) | (
                        int(g[y, x]) << 8) | int(g[y, x])
                    sim_cache[cache_key(argb)] = argb
                continue
            for x in range(w):
                argb = (255 << 24) | (int(g[y, x]) << 16) | (
                    int(g[y, x]) << 8) | int(g[y, x])
                key = cache_key(argb)
                if sim_cache[key] == argb:
                    seq.append(("cache", key))
                    uses_cache_ids.add(key)
                else:
                    seq.append(("lit", int(g[y, x])))
                    sim_cache[key] = argb
        greens = sorted(set(greens) | {280 + i for i in uses_cache_ids})
        trees = emit_trees(
            greens, vals, vals, [255], [0], 280 + (1 << cache_bits),
            use_max=True,
        )
        for op in seq:
            if op[0] == "lit":
                v = op[1]
                wc(trees["g"], v)
                wc(trees["r"], v)
                wc(trees["b"], v)
                wc(trees["a"], 255)
            elif op[0] == "cache":
                wc(trees["g"], 280 + op[1])
            else:  # copy previous row: length w, distance code 1=(0,1)
                wc(trees["g"], 256 + lcode)
                if lebits:
                    bw.write(lextra, lebits)
                wc(trees["d"], 0)  # distance prefix code 0 → value 1
                # value 1 → neighbor code 1 → (0,1) = previous row
    elif variant == "pred":
        # predictor transform, ONE tile covering the whole image
        # (size_bits = 9 ⇒ 512×512 block), mode 2 (= T); the spec's
        # edge rules make the top row L-predicted and pixel (0,0)
        # based at 0xff000000 regardless of the tile mode
        if w > 512 or h > 512:
            raise ValueError("pred variant fixture caps dims at 512")
        bw.write(1, 1)
        bw.write(0, 2)  # predictor transform
        bw.write(7, 3)  # size_bits = 9
        # tile image: 1×1, mode 2 in the green channel
        write_image_header(level0=False)
        ttrees = emit_trees([2], [0], [0], [0], [0], 280)
        wc(ttrees["g"], 2)
        wc(ttrees["r"], 0)
        wc(ttrees["b"], 0)
        wc(ttrees["a"], 0)
        bw.write(0, 1)  # no more transforms
        write_image_header()
        # residuals per the inverse rules: (0,0) vs 0xff000000, top
        # row vs L, left column vs T, body vs T (tile mode 2)
        res = np.zeros((h, w, 4), dtype=np.int64)  # a, r, g, b
        for y in range(h):
            for x in range(w):
                v = int(g[y, x])
                cur = np.array([255, v, v, v], dtype=np.int64)
                if x == 0 and y == 0:
                    base = np.array([255, 0, 0, 0], dtype=np.int64)
                elif y == 0:  # top row: L regardless of tile mode
                    pl = int(g[y, x - 1])
                    base = np.array([255, pl, pl, pl], dtype=np.int64)
                else:  # left column forced T; body tile mode 2 = T
                    pt = int(g[y - 1, x])
                    base = np.array([255, pt, pt, pt], dtype=np.int64)
                res[y, x] = (cur - base) % 256
        rg = sorted({int(v) for v in res[:, :, 2].ravel()})
        rr = sorted({int(v) for v in res[:, :, 1].ravel()})
        rb = sorted({int(v) for v in res[:, :, 3].ravel()})
        ra = sorted({int(v) for v in res[:, :, 0].ravel()})
        trees = emit_trees(rg, rr, rb, ra, [0], 280)
        for y in range(h):
            for x in range(w):
                wc(trees["g"], int(res[y, x, 2]))
                wc(trees["r"], int(res[y, x, 1]))
                wc(trees["b"], int(res[y, x, 3]))
                wc(trees["a"], int(res[y, x, 0]))
    else:
        raise ValueError(f"unknown webp variant: {variant!r}")

    data = b"\x2f" + bw.flush()
    if len(data) % 2:
        padded = data + b"\x00"
    else:
        padded = data
    riff_len = 4 + 8 + len(padded)
    return (
        b"RIFF" + struct.pack("<I", riff_len) + b"WEBP"
        + b"VP8L" + struct.pack("<I", len(data)) + padded
    )


# ------------------------------------------- lossy VP8 via libwebp
# Lossy VP8 (and the extended VP8X container) cannot be decoded
# bit-deterministically in pure Python at pipeline cost, but this
# container — like any decode-fleet image — ships libwebp's shared
# library. A lazy ctypes binding gives lossy WebP REAL pixels with
# no Python codec package: WebPDecodeRGBA handles every WebP flavor
# (VP8 lossy, VP8L lossless, VP8X-wrapped either). The pure VP8L
# path above stays FIRST in `decode_pixels` so lossless hashes never
# depend on the environment; this branch only catches what the pure
# path declines, exactly like the guarded PIL branch it upgrades.

_LIBWEBP = None  # None = not yet probed; False = probed, absent


def _libwebp():
    """Lazily load libwebp via ctypes; None when the library is
    absent (the NULL-hash admission path then applies). Loaded once
    per Python worker process — the handle is reused across Arrow
    batches."""
    global _LIBWEBP
    if _LIBWEBP is None:
        import ctypes
        import ctypes.util

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
            lib.WebPDecodeRGBA.restype = ctypes.POINTER(ctypes.c_uint8)
            lib.WebPDecodeRGBA.argtypes = [
                ctypes.c_char_p, ctypes.c_size_t,
                ctypes.POINTER(ctypes.c_int), ctypes.POINTER(ctypes.c_int),
            ]
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
    pure path produces, or None when libwebp is absent or rejects
    the stream. Deterministic for a given libwebp build (the decode
    spec is exact; only the ENCODER side of lossy VP8 has freedom),
    so hashes are stable within a fleet that pins its image."""
    import ctypes

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
    ptr = lib.WebPDecodeRGBA(
        payload, len(payload), ctypes.byref(wi), ctypes.byref(hi)
    )
    if not ptr:
        return None
    w, h = wi.value, hi.value
    if w <= 0 or h <= 0:
        lib.WebPFree(ptr)
        return None
    buf = ctypes.string_at(ptr, w * h * 4)
    lib.WebPFree(ptr)
    rgba = np.frombuffer(buf, np.uint8).reshape(h, w, 4).astype(np.int64)
    a = rgba[:, :, 3]
    comp = [
        (rgba[:, :, c] * a + 255 * (255 - a) + 127) // 255
        for c in range(3)
    ]
    return (comp[0] * 299 + comp[1] * 587 + comp[2] * 114) // 1000


def encode_webp_lossy(gray, quality: float = 95.0) -> bytes:
    """TEST/AUDIT FIXTURE: encode an int64 gray array as a REAL
    lossy-VP8 WebP through libwebp's WebPEncodeRGBA. Raises
    RuntimeError when libwebp is absent (the audit that plants lossy
    copies is only meaningful where the decode branch is live)."""
    import ctypes

    lib = _libwebp()
    if lib is None:
        raise RuntimeError(
            "encode_webp_lossy needs libwebp; not found on this host"
        )
    g = np.clip(np.asarray(gray, dtype=np.int64), 0, 255).astype(np.uint8)
    h, w = g.shape
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[:, :, 0] = g
    rgba[:, :, 1] = g
    rgba[:, :, 2] = g
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
