"""JPEG codec (JFIF) in pure Python + numpy — no codec library.

Scan-script model (ITU-T T.81), shared by the decoder and the encoder:
a frame is one grid of quantized coefficients per component, and a
SCRIPT of scans fills it (decode) or reads it out (encode). A scan
names its components, a spectral band Ss..Se in zigzag order and a
successive-approximation pair Ah/Al; each of its blocks takes a DC
step when Ss=0 and an AC step over max(Ss, 1)..Se. An interleaved
scan (Ns>1) walks the MCU grid, h_i×v_i blocks per component per MCU;
a one-component scan walks that component's own ceil(dims/8) block
grid (T.81 A.2); DRI/RSTn restart intervals count those units.

- A sequential frame (SOF0 baseline, SOF1 extended sequential at
  8-bit precision) is the one-scan script {every component, Ss=0,
  Se=63, Ah=Al=0}: each block codes DC-first and AC-first and ends
  with its own EOB, so an EOB-run symbol is malformed there.
- A progressive frame (SOF2) is a script of DC scans (Ss=Se=0,
  interleaved or not) and one-component AC band scans, first passes
  (Ah=0, EOB runs) and refinements (T.81 G.1.2.3), with per-scan
  table redefinition.

The decoder reads the marker segments through one walker
(``_segments``), fills the grid scan by scan (``_decode_prog_scan``)
and rebuilds the pixels (``_reconstruct_progressive``: dequantize,
orthogonal float64 IDCT, chroma upsampled by pixel replication — any
sampling-factor combination with integer upsample ratios — and the
BT.601 luma reduction) at EOI, or as soon as a sequential frame's one
scan ends. Huffman tables come from the file's OWN DHT segments, so
Annex-K and custom-table JPEGs both decode. Arithmetic coding, 12-bit
precision and lossless/hierarchical frames return None for the
guarded PIL branch. Progressive mode is a LOSSLESS reordering of the
same quantized coefficients, so a fully-received progressive file
decodes pixel-identically to its sequential twin (pinned by
round-trip tests).

The encoder half is a TEST FIXTURE like the PNG/GIF encoders:
``encode_jpeg`` (the sequential script) and ``encode_jpeg_progressive``
(a seven-stage script) are thin calls of one scan-script writer,
``_encode_script``. It writes real interchange-format JPEGs (APP0 +
DQT + SOF + DHT + SOS..., optional DRI/RSTn) at quantization step 1
with self-generated canonical Huffman tables (all DC symbols at one
code length, all AC symbols at another — valid JPEG, carried in DHT,
and deliberately NOT Annex K so the decoder's table-driven path is
what's tested) or, on request, the Annex K.3 tables.

Exactness model (what the audits pin): JPEG is lossy in general,
but a FLAT 8×8 block is DC-only — with quantization step 1 the DC
coefficient (8·(v-128)) is stored exactly and the IDCT of a DC-only
block is exactly flat v again, so block-aligned plants round-trip
BIT-EXACTLY and the planted-arithmetic hash oracles carry over
unchanged (`multimodal_jpeg_phash_audit`). For general images the
reconstruction error is bounded by coefficient rounding (orthogonal
transform ⇒ ‖Δpixels‖₂ = ‖Δcoeffs‖₂ ≤ 4 at quant 1), pinned by a
round-trip tolerance test. Platform note: the IDCT basis is float64
cosines; integer rounding absorbs ~1e-13 BLAS residue exactly as
``dct_phash64`` does, and the flat-block path the oracles rely on
has integer-exact coefficients (margin test in
tests/test_jpeg_codec.py).

Scale shape: identical to the other pixel paths — decode rides the
Arrow-batched ``mapInPandas`` pass via ``decode_pixels``; CPU is
∝ pixel bytes, hashes (24 B) shuffle, pixels never do.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag scan order: index i of the scan → (row, col) in the 8×8
# block, per ITU-T T.81 Figure 5
_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _idct_basis():
    """The orthogonal 8-point DCT-II matrix M (M[u, x] =
    C(u)/2 · cos((2x+1)uπ/16)); pixels = Mᵀ F M for coefficient
    block F. M is orthogonal, so the transform preserves L2 norm —
    the error-bound lemma in the module docstring."""
    m = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            m[u, x] = c * np.cos((2 * x + 1) * u * np.pi / 16)
    return m


_IDCT_M = _idct_basis()

#: The pixel budget of every decoded canvas: the JPEG coefficient
#: grid, the GIF logical screen, the APNG and animated-WebP canvases
#: and the still WebP image on both its pixel paths. A decoder returns
#: None, before allocating, for a header that declares more — a few
#: header bytes must not buy gigabytes.
MAX_CANVAS_PIXELS = 1 << 26

#: T.81 B.1.1.3 standalone markers (TEM, RST0-7, SOI, EOI): no length
_STANDALONE = bytes([0x01, *range(0xD0, 0xDA)])

#: SOF3/5-7/9-11/13-15: lossless, hierarchical or arithmetic-coded
_UNSUPPORTED_SOF = bytes([0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                          0xCE, 0xCF])


def over_white(v, a):
    """Channel ``v`` at alpha ``a`` composited over white, rounded
    half up in integers: a = 255 is the identity. Every pixel path
    that carries alpha (PNG, TIFF, WebP) reduces with it."""
    return (v * a + 255 * (255 - a) + 127) // 255


def luma(r, g, b):
    """BT.601 integer luma ``(299·R + 587·G + 114·B) // 1000`` — the
    one gray reduction every pixel path shares (luma(g, g, g) = g)."""
    return (r * 299 + g * 587 + b * 114) // 1000


class _BitReader:
    """MSB-first entropy-segment reader with 0xFF00 unstuffing.
    Stops at any non-stuffing marker (the caller handles RSTn)."""

    def __init__(self, data: bytes, pos: int):
        self.d = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> bool:
        while self.nbits < 25:
            if self.pos >= len(self.d):
                return self.nbits > 0
            b = self.d[self.pos]
            if b == 0xFF:
                if self.pos + 1 >= len(self.d):
                    return self.nbits > 0
                nxt = self.d[self.pos + 1]
                if nxt == 0x00:  # stuffed 0xFF data byte
                    self.pos += 2
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
                return self.nbits > 0  # a real marker: stop here
            self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        return True

    def read_bit(self) -> "int | None":
        if self.nbits == 0 and not self._fill():
            return None
        if self.nbits == 0:
            return None
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> "int | None":
        v = 0
        for _ in range(n):
            b = self.read_bit()
            if b is None:
                return None
            v = (v << 1) | b
        return v

    def align_and_expect_rst(self) -> bool:
        """Byte-align and consume an RSTn marker (restart interval
        boundary)."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 >= len(self.d) or self.d[self.pos] != 0xFF:
            return False
        if not 0xD0 <= self.d[self.pos + 1] <= 0xD7:
            return False
        self.pos += 2
        return True


def _canonical(counts, symbols):
    """T.81 Annex C canonical code assignment: ``(symbol, code,
    length)`` per symbol, shortest codes first. Both the decoder's
    ``{(length, code): symbol}`` and the encoder's ``{symbol: (code,
    length)}`` tables are read off it."""
    code = k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            yield symbols[k], code, length
            code += 1
            k += 1
        code <<= 1


def _huff_decode(br: _BitReader, table) -> "int | None":
    code = 0
    for length in range(1, 17):
        b = br.read_bit()
        if b is None:
            return None
        code = (code << 1) | b
        sym = table.get((length, code))
        if sym is not None:
            return sym
    return None


def _extend(v: int, t: int) -> int:
    """JPEG sign-extension (T.81 F.2.2.1): a t-bit magnitude with
    MSB 0 encodes a negative value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _segments(p: bytes):
    """The one marker-segment walker: ``(marker, pos, end)`` for each
    marker after SOI, ``p[pos:end]`` being the whole segment (marker,
    length field and body). T.81's standalone markers (``_STANDALONE``)
    have no length field, for every caller. After an SOS segment the
    walk resumes at the next marker past the entropy-coded data. The
    walk ends at the end of the data, at a byte that is not a marker,
    or at a segment whose length does not fit — every caller treats the
    three alike."""
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return
    pos = 2
    while pos + 2 <= len(p) and p[pos] == 0xFF:
        marker = p[pos + 1]
        end = pos + 2
        if marker not in _STANDALONE:
            if pos + 4 > len(p):
                return
            end += (p[pos + 2] << 8) | p[pos + 3]
            if end < pos + 4 or end > len(p):
                return
        yield marker, pos, end
        pos = end if marker != 0xDA else _next_marker(p, end)
        if pos is None:
            return


def _next_marker(p: bytes, pos: int):
    """Position of the next real marker at or after ``pos`` (skips
    entropy-coded bytes, stuffed 0xFF00 pairs and RSTn), or None."""
    while True:
        pos = p.find(b"\xff", pos)
        if pos < 0 or pos + 1 >= len(p):
            return None
        if p[pos + 1] != 0x00 and not 0xD0 <= p[pos + 1] <= 0xD7:
            return pos
        pos += 1


def decode_jpeg_pixels(payload: bytes):
    """REAL JPEG pixel decode → int64 BT.601 luma array (h, w), or
    None for anything outside the supported envelope (12-bit,
    lossless/hierarchical, arithmetic-coded, non-integer upsample
    ratios, a canvas over :data:`MAX_CANVAS_PIXELS`, truncated, or
    malformed streams — the guarded-PIL/NULL-hash treatment).
    Supported frame types: SOF0 baseline, SOF1 extended sequential
    and SOF2 PROGRESSIVE, all read as scan scripts over one
    coefficient grid (module docstring).

    Grayscale scans return Y directly (luma(g,g,g) = g); 3-component
    scans (any sampling layout incl. 4:2:0, chroma upsampled by
    replication) convert YCbCr→RGB with the JFIF integer convention
    (round-half-away via floor(x+0.5), clip 0..255) and reduce with
    the same BT.601 integer luma every other pixel path uses."""
    p = payload
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = coefs = geom = None
    progressive = False
    dri = 0
    for marker, pos, end in _segments(p):
        seg = p[pos + 4 : end]
        if marker == 0xD9:  # EOI: a progressive frame is complete
            if coefs is None:
                return None  # EOI before any decodable scan
            return _reconstruct_progressive(sof, qt, coefs, geom)
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                n = 64 * (2 if pq == 1 else 1)
                if i + n > len(seg):
                    return None
                vals = np.frombuffer(
                    seg[i : i + n], dtype=">u2" if pq == 1 else np.uint8
                ).astype(np.int64)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZZ] = vals  # de-zigzag into natural order
                qt[tq] = tbl.reshape(8, 8)
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                counts = seg[i + 1 : i + 17]
                n = sum(counts)
                syms = seg[i + 17 : i + 17 + n]
                if len(syms) != n:
                    return None
                huff[(seg[i] >> 4, seg[i] & 0xF)] = {
                    (ln, code): s for s, code, ln in _canonical(counts, syms)
                }
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog.
            progressive = marker == 0xC2
            if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
                return None  # component specs cut short
            prec, h, w, ncomp = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8 or ncomp not in (1, 3) or w == 0 or h == 0:
                return None
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                hi, vi = hv >> 4, hv & 0xF
                if ncomp == 1:
                    # single-component scans are non-interleaved:
                    # sampling factors are ignored (T.81 A.2)
                    hi = vi = 1
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    return None
                comps.append((cid, tq, hi, vi))
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            if any(hmax % c[2] or vmax % c[3] for c in comps):
                return None  # non-integer upsample ratio
            sof = (h, w, comps)
        elif marker in _UNSUPPORTED_SOF:
            return None
        elif marker == 0xDD:  # DRI
            if len(seg) != 2:
                return None
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS: one scan of the frame's script
            if sof is None or not seg or len(seg) != 1 + 2 * seg[0] + 3:
                return None  # component selectors + Ss/Se/AhAl
            h, w, comps = sof
            ns = seg[0]
            sel = [
                (seg[1 + 2 * c], huff.get((0, seg[2 + 2 * c] >> 4)),
                 huff.get((1, seg[2 + 2 * c] & 0xF)))
                for c in range(ns)
            ]
            if progressive:
                ids = [c[0] for c in comps]
                if not 1 <= ns <= len(comps) or any(s[0] not in ids for s in sel):
                    return None
                scomp = [(ids.index(cs), dc_t, ac_t) for cs, dc_t, ac_t in sel]
                ss, se, ahal = seg[1 + 2 * ns :]
                if ss == 0:
                    bad = se != 0  # DC scans carry the DC band only
                else:  # AC bands: one component, with its AC table
                    bad = ns != 1 or not ss <= se <= 63 or sel[0][2] is None
                if bad or (ahal & 0xF) > 13:
                    return None
            else:
                # the sequential one-scan script: every component in
                # frame order over the full band; the selectors and
                # the Ss/Se/AhAl bytes are not read
                if ns != len(comps) or any(None in s for s in sel):
                    return None
                if any(c[1] not in qt for c in comps):
                    return None
                scomp = [(ci, s[1], s[2]) for ci, s in enumerate(sel)]
                ss, se, ahal = 0, 63, 0
            if coefs is None or not progressive:
                if h * w > MAX_CANVAS_PIXELS:
                    return None
                geom = _prog_geometry(h, w, comps)
                coefs = [np.zeros((g[0] * g[1], 64), dtype=np.int64) for g in geom]
            if not _decode_prog_scan(
                p, end, comps, scomp, ss, se, ahal >> 4, ahal & 0xF,
                coefs, geom, dri,
            ):
                return None
            if not progressive:  # the one scan of a sequential frame
                return _reconstruct_progressive(sof, qt, coefs, geom)
        # APPn / COM / others: skip
    return None


def _prog_geometry(h, w, comps):
    """Per-component block-grid geometry ``(bh_padded, bw_padded,
    bh_own, bw_own)`` for components ``(id, tq, h_i, v_i)``:
    interleaved scans cover the MCU-padded grid, one-component scans
    the component's own ceil(dims/8) grid (T.81 A.2)."""
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mw = (w + 8 * hmax - 1) // (8 * hmax)
    mh = (h + 8 * vmax - 1) // (8 * vmax)
    geom = []
    for _, _, hi, vi in comps:
        cw = -(-w * hi // hmax)
        chh = -(-h * vi // vmax)
        geom.append((mh * vi, mw * hi, -(-chh // 8), -(-cw // 8)))
    return geom


def _scan_blocks(cis, comps, geom, dri):
    """``(restart, k, block index)`` in the order a scan over the
    components ``cis`` codes its blocks (``k`` indexes ``cis``; the
    block index is into the MCU-padded grid). An interleaved scan
    walks the MCU grid, h_i×v_i blocks per component per MCU; a
    one-component scan walks the component's own grid, one block per
    unit. ``restart`` marks the first block of each unit that opens a
    new restart interval of ``dri`` units."""
    if len(cis) > 1:
        c0 = cis[0]
        mh, mw = geom[c0][0] // comps[c0][3], geom[c0][1] // comps[c0][2]
        layout = [(k, comps[ci][3], comps[ci][2], geom[ci][1])
                  for k, ci in enumerate(cis)]
    else:
        mh, mw = geom[cis[0]][2], geom[cis[0]][3]
        layout = [(0, 1, 1, geom[cis[0]][1])]
    for unit in range(mh * mw):
        my, mx = divmod(unit, mw)
        restart = bool(dri and unit and unit % dri == 0)
        for k, vi, hi, bw in layout:
            for by in range(vi):
                for bx in range(hi):
                    yield restart, k, (my * vi + by) * bw + mx * hi + bx
                    restart = False


def _decode_prog_scan(p, pos, comps, scomp, ss, se, ah, al, coefs, geom, dri):
    """One scan's entropy data from ``pos`` → updated ``coefs``; False
    on a malformed stream. ``scomp`` lists ``(component index, DC
    table, AC table)`` in scan order. Each block takes the DC step
    when Ss=0 and the AC step over max(Ss, 1)..Se; a full-band
    (sequential) scan ends every block with its own EOB, so an EOB
    run there is malformed. Restart intervals reset the DC
    predictors and the EOB run."""
    br = _BitReader(p, pos)
    preds = [0] * len(comps)
    eobrun = 0
    band = _prog_ac_first if ah == 0 else _prog_ac_refine
    for restart, k, bidx in _scan_blocks([s[0] for s in scomp], comps, geom, dri):
        if restart:
            if not br.align_and_expect_rst():
                return False
            preds = [0] * len(comps)
            eobrun = 0
        ci, dc_t, ac_t = scomp[k]
        coef = coefs[ci][bidx]
        if ss == 0 and not _prog_dc_block(br, coef, dc_t, ah, al, preds, ci):
            return False
        if se:
            eobrun = band(br, coef, ac_t, max(ss, 1), se, al, eobrun)
            if eobrun is None or (eobrun and ss == 0):
                return False
    return True


def _prog_dc_block(br, coef, dc_t, ah, al, preds, ci) -> bool:
    """DC coefficient of one block: first scan (Ah=0) is baseline
    DPCM shifted left by Al; refinement appends bit Al."""
    if ah == 0:
        if dc_t is None:
            return False
        t = _huff_decode(br, dc_t)
        if t is None or t > 11:
            return False
        bits = br.read_bits(t) if t else 0
        if bits is None:
            return False
        preds[ci] += _extend(bits, t)
        coef[0] = preds[ci] << al
    else:
        b = br.read_bit()
        if b is None:
            return False
        if b:
            coef[0] |= 1 << al
    return True


def _prog_ac_first(br, coef, ac_t, ss, se, al, eobrun):
    """AC band, first scan (Ah=0): run/size coding with EOB runs;
    new coefficients enter shifted left by Al. Returns the updated
    EOB run (None on malformed streams)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _huff_decode(br, ac_t)
        if sym is None:
            return None
        r, s = sym >> 4, sym & 0xF
        if s == 0:
            if r < 15:
                eb = 1 << r
                if r:
                    bits = br.read_bits(r)
                    if bits is None:
                        return None
                    eb += bits
                return eb - 1  # this block consumes one
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            return None
        bits = br.read_bits(s)
        if bits is None:
            return None
        coef[_ZZ[k]] = _extend(bits, s) << al
        k += 1
    return 0


def _prog_ac_refine(br, coef, ac_t, ss, se, al, eobrun):
    """AC band refinement (T.81 G.1.2.3, the libjpeg-equivalent
    control flow): correction bits for already-nonzero coefficients
    are interleaved with run-coded newly-significant ±2^Al entries;
    EOB runs carry correction bits for the remainder of each block.
    Returns the updated EOB run (None on malformed streams)."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _huff_decode(br, ac_t)
            if sym is None:
                return None
            r, s = sym >> 4, sym & 0xF
            if s:
                if s != 1:
                    return None  # refinement codes only size-1
                b = br.read_bit()
                if b is None:
                    return None
                s = p1 if b else m1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        bits = br.read_bits(r)
                        if bits is None:
                            return None
                        eobrun += bits
                    break
                s = 0  # ZRL: 16 zero-history positions, no new coef
            while k <= se:
                z = _ZZ[k]
                if coef[z] != 0:
                    b = br.read_bit()
                    if b is None:
                        return None
                    if b and (coef[z] & p1) == 0:
                        coef[z] += p1 if coef[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s:
                if k > se:
                    return None  # newly-significant ran off the band
                coef[_ZZ[k]] = s
            k += 1
    if eobrun > 0:
        while k <= se:
            z = _ZZ[k]
            if coef[z] != 0:
                b = br.read_bit()
                if b is None:
                    return None
                if b and (coef[z] & p1) == 0:
                    coef[z] += p1 if coef[z] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct_progressive(sof, qt, coefs, geom):
    """A complete coefficient grid → pixels: dequantize + IDCT every
    block (one batched matmul over the whole grid), upsample subsampled
    planes by PIXEL REPLICATION (each chroma sample covers its
    Hmax/h_i × Vmax/v_i footprint), crop to the image rectangle and
    reduce to the BT.601 integer luma — grayscale returns Y directly;
    3-component converts YCbCr→RGB with the JFIF integer convention
    (round-half-up via floor(x+0.5), clip 0..255)."""
    h, w, comps = sof
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    up = []
    for ci, (_, tq, hi, vi) in enumerate(comps):
        q = qt.get(tq)
        if q is None:
            return None
        bh_p, bw_p, _, _ = geom[ci]
        blk = (
            coefs[ci].reshape(bh_p, bw_p, 8, 8) * q
        ).astype(np.float64)
        px = _IDCT_M.T @ blk @ _IDCT_M  # per block, broadcast over the grid
        pl = px.transpose(0, 2, 1, 3).reshape(bh_p * 8, bw_p * 8)
        if hi != hmax or vi != vmax:
            pl = np.repeat(
                np.repeat(pl, vmax // vi, axis=0), hmax // hi, axis=1
            )
        up.append(pl[:h, :w])
    if len(up) == 1:
        return np.clip(np.floor(up[0] + 128.5), 0, 255).astype(np.int64)
    y = up[0] + 128.0
    cb = up[1]
    cr = up[2]
    # JFIF YCbCr→RGB, round-half-up then clip (Cb/Cr already
    # level-shifted around 0 here since +128 was not applied)
    r = np.clip(np.floor(y + 1.402 * cr + 0.5), 0, 255).astype(np.int64)
    g = np.clip(
        np.floor(y - 0.344136 * cb - 0.714136 * cr + 0.5), 0, 255
    ).astype(np.int64)
    b = np.clip(np.floor(y + 1.772 * cb + 0.5), 0, 255).astype(np.int64)
    return luma(r, g, b)


# ------------------------------------------------ Huffman table specs


def _fixed_length_spec(symbols, length: int):
    """(counts, symbols) giving every symbol a code of one length —
    valid while len(symbols) ≤ 2^length − 1 (the all-ones code stays
    unused per T.81 C.2)."""
    counts = [0] * 16
    counts[length - 1] = len(symbols)
    return counts, bytes(sorted(symbols))


#: the fixture's DC table: all 12 DC size symbols at code length 4
_FIXTURE_DC = _fixed_length_spec(range(12), 4)


def _fixture_ac(eob_runs: bool):
    """The fixture's AC table, every symbol at code length 8: EOB, ZRL
    and run 0-15 × size 1-10 (the 162 baseline symbols), plus the
    EOB1..EOB14 run symbols 0x10..0xE0 that only progressive scans
    code (176 symbols) when ``eob_runs``."""
    return _fixed_length_spec(
        [r << 4 for r in range(15 if eob_runs else 1)] + [0xF0]
        + [(r << 4) | s for r in range(16) for s in range(1, 11)],
        8,
    )


# ------------------------- T.81 Annex K.3 "typical" Huffman tables
#
# The fixed tables MJPEG relies on: the OpenDML AVI spec ("AVI1"
# JPEGs) lets a motion-JPEG frame OMIT its DHT segments entirely —
# decoders must then supply these tables from T.81 Tables K.3-K.6.
# The byte values below are pinned against an independent authority
# in tests/test_codec_conformance.py: javax.imageio's JPEG writer
# emits exactly these tables in its DHT segments, and the test
# parses them out and asserts count+symbol equality (a
# transcribed constant needs a referee).

_STD_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    bytes(range(12)),
)
_STD_DC_CHROM = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    bytes(range(12)),
)
_STD_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    bytes([
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]),
)
_STD_AC_CHROM = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    bytes([
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]),
)

#: the four K.3 tables as one DHT segment body, (class<<4|id) order
#: DC-lum(0,0), AC-lum(1,0), DC-chrom(0,1), AC-chrom(1,1)
_STD_DHT_SPECS = (
    (0x00, _STD_DC_LUM),
    (0x10, _STD_AC_LUM),
    (0x01, _STD_DC_CHROM),
    (0x11, _STD_AC_CHROM),
)


def _segment(marker: int, body: bytes) -> bytes:
    """One marker segment: marker, big-endian length, body."""
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body


def _dht(specs) -> bytes:
    """One DHT segment carrying ``(class << 4 | id, (counts, symbols))``
    tables in order."""
    return _segment(0xC4, b"".join(
        bytes([cls_id]) + bytes(counts) + syms
        for cls_id, (counts, syms) in specs
    ))


def mjpeg_ensure_dht(payload: bytes) -> bytes:
    """Make a DHT-less MJPEG frame a self-contained JPEG: if the
    stream carries no DHT segment before its first SOS, inject the
    four T.81 Annex K.3 fixed tables (all four, ids 0 and 1, so any
    legal table assignment in the scan header resolves) immediately
    before the SOS, per the OpenDML "AVI1" convention. Streams that
    already carry a DHT — or anything that is not a JPEG — are
    returned unchanged; malformed marker structure is left for
    :func:`decode_jpeg_pixels` to reject."""
    for marker, pos, _ in _segments(payload):
        if marker == 0xC4:
            return payload  # has its own DHT
        if marker == 0xDA:  # first SOS, no DHT seen → inject K.3 tables
            return payload[:pos] + _dht(_STD_DHT_SPECS) + payload[pos:]
    return payload


def mjpeg_strip_dht(payload: bytes) -> bytes:
    """TEST/SYNTH FIXTURE — the inverse transform real MJPEG
    encoders apply: drop every DHT segment before the first SOS,
    producing the DHT-less "AVI1" frame form that only decodes once
    :func:`mjpeg_ensure_dht` re-supplies the K.3 tables. Only
    meaningful for streams actually coded WITH the K.3 tables
    (``encode_jpeg(..., tables="standard")``); malformed streams are
    returned unchanged."""
    out = bytearray(payload[:2])
    for marker, pos, end in _segments(payload):
        if marker == 0xDA:
            return bytes(out + payload[pos:])
        if marker != 0xC4:
            out += payload[pos:end]
    return payload


# ------------------------------------------------ encoder (fixture)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-bits padding per spec


def _size_cat(v: int) -> int:
    return int(abs(v)).bit_length()


def _fwd_block(blk) -> np.ndarray:
    """Forward DCT of one level-shifted spatial block → clamped
    integer coefficients in NATURAL order (quant step 1)."""
    f = _IDCT_M @ np.asarray(blk, dtype=np.float64) @ _IDCT_M.T
    coef = np.rint(f).astype(np.int64).ravel()
    # baseline 8-bit AC categories stop at 10 (|v| ≤ 1023); the
    # exact-basis-matching adversarial block can round to ±1024 —
    # clamp (1-LSB distortion on a synthetic extreme, spec-valid
    # stream always)
    coef[1:] = np.clip(coef[1:], -1023, 1023)
    return coef.reshape(8, 8)


def _pad_replicate(g, ph: int, pw: int) -> np.ndarray:
    h, w = g.shape
    padded = np.zeros((ph, pw), dtype=np.int64)
    padded[:h, :w] = g
    if h < ph:
        padded[h:, :w] = g[-1:, :]
    if w < pw:
        padded[:, w:] = padded[:, w - 1 : w]
    return padded


def _exif_app1(orientation: int) -> bytes:
    """Minimal APP1/EXIF segment carrying only the orientation tag:
    TIFF little-endian header + a one-entry IFD0 (0x0112, SHORT)."""
    tiff = (
        b"II*\x00" + struct.pack("<I", 8)  # IFD0 at offset 8
        + struct.pack("<H", 1)  # one entry
        + struct.pack("<HHIHH", 0x0112, 3, 1, orientation, 0)
        + struct.pack("<I", 0)  # no next IFD
    )
    return _segment(0xE1, b"Exif\x00\x00" + tiff)


class _ProgAcState:
    """Per-scan AC encoder state: the pending EOB run and the
    correction bits buffered to be emitted with it (libjpeg's
    BE/bit_buffer pairing)."""

    def __init__(self):
        self.eobrun = 0
        self.bits = []


def _flush_eobrun(bwr, ac_enc, st: _ProgAcState):
    """Emit the pending EOBn symbol (+ its extension bits) and the
    buffered correction bits."""
    if st.eobrun > 0:
        nbits = st.eobrun.bit_length() - 1
        code, ln = ac_enc[nbits << 4]
        bwr.write(code, ln)
        if nbits:
            bwr.write(st.eobrun - (1 << nbits), nbits)
        st.eobrun = 0
    for b in st.bits:
        bwr.write(b, 1)
    st.bits = []


def _enc_dc_first(bwr, dc_shifted, pred, ci, dc_enc):
    diff = dc_shifted - pred[ci]
    pred[ci] = dc_shifted
    t = _size_cat(diff)
    code, ln = dc_enc[t]
    bwr.write(code, ln)
    if t:
        bwr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)


def _enc_ac_first(bwr, cvec, ss, se, al, ac_enc, st: _ProgAcState):
    """AC band first scan: values are sign·(|v|>>Al) (point transform
    toward zero, per T.81 A.4 / libjpeg); all-zero bands fold into
    the EOB run."""
    vals = []
    for k in range(ss, se + 1):
        v = int(cvec[k])
        t = (abs(v)) >> al
        vals.append(-t if v < 0 else t)
    last_nz = -1
    for i, v in enumerate(vals):
        if v:
            last_nz = i
    if last_nz < 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(bwr, ac_enc, st)
        return
    _flush_eobrun(bwr, ac_enc, st)
    r = 0
    for i in range(last_nz + 1):
        v = vals[i]
        if v == 0:
            r += 1
            continue
        while r > 15:
            code, ln = ac_enc[0xF0]
            bwr.write(code, ln)
            r -= 16
        s = _size_cat(v)
        code, ln = ac_enc[(r << 4) | s]
        bwr.write(code, ln)
        bwr.write(v if v >= 0 else v + (1 << s) - 1, s)
        r = 0
    if last_nz < se - ss:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            _flush_eobrun(bwr, ac_enc, st)


def _enc_ac_refine(bwr, cvec, ss, se, al, ac_enc, st: _ProgAcState):
    """AC band refinement: the encoder half of T.81 G.1.2.3 —
    newly-significant coefficients (|v|>>Al == 1) are run-coded over
    ZERO-HISTORY positions with a sign bit; already-significant ones
    contribute buffered correction bits; trailing runs fold into the
    EOB run (libjpeg jcphuff control flow, reimplemented)."""
    absv = []
    signs = []
    for k in range(ss, se + 1):
        v = int(cvec[k])
        absv.append(abs(v) >> al)
        signs.append(1 if v >= 0 else 0)
    eob = -1
    for i, t in enumerate(absv):
        if t == 1:
            eob = i
    r = 0
    br_bits = []
    for i, t in enumerate(absv):
        if t == 0:
            r += 1
            continue
        while r > 15 and i <= eob:
            _flush_eobrun(bwr, ac_enc, st)
            code, ln = ac_enc[0xF0]
            bwr.write(code, ln)
            r -= 16
            for b in br_bits:
                bwr.write(b, 1)
            br_bits = []
        if t > 1:
            br_bits.append(t & 1)
            continue
        _flush_eobrun(bwr, ac_enc, st)
        code, ln = ac_enc[(r << 4) | 1]
        bwr.write(code, ln)
        bwr.write(signs[i], 1)
        for b in br_bits:
            bwr.write(b, 1)
        br_bits = []
        r = 0
    if r > 0 or br_bits:
        st.eobrun += 1
        st.bits.extend(br_bits)
        if st.eobrun == 0x7FFF or len(st.bits) > 900:
            _flush_eobrun(bwr, ac_enc, st)


def _encode_script(gray, color, subsampling, cb_const, cr_const,
                   restart_interval, sof_marker, script, tables="fixture",
                   exif_orientation=0) -> bytes:
    """The one scan-script writer behind both encoders: the frame's
    coefficient grid (quant step 1; luma the forward DCT of the
    edge-replicated image, chroma FLAT at ``cb_const``/``cr_const``),
    one header (APP0, optional EXIF APP1, DQT, SOF ``sof_marker``, one
    DHT, optional DRI), then each scan ``(component indices, Ss, Se,
    Ah, Al)`` of ``script`` as SOS + entropy data with RSTn every
    ``restart_interval`` units, then EOI."""
    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    if not color:
        layout = [(1, None)]
    elif subsampling == "444":
        layout = [(1, None), (1, cb_const), (1, cr_const)]
    elif subsampling == "420":
        layout = [(2, None), (1, cb_const), (1, cr_const)]
    else:
        raise ValueError(f"unsupported subsampling: {subsampling!r}")
    comps = [(c + 1, 0, f, f) for c, (f, _) in enumerate(layout)]
    geom = _prog_geometry(h, w, comps)
    padded = _pad_replicate(g, geom[0][0] * 8, geom[0][1] * 8)
    grid = []  # per component: zigzag coefficients per padded block
    for (_, cst), (bh_p, bw_p, _, _) in zip(layout, geom):
        if cst is not None:
            flat = _fwd_block(np.full((8, 8), cst, dtype=np.int64))
            grid.append(np.tile(flat.ravel()[_ZZ], (bh_p * bw_p, 1)))
        else:
            grid.append(np.array([
                _fwd_block(padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                           - 128).ravel()[_ZZ]
                for by in range(bh_p) for bx in range(bw_p)
            ]))
    if tables == "standard":
        # K.3: luma tables as id 0, chroma tables as id 1
        tids = [0] + [1] * (len(comps) - 1)
        specs = _STD_DHT_SPECS[: 2 * len(set(tids))]
    else:
        tids = [0] * len(comps)
        specs = ((0x00, _FIXTURE_DC), (0x10, _fixture_ac(sof_marker == 0xC2)))
    enc = {
        cls_id: {s: (code, ln) for s, code, ln in _canonical(*spec)}
        for cls_id, spec in specs
    }

    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out = bytearray(b"\xff\xd8" + _segment(0xE0, app0))
    if exif_orientation:
        out += _exif_app1(exif_orientation)
    out += _segment(0xDB, b"\x00" + b"\x01" * 64)  # table 0, all ones
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comps)])
    for cid, _, hi, vi in comps:
        sof += bytes([cid, (hi << 4) | vi, 0])
    out += _segment(sof_marker, sof) + _dht(specs)
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    for cis, ss, se, ah, al in script:
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([ci + 1, tids[ci] * 0x11])
        out += _segment(0xDA, sos + bytes([ss, se, (ah << 4) | al]))
        bwr = _BitWriter()
        st = _ProgAcState()
        pred = [0] * len(comps)
        rst = 0  # T.81: the RSTn modulo counter restarts every scan
        ac_enc = enc[0x10 | tids[cis[0]]]  # an EOB run is one component's
        for restart, k, bidx in _scan_blocks(cis, comps, geom, restart_interval):
            if restart:
                _flush_eobrun(bwr, ac_enc, st)
                bwr.flush()
                out += bwr.out + bytes([0xFF, 0xD0 + rst % 8])
                bwr = _BitWriter()
                rst += 1
                pred = [0] * len(comps)
            ci = cis[k]
            cvec = grid[ci][bidx]
            if ss == 0 and ah == 0:
                _enc_dc_first(bwr, int(cvec[0]) >> al, pred, ci, enc[tids[ci]])
            elif ss == 0:
                bwr.write((int(cvec[0]) >> al) & 1, 1)
            if se:
                ac_enc = enc[0x10 | tids[ci]]
                band = _enc_ac_first if ah == 0 else _enc_ac_refine
                band(bwr, cvec, max(ss, 1), se, al, ac_enc, st)
                if ss == 0:  # full band (sequential): EOB per block
                    _flush_eobrun(bwr, ac_enc, st)
        _flush_eobrun(bwr, ac_enc, st)
        bwr.flush()
        out += bwr.out
    return bytes(out + b"\xff\xd9")  # EOI


def encode_jpeg(
    gray,
    color: bool = False,
    restart_interval: int = 0,
    subsampling: str = "444",
    cb_const: int = 0,
    cr_const: int = 0,
    exif_orientation: int = 0,
    tables: str = "fixture",
) -> bytes:
    """TEST FIXTURE: encode an int64 gray array as a REAL baseline
    JFIF JPEG — the sequential one-scan script — with quantization
    step 1 everywhere (so flat 8×8 blocks round-trip exactly) and the
    self-generated fixed-length Huffman tables above. ``color=True``
    writes a 3-component scan — ``subsampling="444"`` (all factors 1)
    or ``"420"`` (Y at 2×2, chroma quarter-res: the layout most real
    crawls carry) — whose chroma planes are FLAT at
    ``cb_const``/``cr_const`` (signed, around the 128 level shift).
    Flat chroma quantizes exactly, so the decoded RGB is an exact
    integer function of (gray, cb, cr) under the JFIF conversion —
    including through the replication upsample. ``restart_interval``
    > 0 emits DRI + RSTn markers every that many MCUs (exercises the
    decoder's restart path).

    ``tables="standard"`` codes the scan with the T.81 Annex K.3
    typical tables instead (luma tables as id 0, chroma as id 1 —
    the assignment every real-world encoder uses): the form MJPEG
    fixtures need, because only a K.3-coded stream stays decodable
    after :func:`mjpeg_strip_dht` + :func:`mjpeg_ensure_dht`."""
    cis = list(range(3 if color else 1))
    return _encode_script(
        gray, color, subsampling, cb_const, cr_const, restart_interval,
        0xC0, [(cis, 0, 63, 0, 0)], tables, exif_orientation,
    )


def encode_jpeg_progressive(
    gray,
    color: bool = False,
    subsampling: str = "444",
    cb_const: int = 0,
    cr_const: int = 0,
    restart_interval: int = 0,
    dc_per_component: bool = False,
) -> bytes:
    """TEST FIXTURE: encode an int64 gray array as a REAL PROGRESSIVE
    (SOF2) JFIF JPEG carrying the SAME quant-1 coefficients as
    ``encode_jpeg`` would, re-ordered across a seven-stage scan
    script that exercises every progressive decode path:

    1. interleaved DC first scan at Al=1;
    2. per component: AC band 1-5 first scan at Al=2;
    3. per component: AC band 6-63 first scan at Al=1;
    4. per component: AC band 1-5 refinement Ah=2→Al=1;
    5. interleaved DC refinement Ah=1→Al=0;
    6. per component: AC band 1-5 refinement Ah=1→Al=0;
    7. per component: AC band 6-63 refinement Ah=1→Al=0.

    Because progressive mode is a lossless reordering of the same
    quantized coefficients, the decoded pixels are BIT-IDENTICAL to
    the sequential encoding's — the round-trip tests pin exactly
    that. ``restart_interval`` > 0 emits DRI once and RSTn inside
    every scan (units: MCUs for the interleaved DC scans, blocks for
    the single-component AC scans). ``dc_per_component`` replaces
    both interleaved DC scans with per-component Ns=1 DC scans over
    each component's OWN ceil(dims/8) grid (T.81 A.2) — the shape
    real encoders emit for subsampled chroma."""
    cis = list(range(3 if color else 1))
    dc = [[ci] for ci in cis] if dc_per_component else [cis]

    def bands(ss, se, ah, al):
        return [([ci], ss, se, ah, al) for ci in cis]

    script = (
        [(c, 0, 0, 0, 1) for c in dc] + bands(1, 5, 0, 2)
        + bands(6, 63, 0, 1) + bands(1, 5, 2, 1)
        + [(c, 0, 0, 1, 0) for c in dc] + bands(1, 5, 1, 0)
        + bands(6, 63, 1, 0)
    )
    return _encode_script(
        gray, color, subsampling, cb_const, cr_const, restart_interval,
        0xC2, script,
    )


# ------------------------------------------------ EXIF orientation


def jpeg_exif_orientation(payload: bytes) -> int:
    """EXIF orientation tag (1..8) from a JPEG's APP1 segment, or 1
    (upright) when absent or malformed. Pure byte walk: APP1 scan →
    "Exif\\0\\0" → TIFF header (II little-endian or MM big-endian) →
    IFD0 entries → tag 0x0112 (SHORT). A camera that stores the
    sensor's native landscape pixels plus this tag produces a
    byte-different file whose DISPLAYED image is rotated — the
    perceptual-dedup trap ``decode_pixels`` neutralizes by
    normalizing through :func:`apply_exif_orientation`."""
    for marker, pos, end in _segments(payload):
        if marker in (0xD9, 0xDA):
            return 1  # image data: no EXIF seen
        if marker == 0xE1 and payload[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return tiff_orientation(payload[pos + 10 : end])
    return 1


def tiff_orientation(t: bytes) -> int:
    """Orientation (1..8) from a raw TIFF stream (the payload of a
    JPEG APP1/Exif segment or a PNG eXIf chunk), or 1 when absent or
    malformed. Handles both byte orders (II/MM)."""
    if len(t) < 14:
        return 1
    if t[:4] == b"II*\x00":
        end = "<"
    elif t[:4] == b"MM\x00*":
        end = ">"
    else:
        return 1
    (ifd0,) = struct.unpack_from(end + "I", t, 4)
    if ifd0 + 2 > len(t):
        return 1
    (n,) = struct.unpack_from(end + "H", t, ifd0)
    for i in range(n):
        off = ifd0 + 2 + 12 * i
        if off + 12 > len(t):
            return 1
        tag, typ = struct.unpack_from(end + "HH", t, off)
        if tag == 0x0112 and typ == 3:  # SHORT
            (val,) = struct.unpack_from(end + "H", t, off + 8)
            return val if 1 <= val <= 8 else 1
    return 1


def apply_exif_orientation(gray, orientation: int):
    """Normalize a decoded luma array to upright per the EXIF
    orientation value — pure index permutations (exact):
    1 identity, 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose,
    6 rotate 90 CW, 7 transverse, 8 rotate 90 CCW."""
    if orientation == 2:
        return gray[:, ::-1]
    if orientation == 3:
        return gray[::-1, ::-1]
    if orientation == 4:
        return gray[::-1, :]
    if orientation == 5:
        return gray.T
    if orientation == 6:
        return gray.T[:, ::-1]
    if orientation == 7:
        return gray.T[::-1, ::-1]
    if orientation == 8:
        return gray.T[::-1, :]
    return gray
