"""JPEG decode (JFIF — baseline SOF0, extended-sequential SOF1, and
PROGRESSIVE SOF2) in pure Python + numpy — no codec library. The
last compressed image format a crawl sees in volume becomes a REAL
pixel path: table-driven Huffman (the tables come from the file's
OWN DHT segments, so Annex-K and custom-table JPEGs both decode),
zigzag + dequantization, an orthogonal float64 IDCT, 0xFF00
byte-unstuffing, DRI/RSTn restart handling, and general interleaved
MCUs — ANY sampling-factor combination with integer upsample ratios
(4:4:4, 4:2:0, 4:2:2, 4:4:0, ...), chroma upsampled by
deterministic pixel replication (libjpeg's "fancy" bilinear variant
is a smoothing choice, not bitstream semantics). Progressive decode
(the web's other dominant JPEG flavor) accumulates coefficients
across scans: spectral selection, successive approximation — DC
refinement bits and the T.81 G.1.2.3 AC refinement control flow —
EOB-run coding, per-scan table redefinition, and restart intervals
in MCU or block units. Since progressive mode is a LOSSLESS
reordering of the same quantized coefficients, a fully-received
progressive file decodes pixel-identically to its sequential twin
(pinned by round-trip tests). Arithmetic coding, 12-bit precision
and lossless/hierarchical frames return None for the guarded PIL
branch.

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

The encoder half (``encode_jpeg``) is a TEST FIXTURE like the
PNG/GIF encoders: it writes real interchange-format JPEGs (APP0 +
DQT + SOF0 + DHT + SOS, optional DRI/RSTn) using self-generated
canonical Huffman tables (all DC symbols at one code length, all AC
symbols at another — valid JPEG, carried in DHT, and deliberately
NOT Annex K so the decoder's table-driven path is what's tested).
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


def _build_huff(counts: "list[int]", symbols: bytes):
    """Canonical JPEG Huffman table → dict {(length, code): symbol}
    per T.81 Annex C code assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                return None
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


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


def decode_jpeg_pixels(payload: bytes):
    """REAL JPEG pixel decode → int64 BT.601 luma array (h, w), or
    None for anything outside the supported envelope (12-bit,
    lossless/hierarchical, arithmetic-coded, non-integer upsample
    ratios, truncated, or malformed streams — the
    guarded-PIL/NULL-hash treatment). Supported frame types: SOF0
    baseline, SOF1 extended sequential (identical decode at 8-bit
    precision), and SOF2 PROGRESSIVE — multi-scan coefficient
    accumulation with spectral selection, successive approximation
    (DC and the T.81 G.1.2.3 AC refinement), EOB-run coding,
    per-scan table redefinition, and restart intervals in both
    interleaved-MCU and single-component block units.

    Grayscale scans return Y directly (luma(g,g,g) = g); 3-component
    scans (any sampling layout incl. 4:2:0, chroma upsampled by
    replication) convert YCbCr→RGB with the JFIF integer convention
    (round-half-away via floor(x+0.5), clip 0..255) and reduce with
    the same BT.601 integer luma every other pixel path uses.

    Progressive exactness note: a progressive file carries the SAME
    quantized coefficients as its sequential twin, merely re-ordered
    across scans — once every scan is consumed, reconstruction is
    coefficient-identical to the baseline decode, so all the
    flat-block exactness lemmas carry over unchanged."""
    p = payload
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return None
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    progressive = False
    dri = 0
    coefs = None  # progressive: per-component accumulated coefficients
    geom = None
    preds = None
    while pos + 2 <= len(p):
        if p[pos] != 0xFF:
            return None
        marker = p[pos + 1]
        if marker == 0xD8:
            pos += 2
            continue
        if marker == 0xD9:
            if coefs is not None:
                return _reconstruct_progressive(sof, qt, coefs, geom)
            return None  # EOI before any decodable scan
        if pos + 4 > len(p):
            return None  # truncated segment header
        (seglen,) = struct.unpack_from(">H", p, pos + 2)
        seg = p[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            return None
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                n = 64 * (2 if pq == 1 else 1)
                if i + n > len(seg):
                    return None
                if pq == 1:
                    vals = np.frombuffer(
                        seg[i : i + n], dtype=">u2"
                    ).astype(np.int64)
                else:
                    vals = np.frombuffer(
                        seg[i : i + n], dtype=np.uint8
                    ).astype(np.int64)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZZ] = vals  # de-zigzag into natural order
                qt[tq] = tbl.reshape(8, 8)
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                counts = list(seg[i + 1 : i + 17])
                n = sum(counts)
                syms = seg[i + 17 : i + 17 + n]
                if len(syms) != n:
                    return None
                t = _build_huff(counts, syms)
                if t is None:
                    return None
                huff[(tc, th)] = t
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
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # lossless/hierarchical/arithmetic coding
        elif marker == 0xDD:  # DRI
            if seglen != 4:
                return None
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                return None
            h, w, comps = sof
            if not seg or len(seg) != 1 + 2 * seg[0] + 3:
                return None  # component selectors + Ss/Se/AhAl
            ns = seg[0]
            if not progressive:
                if ns != len(comps):
                    return None
                sel = []
                for c in range(ns):
                    _cs, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                    dc_t = huff.get((0, tda >> 4))
                    ac_t = huff.get((1, tda & 0xF))
                    q = qt.get(comps[c][1])
                    if dc_t is None or ac_t is None or q is None:
                        return None
                    sel.append((dc_t, ac_t, q, comps[c][2], comps[c][3]))
                return _decode_scan(p, pos + 2 + seglen, h, w, sel, dri)
            # --- progressive scan ---
            if not 1 <= ns <= len(comps):
                return None
            if coefs is None:
                geom = _prog_geometry(h, w, comps)
                coefs = [
                    np.zeros((bh_p * bw_p, 64), dtype=np.int64)
                    for (bh_p, bw_p, _, _) in geom
                ]
                preds = None
            scomp = []
            for c in range(ns):
                cs, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                matches = [i for i, cc in enumerate(comps) if cc[0] == cs]
                if not matches:
                    return None
                ci = matches[0]
                scomp.append(
                    (ci, huff.get((0, tda >> 4)), huff.get((1, tda & 0xF)))
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            newpos = _decode_prog_scan(
                p, pos + 2 + seglen, comps, scomp, ss, se, ah, al,
                coefs, geom, dri,
            )
            if newpos is None:
                return None
            nm = _next_marker(p, newpos)
            if nm is None:
                return None
            pos = nm
            continue
        # APPn / COM / others: skip
        pos += 2 + seglen
    return None


def _next_marker(p: bytes, pos: int):
    """Scan forward to the next real marker (skips entropy padding,
    stuffed 0xFF00 pairs, and stray RSTn)."""
    while pos + 1 < len(p):
        if (
            p[pos] == 0xFF
            and p[pos + 1] != 0x00
            and not 0xD0 <= p[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return None


def _prog_geometry(h, w, comps):
    """Per-component block-grid geometry for progressive scans:
    (bh_padded, bw_padded, bh_nonint, bw_nonint) — interleaved DC
    scans cover the MCU-padded grid, single-component scans the
    component's own ceil(dims/8) grid (T.81 A.2)."""
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


def _decode_prog_scan(p, pos, comps, scomp, ss, se, ah, al, coefs, geom, dri):
    """One progressive scan's entropy data → updated ``coefs``;
    returns the stream position after the scan (or None on a
    malformed stream). DC scans (Ss=0) may be interleaved; AC scans
    are single-component over the component's own block grid.
    Restart intervals reset DC predictors and the EOB run."""
    if ss == 0:
        if se != 0 or al > 13:
            return None
    else:
        if len(scomp) != 1 or not ss <= se <= 63 or al > 13:
            return None
        if scomp[0][2] is None:
            return None  # AC scan needs its AC table
    br = _BitReader(p, pos)
    eobrun = 0
    preds = [0] * len(comps)
    interleaved = ss == 0 and len(scomp) > 1
    if interleaved:
        hmax = max(c[2] for c in comps)
        vmax = max(c[3] for c in comps)
        # MCU grid is shared: geom rows are (mh*vi, mw*hi, ...)
        mh = geom[scomp[0][0]][0] // comps[scomp[0][0]][3]
        mw = geom[scomp[0][0]][1] // comps[scomp[0][0]][2]
        units = mh * mw
    else:
        # Non-interleaved scans (DC or AC) cover the component's OWN
        # ceil(dims/8) grid (T.81 A.2), never the MCU-padded one.
        ci0 = scomp[0][0]
        bh, bw = geom[ci0][2], geom[ci0][3]
        units = bh * bw
    unit = 0
    for uy in range(units):
        if dri and unit and unit % dri == 0:
            if not br.align_and_expect_rst():
                return None
            preds = [0] * len(comps)
            eobrun = 0
        if interleaved:
            my, mx = divmod(unit, mw)
            for ci, dc_t, _ in scomp:
                _, _, hi, vi = comps[ci]
                for by in range(vi):
                    for bx in range(hi):
                        bidx = (my * vi + by) * geom[ci][1] + (mx * hi + bx)
                        ok = _prog_dc_block(
                            br, coefs[ci][bidx], dc_t, ah, al, preds, ci
                        )
                        if not ok:
                            return None
        else:
            ci, dc_t, ac_t = scomp[0]
            # single-component grid index → padded-grid index
            by, bx = divmod(unit, geom[ci][3])
            bidx = by * geom[ci][1] + bx
            if ss == 0:
                ok = _prog_dc_block(
                    br, coefs[ci][bidx], dc_t, ah, al, preds, ci
                )
                if not ok:
                    return None
            else:
                if ah == 0:
                    eobrun = _prog_ac_first(
                        br, coefs[ci][bidx], ac_t, ss, se, al, eobrun
                    )
                else:
                    eobrun = _prog_ac_refine(
                        br, coefs[ci][bidx], ac_t, ss, se, al, eobrun
                    )
                if eobrun is None:
                    return None
        unit += 1
    return br.pos


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
    """After every scan is consumed: dequantize + IDCT each block
    (vectorized einsum over the whole block grid), assemble planes,
    and run the shared upsample/crop/color-convert tail."""
    h, w, comps = sof
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    planes = []
    for ci, (_, tq, hi, vi) in enumerate(comps):
        q = qt.get(tq)
        if q is None:
            return None
        bh_p, bw_p, _, _ = geom[ci]
        blk = (
            coefs[ci].reshape(bh_p, bw_p, 8, 8) * q
        ).astype(np.float64)
        px = np.einsum("ux,ijuv,vy->ijxy", _IDCT_M, blk, _IDCT_M)
        planes.append(px.transpose(0, 2, 1, 3).reshape(bh_p * 8, bw_p * 8))
    hvs = [(hi, vi) for (_, _, hi, vi) in comps]
    return _planes_to_pixels(planes, hvs, hmax, vmax, h, w)


def _decode_block(br, dc_t, ac_t, q, pred_box, ci):
    """One entropy-coded 8×8 block → dequantized spatial pixels (or
    None on a malformed stream). ``pred_box`` carries the per-
    component DC predictors across MCUs."""
    coef = np.zeros(64, dtype=np.int64)
    t = _huff_decode(br, dc_t)
    if t is None or t > 11:
        return None
    bits = br.read_bits(t) if t else 0
    if bits is None:
        return None
    pred_box[ci] += _extend(bits, t)
    coef[0] = pred_box[ci]
    k = 1
    while k < 64:
        sym = _huff_decode(br, ac_t)
        if sym is None:
            return None
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0xF
        k += run
        if k > 63 or size == 0:
            return None
        bits = br.read_bits(size)
        if bits is None:
            return None
        coef[_ZZ[k]] = _extend(bits, size)
        k += 1
    blk = coef.reshape(8, 8) * q
    return _IDCT_M.T @ blk.astype(np.float64) @ _IDCT_M


def _decode_scan(p, pos, h, w, sel, dri):
    """General interleaved-MCU scan: each MCU carries h_i×v_i blocks
    per component; subsampled planes are upsampled by PIXEL
    REPLICATION (each chroma sample covers its Hmax/h_i × Vmax/v_i
    pixel footprint — deterministic; libjpeg's "fancy" bilinear
    variant is a smoothing choice, not part of the bitstream)."""
    ncomp = len(sel)
    hmax = max(s[3] for s in sel)
    vmax = max(s[4] for s in sel)
    mw = (w + 8 * hmax - 1) // (8 * hmax)
    mh = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mh * vi * 8, mw * hi * 8), dtype=np.float64)
        for (_, _, _, hi, vi) in sel
    ]
    br = _BitReader(p, pos)
    pred = [0] * ncomp
    mcu = 0
    for my in range(mh):
        for mx in range(mw):
            if dri and mcu and mcu % dri == 0:
                if not br.align_and_expect_rst():
                    return None
                pred = [0] * ncomp
            for ci, (dc_t, ac_t, q, hi, vi) in enumerate(sel):
                for by in range(vi):
                    for bx in range(hi):
                        px = _decode_block(br, dc_t, ac_t, q, pred, ci)
                        if px is None:
                            return None
                        r0 = (my * vi + by) * 8
                        c0 = (mx * hi + bx) * 8
                        planes[ci][r0 : r0 + 8, c0 : c0 + 8] = px
            mcu += 1
    hvs = [(hi, vi) for (_, _, _, hi, vi) in sel]
    return _planes_to_pixels(planes, hvs, hmax, vmax, h, w)


def _planes_to_pixels(planes, hvs, hmax, vmax, h, w):
    """Shared tail of every JPEG decode path: upsample subsampled
    planes by PIXEL REPLICATION, crop to the image rectangle, and
    reduce to the BT.601 integer luma (grayscale returns Y directly;
    3-component converts YCbCr→RGB with the JFIF integer
    convention — round-half-up via floor(x+0.5), clip 0..255)."""
    up = []
    for pl, (hi, vi) in zip(planes, hvs):
        if hi != hmax or vi != vmax:
            pl = np.repeat(
                np.repeat(pl, vmax // vi, axis=0), hmax // hi, axis=1
            )
        up.append(pl[:h, :w])
    if len(planes) == 1:
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
    return (r * 299 + g * 587 + b * 114) // 1000


# ------------------------------------------------ encoder (fixture)


def _huff_spec_dc():
    """All 12 DC size symbols at code length 4 (12 ≤ 2⁴−1 — valid:
    the all-ones code stays unused per T.81 C.2)."""
    counts = [0] * 16
    counts[3] = 12
    return counts, bytes(range(12))


def _huff_spec_ac():
    """All 162 baseline AC symbols (EOB, ZRL, run 0-15 × size 1-10)
    at code length 8 (162 ≤ 2⁸−1)."""
    syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    syms.sort()
    counts = [0] * 16
    counts[7] = len(syms)
    return counts, bytes(syms)


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


def _std_dht_segment() -> bytes:
    body = bytearray()
    for cls_id, (counts, syms) in _STD_DHT_SPECS:
        body += bytes([cls_id]) + bytes(counts) + syms
    return b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + bytes(body)


def mjpeg_ensure_dht(payload: bytes) -> bytes:
    """Make a DHT-less MJPEG frame a self-contained JPEG: if the
    stream carries no DHT segment before its first SOS, inject the
    four T.81 Annex K.3 fixed tables (all four, ids 0 and 1, so any
    legal table assignment in the scan header resolves) immediately
    before the SOS, per the OpenDML "AVI1" convention. Streams that
    already carry a DHT — or anything that is not a JPEG — are
    returned unchanged; malformed marker structure is left for
    :func:`decode_jpeg_pixels` to reject."""
    p = payload
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return p
    i = 2
    while i + 2 <= len(p):
        if p[i] != 0xFF:
            return p  # not a marker stream — let the decoder reject
        m = p[i + 1]
        if m == 0xC4:
            return p  # has its own DHT
        if m == 0xDA:  # first SOS, no DHT seen → inject K.3 tables
            return p[:i] + _std_dht_segment() + p[i:]
        if m == 0xD9 or m == 0x01 or 0xD0 <= m <= 0xD8:
            i += 2  # parameterless markers
            continue
        if i + 4 > len(p):
            return p
        i += 2 + struct.unpack(">H", p[i + 2 : i + 4])[0]
    return p


def mjpeg_strip_dht(payload: bytes) -> bytes:
    """TEST/SYNTH FIXTURE — the inverse transform real MJPEG
    encoders apply: drop every DHT segment before the first SOS,
    producing the DHT-less "AVI1" frame form that only decodes once
    :func:`mjpeg_ensure_dht` re-supplies the K.3 tables. Only
    meaningful for streams actually coded WITH the K.3 tables
    (``encode_jpeg(..., tables="standard")``)."""
    p = payload
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return p
    out = bytearray(p[:2])
    i = 2
    while i + 2 <= len(p):
        if p[i] != 0xFF:
            break
        m = p[i + 1]
        if m == 0xDA:
            out += p[i:]
            return bytes(out)
        if m == 0xD9 or m == 0x01 or 0xD0 <= m <= 0xD8:
            out += p[i : i + 2]
            i += 2
            continue
        if i + 4 > len(p):
            break
        seglen = struct.unpack(">H", p[i + 2 : i + 4])[0]
        if m != 0xC4:
            out += p[i : i + 2 + seglen]
        i += 2 + seglen
    return p  # malformed — return unchanged


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


def _enc_table(counts, symbols):
    """symbol → (code, length) for the canonical assignment."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return table


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


def _write_block(bwr, coef, pred, ci, dc_enc, ac_enc):
    cvec = coef.ravel()[_ZZ]
    diff = int(cvec[0]) - pred[ci]
    pred[ci] = int(cvec[0])
    t = _size_cat(diff)
    code, ln = dc_enc[t]
    bwr.write(code, ln)
    if t:
        bwr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = int(cvec[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]
            bwr.write(code, ln)
            run -= 16
        s = _size_cat(v)
        code, ln = ac_enc[(run << 4) | s]
        bwr.write(code, ln)
        bwr.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_enc[0x00]
        bwr.write(code, ln)


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
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", 2 + len(body)) + body


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
    JFIF JPEG with quantization step 1 everywhere (so flat 8×8
    blocks round-trip exactly) and the self-generated fixed-length
    Huffman tables above. ``color=True`` writes a 3-component scan —
    ``subsampling="444"`` (all factors 1) or ``"420"`` (Y at 2×2,
    chroma quarter-res: the layout most real crawls carry) — whose
    chroma planes are FLAT at ``cb_const``/``cr_const`` (signed,
    around the 128 level shift). Flat chroma quantizes exactly, so
    the decoded RGB is an exact integer function of (gray, cb, cr)
    under the JFIF conversion — including through the replication
    upsample. ``restart_interval`` > 0 emits DRI + RSTn markers
    every that many MCUs (exercises the decoder's restart path).

    ``tables="standard"`` codes the scan with the T.81 Annex K.3
    typical tables instead (luma tables as id 0, chroma as id 1 —
    the assignment every real-world encoder uses): the form MJPEG
    fixtures need, because only a K.3-coded stream stays decodable
    after :func:`mjpeg_strip_dht` + :func:`mjpeg_ensure_dht`."""
    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    if not color:
        comps = [(0x11, None)]
    elif subsampling == "444":
        comps = [(0x11, None), (0x11, cb_const), (0x11, cr_const)]
    elif subsampling == "420":
        comps = [(0x22, None), (0x11, cb_const), (0x11, cr_const)]
    else:
        raise ValueError(f"unsupported subsampling: {subsampling!r}")
    hmax = max(c[0] >> 4 for c in comps)
    vmax = max(c[0] & 0xF for c in comps)
    mw = (w + 8 * hmax - 1) // (8 * hmax)
    mh = (h + 8 * vmax - 1) // (8 * vmax)
    padded = _pad_replicate(g, mh * vmax * 8, mw * hmax * 8)
    ncomp = len(comps)
    if tables == "standard":
        # K.3: luma tables as id 0, chroma tables as id 1
        tids = [0] + [1] * (ncomp - 1)
        dht_specs = [
            (0x00, _STD_DC_LUM), (0x10, _STD_AC_LUM),
        ] + (
            [(0x01, _STD_DC_CHROM), (0x11, _STD_AC_CHROM)]
            if ncomp > 1
            else []
        )
        dc_encs = [
            _enc_table(*_STD_DC_LUM), _enc_table(*_STD_DC_CHROM),
        ]
        ac_encs = [
            _enc_table(*_STD_AC_LUM), _enc_table(*_STD_AC_CHROM),
        ]
    else:
        tids = [0] * ncomp
        dc_spec, ac_spec = _huff_spec_dc(), _huff_spec_ac()
        dht_specs = [(0x00, dc_spec), (0x10, ac_spec)]
        dc_encs = [_enc_table(*dc_spec)]
        ac_encs = [_enc_table(*ac_spec)]

    out = bytearray(b"\xff\xd8")  # SOI
    # APP0 JFIF
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    if exif_orientation:
        out += _exif_app1(exif_orientation)
    # DQT: table 0, all ones (zigzag order is all-ones too)
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + b"\x01" * 64
    # SOF0
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for c, (hv, _) in enumerate(comps):
        sof += bytes([c + 1, hv, 0])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: one segment carrying every table the scan references
    dht = b"".join(
        bytes([cls_id]) + bytes(counts) + syms
        for cls_id, (counts, syms) in dht_specs
    )
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, tids[c] * 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # flat chroma block coefficients: DC = 8·const, AC = 0 (exact)
    flat_coef = {
        cst: _fwd_block(np.full((8, 8), cst, dtype=np.int64))
        for _, cst in comps
        if cst is not None
    }
    bwr = _BitWriter()
    pred = [0] * ncomp
    mcu = 0
    rst = 0
    for my in range(mh):
        for mx in range(mw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bwr.flush()
                out += bwr.out
                bwr = _BitWriter()
                out += bytes([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                pred = [0] * ncomp
            for ci, (hv, cst) in enumerate(comps):
                hi, vi = hv >> 4, hv & 0xF
                for by in range(vi):
                    for bx in range(hi):
                        if cst is not None:
                            coef = flat_coef[cst]
                        else:
                            r0 = (my * vi + by) * 8
                            c0 = (mx * hi + bx) * 8
                            blk = padded[r0 : r0 + 8, c0 : c0 + 8]
                            coef = _fwd_block(blk - 128)
                        _write_block(
                            bwr, coef, pred, ci,
                            dc_encs[tids[ci]], ac_encs[tids[ci]],
                        )
            mcu += 1
    bwr.flush()
    out += bwr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ------------------------------------- progressive encoder (fixture)


def _huff_spec_ac_prog():
    """All 176 progressive AC symbols at code length 8 (176 ≤ 2⁸−1):
    the baseline 162 plus the EOBn run-length symbols 0x10..0xE0
    that only exist in progressive scans."""
    syms = sorted(
        [(r << 4) for r in range(16)]  # EOB0..EOB14 + ZRL (0xF0)
        + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    )
    counts = [0] * 16
    counts[7] = len(syms)
    return counts, bytes(syms)


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
    g = np.asarray(gray, dtype=np.int64)
    h, w = g.shape
    if not color:
        comps = [(0x11, None)]
    elif subsampling == "444":
        comps = [(0x11, None), (0x11, cb_const), (0x11, cr_const)]
    elif subsampling == "420":
        comps = [(0x22, None), (0x11, cb_const), (0x11, cr_const)]
    else:
        raise ValueError(f"unsupported subsampling: {subsampling!r}")
    ncomp = len(comps)
    hmax = max(c[0] >> 4 for c in comps)
    vmax = max(c[0] & 0xF for c in comps)
    mw = (w + 8 * hmax - 1) // (8 * hmax)
    mh = (h + 8 * vmax - 1) // (8 * vmax)
    padded = _pad_replicate(g, mh * vmax * 8, mw * hmax * 8)

    # per-component coefficient grids, zigzag order per block
    grids = []  # (bh_pad, bw_pad, bh_non, bw_non, coef[bidx][64])
    for hv, cst in comps:
        hi, vi = hv >> 4, hv & 0xF
        bh_p, bw_p = mh * vi, mw * hi
        cw = -(-w * hi // hmax)
        chh = -(-h * vi // vmax)
        bh_n, bw_n = -(-chh // 8), -(-cw // 8)
        coef = np.zeros((bh_p * bw_p, 64), dtype=np.int64)
        if cst is not None:
            flat = _fwd_block(np.full((8, 8), cst, dtype=np.int64))
            coef[:] = flat.ravel()[_ZZ]
        else:
            for by in range(bh_p):
                for bx in range(bw_p):
                    blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                    coef[by * bw_p + bx] = _fwd_block(blk - 128).ravel()[_ZZ]
        grids.append((bh_p, bw_p, bh_n, bw_n, coef))

    dc_counts, dc_syms = _huff_spec_dc()
    ac_counts, ac_syms = _huff_spec_ac_prog()
    dc_enc = _enc_table(dc_counts, dc_syms)
    ac_enc = _enc_table(ac_counts, ac_syms)

    out = bytearray(b"\xff\xd8")
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    out += b"\xff\xdb" + struct.pack(">H", 2 + 65) + b"\x00" + b"\x01" * 64
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for c, (hv, _) in enumerate(comps):
        sof += bytes([c + 1, hv, 0])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof  # SOF2
    dht = bytes([0x00]) + bytes(dc_counts) + dc_syms
    dht += bytes([0x10]) + bytes(ac_counts) + ac_syms
    out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    rstno = [0]

    def sos_header(cs_list, ss, se, ah, al):
        sos = bytes([len(cs_list)])
        for cs in cs_list:
            sos += bytes([cs + 1, 0x00])
        sos += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    def emit_restart(bwr):
        bwr.flush()
        nonlocal_out.extend(bwr.out)
        bwr.out = bytearray()
        bwr.acc = 0
        bwr.nbits = 0
        nonlocal_out.extend(bytes([0xFF, 0xD0 + (rstno[0] % 8)]))
        rstno[0] += 1

    nonlocal_out = out

    # scan 1: interleaved DC first, Al=1
    def dc_scan(ah, al):
        rstno[0] = 0  # T.81: the RSTn modulo counter resets per scan
        nonlocal_out.extend(sos_header(list(range(ncomp)), 0, 0, ah, al))
        bwr = _BitWriter()
        pred = [0] * ncomp
        unit = 0
        for my in range(mh):
            for mx in range(mw):
                if restart_interval and unit and unit % restart_interval == 0:
                    emit_restart(bwr)
                    pred = [0] * ncomp
                for ci, (hv, _) in enumerate(comps):
                    hi, vi = hv >> 4, hv & 0xF
                    bh_p, bw_p = grids[ci][0], grids[ci][1]
                    coef = grids[ci][4]
                    for by in range(vi):
                        for bx in range(hi):
                            bidx = (my * vi + by) * bw_p + (mx * hi + bx)
                            dc = int(coef[bidx][0])
                            if ah == 0:
                                _enc_dc_first(
                                    bwr, dc >> al, pred, ci, dc_enc
                                )
                            else:
                                bwr.write((dc >> al) & 1, 1)
                unit += 1
        bwr.flush()
        nonlocal_out.extend(bwr.out)

    def ac_scan(ci, ss, se, ah, al):
        rstno[0] = 0  # T.81: the RSTn modulo counter resets per scan
        nonlocal_out.extend(sos_header([ci], ss, se, ah, al))
        bwr = _BitWriter()
        st = _ProgAcState()
        bh_n, bw_n = grids[ci][2], grids[ci][3]
        bw_p = grids[ci][1]
        coef = grids[ci][4]
        unit = 0
        for by in range(bh_n):
            for bx in range(bw_n):
                if restart_interval and unit and unit % restart_interval == 0:
                    _flush_eobrun(bwr, ac_enc, st)
                    emit_restart(bwr)
                cvec = coef[by * bw_p + bx]
                # band vector in zigzag positions ss..se
                if ah == 0:
                    _enc_ac_first(bwr, cvec, ss, se, al, ac_enc, st)
                else:
                    _enc_ac_refine(bwr, cvec, ss, se, al, ac_enc, st)
                unit += 1
        _flush_eobrun(bwr, ac_enc, st)
        bwr.flush()
        nonlocal_out.extend(bwr.out)

    def dc_scan_single(ci, ah, al):
        """Non-interleaved DC scan (Ns=1, Ss=0): T.81 A.2 — covers
        the component's OWN ceil(dims/8) grid, not the MCU-padded
        one. Spec-legal and emitted by real encoders for the chroma
        components of subsampled progressive files."""
        rstno[0] = 0
        nonlocal_out.extend(sos_header([ci], 0, 0, ah, al))
        bwr = _BitWriter()
        pred = [0] * ncomp
        bh_n, bw_n = grids[ci][2], grids[ci][3]
        bw_p = grids[ci][1]
        coef = grids[ci][4]
        unit = 0
        for by in range(bh_n):
            for bx in range(bw_n):
                if restart_interval and unit and unit % restart_interval == 0:
                    emit_restart(bwr)
                    pred = [0] * ncomp
                dc = int(coef[by * bw_p + bx][0])
                if ah == 0:
                    _enc_dc_first(bwr, dc >> al, pred, ci, dc_enc)
                else:
                    bwr.write((dc >> al) & 1, 1)
                unit += 1
        bwr.flush()
        nonlocal_out.extend(bwr.out)

    if dc_per_component:
        for ci in range(ncomp):
            dc_scan_single(ci, 0, 1)
    else:
        dc_scan(0, 1)
    for ci in range(ncomp):
        ac_scan(ci, 1, 5, 0, 2)
    for ci in range(ncomp):
        ac_scan(ci, 6, 63, 0, 1)
    for ci in range(ncomp):
        ac_scan(ci, 1, 5, 2, 1)
    if dc_per_component:
        for ci in range(ncomp):
            dc_scan_single(ci, 1, 0)
    else:
        dc_scan(1, 0)
    for ci in range(ncomp):
        ac_scan(ci, 1, 5, 1, 0)
    for ci in range(ncomp):
        ac_scan(ci, 6, 63, 1, 0)

    nonlocal_out.extend(b"\xff\xd9")
    return bytes(nonlocal_out)


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
    p = payload
    if len(p) < 4 or p[:2] != b"\xff\xd8":
        return 1
    pos = 2
    while pos + 4 <= len(p):
        if p[pos] != 0xFF:
            return 1
        marker = p[pos + 1]
        if marker == 0xD8:
            pos += 2
            continue
        if marker in (0xD9, 0xDA):
            return 1  # image data: no EXIF seen
        (seglen,) = struct.unpack_from(">H", p, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(p):
            return 1
        if marker == 0xE1 and p[pos + 4 : pos + 10] == b"Exif\x00\x00":
            return tiff_orientation(p[pos + 10 : pos + 2 + seglen])
        pos += 2 + seglen
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
