"""Codec conformance against an INDEPENDENT reference decoder —
``javax.imageio`` on the JDK this container ships for Spark
(compiled on the fly from tools/conformance/ImageDump.java; skips
cleanly without javac/java). Complements the libwebp ctypes suite:

- PNG: every envelope shape our fixture encoder emits (all color
  types × depths × both interlace methods) decodes to EXACTLY the
  raw samples ImageIO reports — Adam7 reassembly, the five filters,
  sub-byte packing, 16-bit big-endian pairs, palettes, alpha, all
  against the reference implementation.
- GIF: sequential + interlaced LZW streams produce exactly the
  palette indices ImageIO reports.
- JPEG: ImageIO decodes our BASELINE and PROGRESSIVE fixtures
  IDENTICALLY (the lossless-reordering invariant confirmed by the
  reference decoder, not just our own round-trip), both within ±2
  of the source (integer-IDCT approximation bound) and EXACT on the
  flat-block plants the audits rely on. Chroma comparisons use flat
  chroma planes, where ImageIO's fancy (bilinear) upsampling and
  our replication upsampling provably coincide.
"""

from __future__ import annotations

import shutil
import struct
import subprocess

import numpy as np
import pytest

from tidb_cdc_spark.functions.jpeg import (
    encode_jpeg,
    encode_jpeg_progressive,
)
from tidb_cdc_spark.functions.media_synth import _encode_gif, _encode_png_ex

_HAVE_JDK = shutil.which("javac") is not None and shutil.which("java") is not None
pytestmark = pytest.mark.skipif(not _HAVE_JDK, reason="no JDK available")

_TOOL_SRC = "tools/conformance/ImageDump.java"


@pytest.fixture(scope="module")
def recoder(tmp_path_factory):
    """Compile ImageRecode once; returns a callable that re-encodes
    {name: bmp bytes} via ImageIO and returns
    {name: (png bytes, jpg bytes)} — genuinely THIRD-PARTY-encoded
    streams (ImageIO's own filter selection, Huffman tables, 4:2:0
    subsampling) for our pure-Python decoders."""
    import os

    build = tmp_path_factory.mktemp("imagerecode")
    src = os.path.join(
        os.path.dirname(__file__), "..", "tools/conformance/ImageRecode.java"
    )
    subprocess.run(
        ["javac", "-encoding", "UTF-8", "-d", str(build), src],
        check=True, capture_output=True,
    )

    def run(bmps: dict) -> dict:
        work = tmp_path_factory.mktemp("recode")
        for name, raw in bmps.items():
            (work / (name + ".bmp")).write_bytes(raw)
        subprocess.run(
            ["java", "-cp", str(build), "ImageRecode", str(work)],
            check=True, capture_output=True,
        )
        return {
            name: (
                (work / (name + ".iio.png")).read_bytes(),
                (work / (name + ".iio.jpg")).read_bytes(),
                (work / (name + ".iio.gif")).read_bytes(),
            )
            for name in bmps
        }

    return run


def _bmp_bytes(gray):
    h, w = gray.shape
    stride = (w * 3 + 3) & ~3
    hdr = (
        b"BM" + struct.pack("<IHHI", 54 + stride * h, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
        )
    )
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = np.repeat(gray[::-1].astype(np.uint8), 3, axis=1)
    return hdr + body.tobytes()


@pytest.fixture(scope="module")
def dumper(tmp_path_factory):
    """Compile ImageDump once; return a callable that reference-
    decodes a dict of {name: payload bytes} and returns
    {name: raw-sample array (h, w, bands)} (missing = unreadable)."""
    import os

    build = tmp_path_factory.mktemp("imagedump")
    src = os.path.join(os.path.dirname(__file__), "..", _TOOL_SRC)
    subprocess.run(
        ["javac", "-d", str(build), src], check=True, capture_output=True
    )

    def run(payloads: dict) -> dict:
        work = tmp_path_factory.mktemp("imgs")
        for name, raw in payloads.items():
            (work / name).write_bytes(raw)
        subprocess.run(
            ["java", "-cp", str(build), "ImageDump", str(work)],
            check=True,
            capture_output=True,
        )
        out = {}
        for name in payloads:
            p = work / (name + ".dump")
            if not p.exists():
                continue
            d = p.read_bytes()
            w, h, b = struct.unpack(">iii", d[:12])
            out[name] = np.frombuffer(d[12:], ">i4").reshape(h, w, b)
        return out

    return run


def _rng():
    return np.random.default_rng(20260816)


class TestPngAgainstImageIO:
    def test_full_envelope_raw_samples_exact(self, dumper):
        """Every encoder-envelope shape × both interlace methods:
        ImageIO's raw raster equals our source samples exactly
        (sub-byte gray and palettes report raw codes/indices)."""
        rng = _rng()
        payloads = {}
        expects = {}
        for il in (False, True):
            tag = "i" if il else "s"
            for d in (1, 2, 4, 8):
                gv = rng.integers(0, 1 << d, (9, 11)).astype(np.int64)
                payloads[f"gray{d}{tag}.png"] = _encode_png_ex(
                    gv[:, :, None], 0, d, interlaced=il, filter_seed=d
                )
                expects[f"gray{d}{tag}.png"] = gv[:, :, None]
            g16 = rng.integers(0, 65536, (9, 11, 1)).astype(np.int64)
            payloads[f"gray16{tag}.png"] = _encode_png_ex(
                g16, 0, 16, interlaced=il
            )
            expects[f"gray16{tag}.png"] = g16
            for depth, nc in ((8, 3), (16, 3)):
                top = 256 if depth == 8 else 65536
                rgb = rng.integers(0, top, (9, 11, nc)).astype(np.int64)
                payloads[f"rgb{depth}{tag}.png"] = _encode_png_ex(
                    rgb, 2, depth, interlaced=il, filter_seed=depth
                )
                expects[f"rgb{depth}{tag}.png"] = rgb
            vals = np.array([10, 60, 180, 240])
            idx = rng.integers(0, 4, (9, 11)).astype(np.int64)
            for pd in (2, 4, 8):
                payloads[f"pal{pd}{tag}.png"] = _encode_png_ex(
                    idx[:, :, None], 3, pd, interlaced=il,
                    palette=np.repeat(vals, 3).astype(np.uint8).tobytes(),
                )
                expects[f"pal{pd}{tag}.png"] = idx[:, :, None]
            rgba = rng.integers(0, 256, (9, 11, 4)).astype(np.int64)
            payloads[f"rgba{tag}.png"] = _encode_png_ex(
                rgba, 6, 8, interlaced=il
            )
            expects[f"rgba{tag}.png"] = rgba
            ga = rng.integers(0, 256, (9, 11, 2)).astype(np.int64)
            payloads[f"ga{tag}.png"] = _encode_png_ex(ga, 4, 8, interlaced=il)
            expects[f"ga{tag}.png"] = ga
        got = dumper(payloads)
        missing = sorted(set(payloads) - set(got))
        assert not missing, f"ImageIO could not read: {missing}"
        for name, expect in expects.items():
            assert got[name].shape == expect.shape, name
            assert (got[name] == expect).all(), name


class TestGifAgainstImageIO:
    @pytest.mark.parametrize("interlaced", [False, True])
    def test_lzw_indices_exact(self, dumper, interlaced):
        rng = _rng()
        vals = np.array([10, 60, 180, 240])
        g = vals[rng.integers(0, 4, (13, 17))].astype(np.int64)
        idx = np.searchsorted(np.unique(g), g)
        tag = "i" if interlaced else "s"
        got = dumper({f"g{tag}.gif": _encode_gif(g, interlaced=interlaced)})
        assert (got[f"g{tag}.gif"][:, :, 0] == idx).all()


class TestJpegAgainstImageIO:
    def test_progressive_equals_baseline_by_reference_decoder(self, dumper):
        """The lossless-reordering invariant confirmed by javax.
        imageio: OUR progressive fixture and OUR baseline fixture of
        the same image decode IDENTICALLY in the reference decoder,
        and both land within ±2 of the source (integer-IDCT bound).
        Our own decoder agrees with the reference within the same
        bound (float vs integer IDCT)."""
        from tidb_cdc_spark.functions.jpeg import decode_jpeg_pixels

        rng = _rng()
        g = rng.integers(0, 256, (24, 31)).astype(np.int64)
        payloads = {
            "base.jpg": encode_jpeg(g),
            "prog.jpg": encode_jpeg_progressive(g),
            "prog_rst.jpg": encode_jpeg_progressive(g, restart_interval=2),
        }
        got = dumper(payloads)
        base = got["base.jpg"][:, :, 0].astype(np.int64)
        for name in ("prog.jpg", "prog_rst.jpg"):
            assert (got[name][:, :, 0].astype(np.int64) == base).all(), name
        assert int(np.abs(base - g).max()) <= 2
        mine = decode_jpeg_pixels(payloads["base.jpg"])
        assert int(np.abs(mine - base).max()) <= 2

    def test_dc_per_component_scans_accepted_by_reference(self, dumper):
        """T.81 A.2: non-interleaved DC scans (Ns=1, Ss=0) cover the
        component's own ceil(dims/8) grid. javax.imageio accepts the
        shape and decodes it identically to the interleaved-DC twin;
        our decoder must agree (r13 returned None on it)."""
        from tidb_cdc_spark.functions.jpeg import decode_jpeg_pixels

        rng = _rng()
        g = rng.integers(0, 256, (24, 24)).astype(np.int64)
        plain = encode_jpeg_progressive(
            g, color=True, subsampling="420", cb_const=17, cr_const=-9
        )
        percomp = encode_jpeg_progressive(
            g, color=True, subsampling="420", cb_const=17, cr_const=-9,
            dc_per_component=True,
        )
        got = dumper({"i.jpg": plain, "s.jpg": percomp})
        assert (got["s.jpg"].astype(np.int64)
                == got["i.jpg"].astype(np.int64)).all()
        assert (decode_jpeg_pixels(percomp)
                == decode_jpeg_pixels(plain)).all()

    def test_flat_block_plants_exact_in_reference_decoder(self, dumper):
        """The audits' exactness lemma holds in the reference decoder
        too: flat-block plants decode bit-exactly from both our
        baseline and progressive streams."""
        idx = np.arange(64) // 8
        bit_idx = (idx[:, None] * 8 + idx[None, :]) % 8
        for v in (85, 170):
            g = np.where((v >> bit_idx) & 1, 180, 60).astype(np.int64)
            got = dumper({
                "b.jpg": encode_jpeg(g),
                "p.jpg": encode_jpeg_progressive(g),
            })
            assert (got["b.jpg"][:, :, 0] == g).all(), v
            assert (got["p.jpg"][:, :, 0] == g).all(), v

    def test_color_420_flat_chroma_matches_reference(self, dumper):
        """With FLAT chroma planes, ImageIO's bilinear chroma
        upsampling and our replication upsampling coincide, so the
        4:2:0 color path is comparable: the reference decode of our
        4:2:0 stream must match our decode within the IDCT bound."""
        from tidb_cdc_spark.functions.jpeg import decode_jpeg_pixels

        rng = _rng()
        g = rng.integers(0, 256, (24, 24)).astype(np.int64)
        raw = encode_jpeg(
            g, color=True, subsampling="420", cb_const=17, cr_const=-9
        )
        praw = encode_jpeg_progressive(
            g, color=True, subsampling="420", cb_const=17, cr_const=-9
        )
        got = dumper({"c.jpg": raw, "cp.jpg": praw})
        ref = got["c.jpg"].astype(np.int64)
        assert (got["cp.jpg"].astype(np.int64) == ref).all()
        luma_ref = (
            ref[:, :, 0] * 299 + ref[:, :, 1] * 587 + ref[:, :, 2] * 114
        ) // 1000
        mine = decode_jpeg_pixels(raw)
        assert int(np.abs(mine - luma_ref).max()) <= 2


class TestThirdPartyEncodedStreams:
    """The reverse direction: files ENCODED by ImageIO (not our
    fixtures) through our pure-Python decoders — real-world filter
    selections, Huffman tables, and 4:2:0 subsampling."""

    def test_imageio_png_decodes_exactly(self, recoder):
        from tidb_cdc_spark.functions.media_decode import decode_png_pixels

        rng = _rng()
        for h, w in [(24, 31), (13, 7), (64, 64)]:
            g = rng.integers(0, 256, (h, w)).astype(np.int64)
            png, _, _ = recoder({f"g{h}x{w}": _bmp_bytes(g)})[f"g{h}x{w}"]
            out = decode_png_pixels(png)
            assert out is not None
            assert (out == g).all(), (h, w)

    def test_imageio_jpeg_matches_reference_decode(self, recoder, dumper):
        """Decoder-vs-decoder on the SAME lossy third-party stream:
        our decode must match ImageIO's own decode within the
        integer-IDCT bound. Gray-replicated content keeps the
        chroma planes ~neutral, where ImageIO's fancy (bilinear)
        upsampling and our replication coincide."""
        from tidb_cdc_spark.functions.jpeg import decode_jpeg_pixels

        rng = _rng()
        g = rng.integers(0, 256, (24, 31)).astype(np.int64)
        _, jpg, _ = recoder({"x": _bmp_bytes(g)})["x"]
        ref = dumper({"x.jpg": jpg})["x.jpg"].astype(np.int64)
        luma_ref = (
            ref[:, :, 0] * 299 + ref[:, :, 1] * 587 + ref[:, :, 2] * 114
        ) // 1000
        mine = decode_jpeg_pixels(jpg)
        assert mine is not None
        assert int(np.abs(mine - luma_ref).max()) <= 2

    def test_imageio_gif_decodes_exactly(self, recoder):
        """ImageIO's GIF writer (its own LZW encoder and palette
        construction) through our pure-Python decoder — gray
        content keeps the palette lossless, so the decode must be
        EXACT against the source."""
        from tidb_cdc_spark.functions.media_decode import decode_gif_pixels

        rng = _rng()
        for h, w in [(24, 31), (9, 13)]:
            g = rng.integers(0, 256, (h, w)).astype(np.int64)
            work = recoder({f"t{h}x{w}": _bmp_bytes(g)})
            # recoder returns (png, jpg); the gif sits next to them
            # — extend the fixture contract instead of re-plumbing
            out = decode_gif_pixels(work[f"t{h}x{w}"][2])
            assert out is not None
            assert (out == g).all(), (h, w)


class TestMjpegStandardTablesAgainstImageIO:
    """The K.3 constants behind ``mjpeg_ensure_dht`` refereed by an
    independent implementation: javax.imageio's JPEG writer encodes
    with the T.81 Annex K.3 "typical" tables, so (a) the DHT
    segments it emits must equal our transcribed constants
    byte-for-byte, and (b) stripping its DHT and re-injecting ours
    must leave the stream decoding IDENTICALLY — the exact
    transform a real MJPEG/AVI1 consumer performs."""

    @staticmethod
    def _parse_dht_tables(jpg: bytes) -> dict:
        """(class<<4|id) → (counts tuple, symbol bytes) from every
        DHT segment before the first SOS."""
        import struct as _struct

        out = {}
        i = 2
        while i + 4 <= len(jpg):
            assert jpg[i] == 0xFF
            m = jpg[i + 1]
            if m == 0xDA:
                break
            if 0xD0 <= m <= 0xD8 or m == 0x01:
                i += 2
                continue
            seglen = _struct.unpack(">H", jpg[i + 2 : i + 4])[0]
            if m == 0xC4:
                j = i + 4
                end = i + 2 + seglen
                while j < end:
                    cls_id = jpg[j]
                    counts = list(jpg[j + 1 : j + 17])
                    n = sum(counts)
                    syms = jpg[j + 17 : j + 17 + n]
                    out[cls_id] = (counts, bytes(syms))
                    j += 17 + n
            i += 2 + seglen
        return out

    def test_imageio_dht_equals_our_k3_constants(self, recoder):
        from tidb_cdc_spark.functions.jpeg import (
            _STD_AC_CHROM,
            _STD_AC_LUM,
            _STD_DC_CHROM,
            _STD_DC_LUM,
        )

        rng = _rng()
        g = rng.integers(0, 256, (24, 31)).astype(np.int64)
        _, jpg, _ = recoder({"k3": _bmp_bytes(g)})["k3"]
        tables = self._parse_dht_tables(jpg)
        expect = {
            0x00: _STD_DC_LUM,
            0x10: _STD_AC_LUM,
            0x01: _STD_DC_CHROM,
            0x11: _STD_AC_CHROM,
        }
        for cls_id, (counts, syms) in expect.items():
            assert cls_id in tables, f"ImageIO wrote no table {cls_id:#x}"
            got_counts, got_syms = tables[cls_id]
            assert got_counts == list(counts), f"counts differ {cls_id:#x}"
            assert got_syms == syms, f"symbols differ {cls_id:#x}"

    def test_strip_then_inject_preserves_imageio_stream(self, recoder):
        """A third-party K.3-coded stream survives the MJPEG round
        trip: strip DHT (undecodable), inject our constants, decode
        — pixel-identical to the untouched stream."""
        from tidb_cdc_spark.functions.jpeg import (
            decode_jpeg_pixels,
            mjpeg_ensure_dht,
            mjpeg_strip_dht,
        )

        rng = _rng()
        g = rng.integers(0, 256, (24, 31)).astype(np.int64)
        _, jpg, _ = recoder({"rt": _bmp_bytes(g)})["rt"]
        base = decode_jpeg_pixels(jpg)
        assert base is not None
        naked = mjpeg_strip_dht(jpg)
        assert naked != jpg
        assert decode_jpeg_pixels(naked) is None
        healed = decode_jpeg_pixels(mjpeg_ensure_dht(naked))
        assert healed is not None
        assert np.array_equal(healed, base)


class TestApngAgainstImageIO:
    """APNG container plumbing refereed by the reference PNG
    implementation: ImageIO ignores acTL/fcTL/fdAT (they are
    ancillary chunks) and decodes the DEFAULT image — which must be
    exactly our frame 0 (IDAT-participates mode) or the hidden
    default image. Pins chunk ordering, CRCs, and the fixture's
    stream layout against an independent decoder."""

    def test_default_image_matches_reference(self, dumper):
        from tidb_cdc_spark.functions.media_synth import _encode_apng

        rng = _rng()
        g0 = rng.integers(0, 256, (12, 17)).astype(np.int64)
        g1 = rng.integers(0, 256, (12, 17)).astype(np.int64)
        hidden = rng.integers(0, 256, (12, 17)).astype(np.int64)
        visible = _encode_apng(
            [(g0, 0, 0, 0, 0), (g1, 0, 0, 0, 0)], 17, 12
        )
        hidden_p = _encode_apng(
            [(g0, 0, 0, 0, 0), (g1, 0, 0, 0, 0)], 17, 12,
            hidden_default=hidden,
        )
        out = dumper({"vis.png": visible, "hid.png": hidden_p})
        assert "vis.png" in out and "hid.png" in out
        assert (out["vis.png"][:, :, 0].astype(np.int64) == g0).all()
        assert (out["hid.png"][:, :, 0].astype(np.int64) == hidden).all()
