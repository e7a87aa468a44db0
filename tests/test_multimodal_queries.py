"""Container-parse query wave (queries/media.py): the planted-value
contract between ``synth_container_media``'s / ``synth_image_media``'s
formula-valued headers and what ``probe_media``'s REAL chunk/box
walks and marker scans recover."""

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.media_probe import (
    frame_sample_plan,
    parse_image_header,
    parse_media_header,
    probe_media,
)
from tidb_cdc_spark.functions.media_synth import (
    synth_container_media,
    synth_image_media,
)


def _expected_duration(mid: int) -> int:
    if mid % 2 == 0:
        return (16000 + (mid % 1000) * 16) * 1000 // (8000 + (mid % 32) * 250)
    dur = 2400 + (mid % 3000) if mid % 4 == 1 else 8589934592 + (mid % 3000)
    return dur * 1000 // (600 + (mid % 400))


def test_probe_recovers_every_planted_field(spark):
    ids = spark.range(0, 40).select(F.col("id").alias("media_id"))
    out = {
        r.media_id: r
        for r in probe_media(synth_container_media(ids)).collect()
    }
    assert len(out) == 40
    for mid, r in out.items():
        assert r.mime == ("audio/wav" if mid % 2 == 0 else "video/mp4")
        assert r.kind == ("audio" if mid % 2 == 0 else "video")
        assert r.duration_ms == _expected_duration(mid), mid
        assert r.width is None and r.height is None  # nothing invented


def test_v1_plants_exercise_the_64bit_duration_field(spark):
    """ids ≡ 3 (mod 4) carry a 2³³-based duration that cannot fit the
    v0 32-bit field — recovering it exactly proves the version-1
    box layout (16-byte ctime/mtime skip, 8-byte read) is live."""
    ids = spark.range(3, 4).select(F.col("id").alias("media_id"))
    row = probe_media(synth_container_media(ids)).collect()[0]
    assert row.duration_ms == (8589934592 + 3) * 1000 // (600 + 3)
    assert row.duration_ms > 2**32  # genuinely beyond the v0 field


def test_payloads_are_real_containers_not_just_markers(spark):
    """The driver-side parser must agree with the Arrow-path probe on
    the same bytes — the payloads are valid containers, not blobs the
    probe special-cases."""
    ids = spark.range(0, 8).select(F.col("id").alias("media_id"))
    for r in synth_container_media(ids).collect():
        parsed = parse_media_header(bytes(r.payload))
        assert parsed is not None
        mime, dur = parsed
        assert dur == _expected_duration(r.media_id)
        assert len(bytes(r.payload)) <= 72  # header-only plant


def test_frame_plan_counts_and_timestamps(spark):
    ids = spark.range(0, 40).select(F.col("id").alias("media_id"))
    v0 = probe_media(synth_container_media(ids)).filter(
        F.col("media_id") % 4 == 1
    )
    frames = frame_sample_plan(v0, every_ms=250).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_ts_ms)
    assert set(by_id) == {1, 5, 9, 13, 17, 21, 25, 29, 33, 37}
    for mid, ts in by_id.items():
        n = max(_expected_duration(mid) // 250, 1)
        assert sorted(ts) == [i * 250 for i in range(n)], mid


def test_image_probe_recovers_every_planted_dim(spark):
    """All five planted image layouts (PNG / GIF87a+89a / BMP core /
    BMP info with top-down negative heights / JPEG with fill bytes)
    round-trip through the REAL probe to the formula values."""
    ids = spark.range(0, 50).select(F.col("id").alias("media_id"))
    out = {
        r.media_id: r for r in probe_media(synth_image_media(ids)).collect()
    }
    assert len(out) == 50
    mimes = {0: "image/png", 1: "image/gif", 2: "image/bmp",
             3: "image/bmp", 4: "image/jpeg"}
    for mid, r in out.items():
        assert r.mime == mimes[mid % 5], mid
        assert r.width == 16 + mid % 60000, mid
        assert r.height == 16 + mid % 40000, mid
        assert r.duration_ms is None  # nothing invented


def test_image_plants_are_real_containers_and_cover_variants(spark):
    """Driver-side parser agrees with the Arrow-path probe on the same
    bytes, and the id classes actually exercise the layout variants:
    both GIF magics, the negative stored height, the JPEG fill run."""
    ids = spark.range(0, 20).select(F.col("id").alias("media_id"))
    rows = {r.media_id: bytes(r.payload)
            for r in synth_image_media(ids).collect()}
    for mid, payload in rows.items():
        parsed = parse_image_header(payload)
        assert parsed is not None, mid
        assert parsed[1] == 16 + mid % 60000
        assert parsed[2] == 16 + mid % 40000
        assert len(payload) <= 64  # header-only plant
    assert rows[1][:6] == b"GIF87a" and rows[6][:6] == b"GIF89a"
    # id 13 is class-3 odd: stored int32 height must be negative
    assert int.from_bytes(rows[13][22:26], "little", signed=True) < 0
    # id 14 is class-4 even: 0xFF fill run precedes the SOF0 marker
    assert b"\xff\xff\xff\xc0" in rows[14]
    assert b"\xff\xff\xff\xc0" not in rows[19]  # odd: no fill


def test_payload_dedup_groups_identical_bytes_only(spark):
    """Exact media dedup over the binary column: folding ids mod a
    small prime plants REAL duplicate payloads; sha2-on-binary must
    conflate exactly the planted classes — n_unique = distinct folded
    ids per mime, never fewer (collision) nor more (nondeterminism)."""
    from pyspark.sql import functions as F

    ids = spark.range(0, 450).select((F.col("id") % 211).alias("pid"))
    media = probe_media(synth_image_media(ids, "pid"))
    got = {
        r.mime: (r.n_media, r.n_unique)
        for r in media.groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.countDistinct(F.sha2("payload", 256)).alias("n_unique"),
        )
        .collect()
    }
    import collections

    exp_media = collections.Counter()
    exp_unique = collections.defaultdict(set)
    mimes = {0: "image/png", 1: "image/gif", 2: "image/bmp",
             3: "image/bmp", 4: "image/jpeg"}
    for i in range(450):
        pid = i % 211
        exp_media[mimes[pid % 5]] += 1
        exp_unique[mimes[pid % 5]].add(pid)
    assert got == {
        m: (exp_media[m], len(exp_unique[m])) for m in exp_media
    }
    # the fold genuinely planted duplicates (non-vacuous)
    assert all(got[m][0] > got[m][1] for m in got)


def test_decode_image_dims_with_pil_when_importable():
    """Guarded decode test (the Kafka-e2e pattern): skips in this
    container (no PIL); in a container WITH codecs it proves the
    one-function swap boundary — ``decode_image_dims`` must return
    the true pixel dimensions of a fully DECODABLE planted PNG via
    the PIL branch, not the header fallback."""
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        pytest.skip("PIL not installed in this container")
    import struct
    import zlib

    from tidb_cdc_spark.functions.media_probe import decode_image_dims

    w, h = 5, 3
    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    scanlines = b"".join(b"\x00" + b"\x80\x40\x20" * w for _ in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )
    assert decode_image_dims(png) == (w, h)


def test_frame_plan_short_video_gets_one_frame(spark):
    """duration < every_ms must yield exactly one frame at t=0 (the
    sequence floor), matching the oracle's greatest(n, 1)."""
    rows = [(1, "video", "video/mp4", None, None, 180, None)]
    from tidb_cdc_spark.functions.media_probe import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = frame_sample_plan(media, every_ms=250).collect()
    assert [(r.media_id, r.frame_ts_ms) for r in got] == [(1, 0)]


class TestSynthFanOut:
    def test_synth_output_is_spread(self, spark):
        """A 1-split id source must NOT serialize the synth pass on
        one task: the synth output's rows span multiple partitions
        (bounded by the session's parallelism)."""
        ids = spark.range(0, 2000, 1, 1).select(
            F.col("id").alias("media_id")
        )
        media = synth_container_media(ids, "media_id")
        nparts = (
            media.select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )
        expect = min(4, spark.sparkContext.defaultParallelism)
        assert nparts >= expect, f"synth ran on {nparts} partition(s)"

    def test_spread_preserves_rows(self, spark):
        from tidb_cdc_spark.session import fan_out

        slim = spark.range(0, 500, 1, 1).select(
            F.col("id").alias("media_id")
        )
        out = fan_out(slim, spark)
        assert sorted(r["media_id"] for r in out.collect()) == list(
            range(500)
        )
