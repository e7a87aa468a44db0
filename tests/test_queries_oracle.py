"""Every declared query hash-matches its DuckDB oracle at sf0.001
(fast); the full sf0.01 gate is run by the driver and by
``python3 tests/oracle_harness.py /root/testdata/sf0.01``."""

import pytest

from tests.oracle_harness import compare, duck_con

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duck_con(SF)


def _all_names():
    from tidb_cdc_spark.queries import ORACLE, QUERIES

    return [
        n
        if QUERIES[n].__module__ == "tidb_cdc_spark.queries.media"
        else pytest.param(n, marks=pytest.mark.slow)
        for n in sorted(ORACLE)
    ]


# Tiered gate: the 36 media-family mirrors run in the default tier —
# they share one planted-cluster scaffold, and the default tier holds
# no other value check for it. The other oracle mirrors are the SLOW
# tier: test_every_query_runs below executes only the queries WITHOUT
# an oracle, so outside the media family an oracled query is neither
# run nor value-checked by default.
@pytest.mark.parametrize("name", _all_names())
def test_query_matches_oracle(spark, con, name):
    from tidb_cdc_spark.queries import ORACLE, QUERIES

    sdf = QUERIES[name](spark, SF)
    ok, msg = compare(name, sdf, con.sql(ORACLE[name]).df())
    assert ok, msg


def test_every_query_runs(spark):
    """Queries without oracles still execute and have stable schemas."""
    from tidb_cdc_spark.queries import ORACLE, QUERIES

    for name, fn in QUERIES.items():
        if name in ORACLE:
            continue
        df = fn(spark, SF)
        assert df.count() >= 0
        assert df.columns


# --- SF-independence check (r8 verdict #6): each round's NEW or
# CHANGED oracle rows re-verify at sf0.1 as well — hash-exact ops can
# hide SF-dependent constants (q11's data-relative threshold class).
# Update this list each round to the round's additions.
SF_LARGE = "/root/testdata/sf0.1"
ROUND_ADDITIONS = [
    "q21_waiting_suppliers",  # vacuous below sf0.01 (0 rows) — pin here
    "multimodal_webp_lossy_audit",  # r14 NEW lossy-VP8 ctypes decode audit
    "multimodal_webp_phash_audit",  # r14 changed: predictor 11/13 fixes
    "multimodal_jpeg_prog_audit",  # r14 changed: Ns=1 DC scan grid fix
    "animated_gif_video_audit",  # r14 NEW animated-GIF frame-path audit
    "multimodal_anim_probe_audit",  # r14 NEW animation header probe
    "animated_webp_video_audit",  # r14 NEW animated-WebP frame-path audit
    "multimodal_audio_probe_audit",  # r14 NEW FLAC/MP3 duration probe
    "audio_g711_audit",  # r14 NEW G.711 companded-audio collapse
    "multimodal_tiff_phash_audit",  # r14 NEW baseline-TIFF pixel audit
    "video_curation_pipeline",  # r14 changed: GIF routing in frame path
    "video_curation_provenance",  # r14 changed: GIF routing in frame path
    "video_frame_cap_report",  # r14 changed: GIF routing in frame path
    "multimodal_video_audit",  # r14 changed: MJPEG 00dc branch in decode
    "multimodal_mjpeg_video_audit",  # r14 NEW MJPEG/AVI1 frame-path audit
    "audio_adpcm_audit",  # r14 NEW IMA ADPCM adaptive-coding collapse
    "warc_ingest_audit",  # r14 NEW WARC crawl-archive ingest census
    "corpus_html_extract",  # r14 NEW JVM-side HTML->text extraction
    "crawl_html_pipeline",  # r14 NEW WARC->HTTP->HTML end-to-end census
    "animated_apng_video_audit",  # r14 NEW APNG frame-path audit
]


@pytest.fixture(scope="module")
def con_large():
    return duck_con(SF_LARGE)


@pytest.mark.slow
@pytest.mark.parametrize("name", ROUND_ADDITIONS)
def test_round_additions_sf_independent(spark, con_large, name):
    from tidb_cdc_spark.queries import ORACLE, QUERIES

    sdf = QUERIES[name](spark, SF_LARGE)
    ok, msg = compare(name, sdf, con_large.sql(ORACLE[name]).df())
    assert ok, msg


def test_q21_non_vacuous_at_sf001(spark, con):
    """ADVICE r8: q21 returns 0 rows at sf0.001, so the sf0.001
    mirror row is vacuous — assert the sf0.01+ gate rows are NOT
    (DuckDB side, cheap)."""
    from tidb_cdc_spark.queries import ORACLE

    c = duck_con("/root/testdata/sf0.01")  # keep a ref: the relation
    # closes with its connection if the con is garbage-collected
    n = c.sql(
        "SELECT COUNT(*) FROM (" + ORACLE["q21_waiting_suppliers"] + ")"
    ).fetchone()[0]
    assert n > 0


def test_winnow_repr_pipeline_non_vacuous(spark):
    """The composed rows-only pipeline must produce pairs at sf0.01
    (k=4 chosen exactly so the output is non-vacuous — see queries/dedup.py)."""
    from tidb_cdc_spark.queries import QUERIES

    assert QUERIES["winnow_repr_pipeline"](
        spark, "/root/testdata/sf0.01"
    ).count() > 0


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
