"""Every declared query hash-matches its DuckDB oracle at sf0.001
(fast); the full sf0.01 gate is run by the driver and by
``python3 tests/oracle_harness.py /root/testdata/sf0.01``."""

import pytest

from tests.oracle_harness import compare, duck_con

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duck_con(SF)


@pytest.fixture
def fresh_spark(spark):
    """The session with nothing persisted by an earlier case: no
    cached subplan and no CDC envelope cache
    (``queries/cdc.py::_cached_source``), so each query is checked
    cold and a leaked cache entry cannot carry one query's state or
    memory into the next."""
    spark.catalog.clearCache()
    spark.__dict__.pop("_tidb_cdc_env_cache", None)
    return spark


def _all_names():
    from tidb_cdc_spark.queries import ORACLE

    return sorted(ORACLE)


# Every oracled query is value-checked in the default tier;
# test_every_query_runs below executes the queries WITHOUT an oracle.
@pytest.mark.parametrize("name", _all_names())
def test_query_matches_oracle(fresh_spark, con, name):
    from tidb_cdc_spark.queries import ORACLE, QUERIES

    sdf = QUERIES[name](fresh_spark, SF)
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


# --- SF-independence check: queries whose oracle rests on a
# data-relative constant or a decoder path re-verify at sf0.1 as well
# — hash-exact ops can hide SF-dependent constants (q11's
# data-relative threshold class).
SF_LARGE = "/root/testdata/sf0.1"
SF_INDEPENDENCE = [
    "q21_waiting_suppliers",  # vacuous below sf0.01 (0 rows) — pin here
    "multimodal_webp_lossy_audit",  # lossy-VP8 ctypes decode audit
    "multimodal_webp_phash_audit",  # lossless-WebP predictors 11/13
    "multimodal_jpeg_prog_audit",  # progressive JPEG Ns=1 DC scan grid
    "animated_gif_video_audit",  # animated-GIF frame path
    "multimodal_anim_probe_audit",  # animation header probe
    "animated_webp_video_audit",  # animated-WebP frame path
    "multimodal_audio_probe_audit",  # FLAC/MP3 duration probe
    "audio_g711_audit",  # G.711 companded-audio collapse
    "multimodal_tiff_phash_audit",  # baseline-TIFF pixel audit
    "video_curation_pipeline",  # GIF routing in the frame path
    "video_curation_provenance",  # GIF routing in the frame path
    "video_frame_cap_report",  # GIF routing in the frame path
    "multimodal_video_audit",  # MJPEG 00dc branch in the decode
    "multimodal_mjpeg_video_audit",  # MJPEG/AVI1 frame path
    "audio_adpcm_audit",  # IMA ADPCM adaptive-coding collapse
    "warc_ingest_audit",  # WARC crawl-archive ingest census
    "corpus_html_extract",  # JVM-side HTML->text extraction
    "crawl_html_pipeline",  # WARC->HTTP->HTML end-to-end census
    "animated_apng_video_audit",  # APNG frame path
]


@pytest.fixture(scope="module")
def con_large():
    return duck_con(SF_LARGE)


@pytest.mark.slow
@pytest.mark.parametrize("name", SF_INDEPENDENCE)
def test_query_matches_oracle_at_sf01(fresh_spark, con_large, name):
    from tidb_cdc_spark.queries import ORACLE, QUERIES

    sdf = QUERIES[name](fresh_spark, SF_LARGE)
    ok, msg = compare(name, sdf, con_large.sql(ORACLE[name]).df())
    assert ok, msg


def test_q21_non_vacuous_at_sf001(spark, con):
    """q21 returns 0 rows at sf0.001, so the sf0.001 mirror row is
    vacuous — assert the sf0.01+ gate rows are NOT (DuckDB side,
    cheap)."""
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
