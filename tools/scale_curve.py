"""Scaling curve: run a core-op subset at 1× / 10× / 100× of sf0.1
and report wall-time ratios — the direct evidence for "would this
still work at 1000 executors on 100 TB": a shape whose 10×→100×
ratio stays near the 1×→10× ratio is scaling in data, not blowing up
in pairs or state.

Usage: python3 tools/scale_curve.py [out100_dir]

Reuses the replica builder from scale_rehearsal (same planted
exact-copy replica 1, perturbed replicas 2+), with REPLICAS
overridden to 100 → ~500k docs / 10M events / 200k vectors. Writes
ONLY under /tmp. The 10× set is taken from the standard rehearsal
dir (built if absent).
"""

from __future__ import annotations

import json
import sys
import time

#: the curve subset: one representative per scale-critical shape —
#: hash dedup (groupBy), banded pair-join (LSH), span pipeline
#: (shingle + reassembly), funnel composition, per-doc window, and
#: the iterative graph loop
OPS = [
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_minhash_star",
    "dedup_span_rewrite",
    "corpus_curation_pipeline",
    "text_token_entropy",
    "events_engagement_pagerank",
    # r9: the composed family-collapse → winnow pipeline — the
    # declared form of the winnow quadratic-family mitigation; its
    # 10×→100× ratio should stay near the 1×→10× ratio because the
    # 100× replica set's ~100-member families collapse before the
    # winnow self-join (vs winnow_overlap_pairs' measured 27.2M-row
    # quadratic blowup on the same input)
    "winnow_repr_pipeline",
    # r10: same composition for containment — the raw pair op's r9
    # trio measured 1.7 s → 4.4 s → memory pressure at 1×/10×/100×;
    # collapsing the ~100-member families first must hold the
    # 10×→100× ratio near-linear
    "dedup_containment_repr",
    # r11: the multimodal probe path — header-only payloads through
    # two Arrow passes, bytes dropped before any shuffle; both the
    # flat probe and the probe→explode composition must scale
    # linearly in ids (the family's first scale measurement)
    "multimodal_probe_audit",
    "multimodal_frame_plan",
    # r12: media exact dedup — synth + JVM sha2 distinct-agg; only
    # 32 B digests shuffle, so the curve must stay linear in ids
    "multimodal_dedup_audit",
    # r14: the crawl front end — WARC record walk + HTTP/gzip decode
    # + the JVM HTML chain; payload bytes stay inside their Arrow
    # pass, only census scalars / md5 strings shuffle. The
    # frame-path/audio-codec AUDITS are deliberately NOT here:
    # their uncapped pair joins over fixed planted families (pid =
    # doc_id % P) are quadratic in replica count BY CONSTRUCTION
    # (measured: audio_adpcm_audit 10×→100× = 100.1 — ~10⁹ planted
    # pairs) — the decode paths' scale evidence is the pair-join-
    # free inline passes below (anim_decode_pass /
    # audio_codec_pass), like every other media family.
    "warc_ingest_audit",
    "crawl_html_pipeline",
]

# r12: the pixel path's scale-critical piece measured INLINE (not a
# registry query): the synth → decode → perceptual-hash Arrow chain,
# linear per-row Python over ~13.6 KB payloads, 24 B output rows.
# The AUDIT query (multimodal_phash_audit) is deliberately excluded:
# its planted 101-cluster structure makes the τ=3 pair count grow
# C(n/101, 2)·101 — quadratic BY CONSTRUCTION at replica scale, the
# same reason dedup_minhash_lsh's clique form measures 9.8× while
# the star/repr forms are the scale path. The pair join's linear
# candidate machinery is simhash_pairs_from_sigs, already
# scale-tested on synthetic signatures (tests/test_llm.py).


def phash_hash_pass(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import perceptual_hashes
    from tidb_cdc_spark.functions.media_synth import synth_bmp_pixel_media

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.lit(1) + F.col("doc_id") % 254).alias("pattern"),
            (F.col("doc_id") % 41).alias("shift"),
        )
    )
    return perceptual_hashes(synth_bmp_pixel_media(ids, "media_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("ahash").alias("da"),
    )


def audio_fp_pass(spark, sf_dir: str):
    """Audio twin of :func:`phash_hash_pass`: synth → PCM decode →
    energy fingerprint, linear per-row over ~4 KB payloads."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import audio_fingerprints
    from tidb_cdc_spark.functions.media_synth import synth_wav_pcm_media

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.lit(1) + F.col("doc_id") % 254).alias("pattern"),
            (F.lit(1) + F.col("doc_id") % 7).alias("gain"),
        )
    )
    return audio_fingerprints(synth_wav_pcm_media(ids, "media_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("afp").alias("da"),
    )


def video_fp_pass(spark, sf_dir: str):
    """Video twin: synth → 8-frame AVI decode → per-frame aHash,
    linear in total frames over ~6.5 KB payloads."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import video_frame_hashes
    from tidb_cdc_spark.functions.media_synth import synth_avi_media

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.col("doc_id").alias("base"),
            (F.col("doc_id") % 2).cast("int").alias("skip"),
            F.lit(0).alias("shift"),
        )
    )
    return video_frame_hashes(synth_avi_media(ids, "media_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("fhash").alias("df"),
    )


def dct_phash_pass(spark, sf_dir: str):
    """DCT-pHash chain (late r12): synth 2-D block BMPs → pixel
    decode → 32×32 box means → 2-D DCT → hash. Same linear per-row
    shape as phash_hash_pass plus two 32×32 float matmuls/row."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import dct_phashes
    from tidb_cdc_spark.functions.media_synth import synth_bmp_block16_media

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.lit(1) + F.col("doc_id") * 643 % 65534).alias("word"),
            (F.col("doc_id") % 41).alias("shift"),
            (F.col("doc_id") % 7).alias("noise"),
        )
    )
    return dct_phashes(synth_bmp_block16_media(ids, "media_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("phash").alias("dp"),
    )


def audio_window_pass(spark, sf_dir: str):
    """Windowed-audio chain (late r12): synth 8-window WAVs → PCM
    decode → 8 per-window fingerprints/row, linear in total
    windows over ~8 KB payloads."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import audio_window_hashes
    from tidb_cdc_spark.functions.media_synth import synth_wav_windowed_media

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.col("doc_id").alias("base"),
            (F.col("doc_id") % 3).cast("int").alias("skip"),
            (F.lit(1) + F.col("doc_id") % 7).alias("gain"),
        )
    )
    return audio_window_hashes(
        synth_wav_windowed_media(ids, "media_id")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("whash").alias("dw"),
    )


def codec_decode_pass(spark, sf_dir: str):
    """Compressed-codec chain (r13): synth → decode → hash with the
    codec leg CYCLING over every pure-Python decoder — BMP, the full
    PNG envelope (incl. Adam7/16-bit/alpha/palette), GIF (both),
    JPEG (sequential gray/4:4:4/4:2:0 AND progressive), lossless
    WebP (all five variants). Linear per-row CPU ∝ pixel bytes; the
    ratio evidence that the decode rides inside the Arrow pass at
    any corpus size."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import perceptual_hashes
    from tidb_cdc_spark.functions.media_synth import (
        CODEC_LEGS,
        PNG_DEEP_LEGS,
        synth_codec_pixel_media,
    )

    legs = (
        list(CODEC_LEGS)
        + list(PNG_DEEP_LEGS)
        + ["jpeg", "jpeg_rgb", "jpeg_420", "jpeg_prog", "jpeg_prog_420"]
        + ["webp", "webp_pal", "webp_sg", "webp_lz", "webp_pred"]
    )
    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.lit(1) + F.col("doc_id") % 254).alias("pattern"),
            F.lit(0).alias("shift"),
            F.element_at(
                F.array(*[F.lit(c) for c in legs]),
                (F.col("doc_id") % len(legs) + 1).cast("int"),
            ).alias("codec"),
        )
    )
    # JPEG legs need the 64×64 block-aligned plant; the others
    # accept it too, so one geometry serves every leg
    return perceptual_hashes(
        synth_codec_pixel_media(ids, "media_id", width=64, height=64)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("ahash").alias("da"),
    )


def anim_decode_pass(spark, sf_dir: str):
    """Frame-path chain (r14): synth → per-frame decode →
    frame-hash aggregate with the container cycling animated GIF /
    APNG / DHT-less MJPEG AVI (8 frames each — LZW composition,
    per-frame zlib rewrap, K.3-injected JPEG respectively).
    Pair-join-free on purpose: the audits' uncapped planted-family
    joins are quadratic by construction, so the frame DECODE cost —
    the thing that scales with corpus size — is measured alone."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import video_frame_hashes
    from tidb_cdc_spark.functions.media_synth import (
        synth_apng_anim_media,
        synth_gif_anim_media,
        synth_mjpeg_avi_media,
    )

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") % 8191).alias("base"),
            F.lit(0).alias("skip"),
            F.lit(0).alias("shift"),
            F.lit(1).alias("strip"),
        )
    )
    part = F.col("media_id") % 3
    media = (
        synth_gif_anim_media(ids.where(part == 0), "media_id")
        .unionByName(synth_apng_anim_media(ids.where(part == 1), "media_id"))
        .unionByName(synth_mjpeg_avi_media(ids.where(part == 2), "media_id"))
    )
    return video_frame_hashes(media).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("fhash").alias("dh"),
    )


def audio_codec_pass(spark, sf_dir: str):
    """Audio sample-path chain (r14): synth → decode → fingerprint
    aggregate with the coding cycling PCM16 / µ-law / A-law /
    IMA ADPCM — the G.711 table expansions and the sequential
    adaptive recurrence measured inside the Arrow pass, no pair
    join (same rationale as anim_decode_pass)."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.media_hash import audio_fingerprints
    from tidb_cdc_spark.functions.media_synth import synth_wav_pcm_media

    ids = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.lit(1) + F.col("doc_id") % 254).alias("pattern"),
            F.lit(1).alias("gain"),
            F.element_at(
                F.array(
                    F.lit("pcm16"), F.lit("ulaw"),
                    F.lit("alaw"), F.lit("adpcm"),
                ),
                (F.col("doc_id") % 4 + 1).cast("int"),
            ).alias("codec"),
        )
    )
    return audio_fingerprints(
        synth_wav_pcm_media(ids, "media_id", codec_col="codec")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("afp").alias("da"),
    )


def html_extract_pass(spark, sf_dir: str):
    """HTML→text chain (r14): the pure-JVM strip chain over real
    document text with a value-forcing aggregate — the declared
    query's per-row output lets ``count()`` prune the whole
    projection (parquet row counts only), so the curve consumes
    the md5/length columns explicitly."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.functions.html import html_strip_tags

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
    )
    page = F.concat(
        F.lit("<html><head><script>var x=1;</script></head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    t = html_strip_tags(page)
    return docs.agg(
        F.sum(F.length(t)).alias("total_len"),
        F.countDistinct(F.md5(F.encode(t, "UTF-8"))).alias("dm"),
    )


def main() -> None:
    out100 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_sf1x100"
    out10 = "/tmp/spark_graft_sf1x10"
    src = "/root/testdata/sf0.1"

    import tools.scale_rehearsal as R
    from tidb_cdc_spark import get_spark
    from tidb_cdc_spark.queries import QUERIES

    spark = get_spark("scale-curve")
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.perf_counter()
    R.ensure_replicas(spark, src, out10, 10)
    R.ensure_replicas(spark, src, out100, 100)
    if time.perf_counter() - t0 > 5:
        print(
            f"# built replica dirs in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )

    results: dict[str, dict[str, float]] = {}
    for name in OPS:
        row: dict[str, float] = {}
        for label, d in (("1x", src), ("10x", out10), ("100x", out100)):
            best = float("inf")
            for _ in range(2):
                # CacheManager matches canonicalized plans, so a
                # materialize() inside the query would make rep 2
                # (and every later rep at this scale) read rep 1's
                # persisted blocks — a cached-read time, not the
                # op's. Clear before every timed rep.
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                QUERIES[name](spark, d).count()
                best = min(best, time.perf_counter() - t0)
            row[label] = round(best, 2)
        spark.catalog.clearCache()
        r10 = round(row["10x"] / max(row["1x"], 1e-9), 1)
        r100 = round(row["100x"] / max(row["10x"], 1e-9), 1)
        row["ratio_1to10"] = r10
        row["ratio_10to100"] = r100
        results[name] = row
        print(f"# {name}: {row}", file=sys.stderr, flush=True)

    # inline media hash-pass chains (see note above OPS)
    for label_fn, fn in (
        ("phash_hash_pass (inline)", phash_hash_pass),
        ("audio_fp_pass (inline)", audio_fp_pass),
        ("video_fp_pass (inline)", video_fp_pass),
        ("dct_phash_pass (inline)", dct_phash_pass),
        ("audio_window_pass (inline)", audio_window_pass),
        ("codec_decode_pass (inline)", codec_decode_pass),
        ("anim_decode_pass (inline)", anim_decode_pass),
        ("audio_codec_pass (inline)", audio_codec_pass),
        ("html_extract_pass (inline)", html_extract_pass),
    ):
        row = {}
        for label, d in (("1x", src), ("10x", out10), ("100x", out100)):
            best = float("inf")
            for _ in range(2):
                spark.catalog.clearCache()  # see the OPS loop note
                t0 = time.perf_counter()
                fn(spark, d).count()
                best = min(best, time.perf_counter() - t0)
            row[label] = round(best, 2)
        spark.catalog.clearCache()
        row["ratio_1to10"] = round(row["10x"] / max(row["1x"], 1e-9), 1)
        row["ratio_10to100"] = round(row["100x"] / max(row["10x"], 1e-9), 1)
        results[label_fn] = row
        print(f"# {label_fn}: {row}", file=sys.stderr, flush=True)
    print(json.dumps({"scale_curve": results}))
    spark.stop()


if __name__ == "__main__":
    main()
