"""Lemmas for the r13 no-silent-caps reports (phash_cap_report /
video_frame_cap_report) and the capped composed-pipeline defaults.

Three obligations:
1. the phash report's oracle rests on a NO-COLLISION lemma — no two
   of the plant's 101 distinct aHashes share a Manku (table, key)
   bucket. The hash family is a pure function of pid (0..100, present
   at every SF), so proving it once here proves it at every gate SF.
2. both report functions are checked against brute-force pandas
   recomputations on hand-built frames (independent of any plant
   arithmetic or collision assumption).
3. the composed curation pipelines now run CAPPED pair joins
   (max 1000) — valid only because their stage-2 survivor families
   are tiny by construction; assert the actual max family sizes and
   that capped == uncapped on the pair stage.
"""

from math import comb

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
N_TABLES = comb(6, 3)  # Manku tables at the (blocks=6, τ=3) defaults


def _plant_bmp(spark, sf_dir=SF):
    from tidb_cdc_spark.functions.media_synth import synth_bmp_pixel_media

    planted = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") >= 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.lit(1) + (F.col("doc_id") % 101) % 254).alias("pattern"),
            F.when(F.expr("doc_id div 101") % 3 == 2, F.lit(20))
            .otherwise(F.lit(0))
            .alias("shift"),
        )
    )
    return synth_bmp_pixel_media(planted, "media_id")


def test_phash_plant_manku_keys_collision_free(spark):
    """The 101-cluster aHash family occupies exactly 20*101 distinct
    (table, key) buckets — no cross-cluster xxhash64 key collision
    in any permuted table. This is the lemma _PHASH_CAP_SQL's
    20·n_clusters arithmetic stands on; the hash values depend only
    on pid, so this single check covers every SF."""
    from tidb_cdc_spark.functions.dedup import manku_table_keys
    from tidb_cdc_spark.functions.media_hash import perceptual_hashes

    hashes = perceptual_hashes(_plant_bmp(spark))
    fam = hashes.select(F.col("ahash").alias("_sh")).distinct()
    assert fam.count() == 101
    keyed = manku_table_keys(
        fam.withColumn("_id", F.monotonically_increasing_id())
    )
    assert keyed.select("_table", "_key").distinct().count() == N_TABLES * 101


def test_phash_cap_report_brute_force(spark):
    """Report counts equal a pandas recomputation over the raw Manku
    explode — no plant arithmetic, no collision assumption."""
    from tidb_cdc_spark.functions.dedup import manku_table_keys
    from tidb_cdc_spark.functions.media_hash import phash_cap_report

    # families: 6 ids on hash A, 3 on B, 1 on C (+ a NULL screened
    # out); the three hashes differ in EVERY Manku block (0, ~0,
    # alternating), so no table merges two families
    rows = (
        [(i, 0) for i in range(6)]
        + [(i, -1) for i in range(6, 9)]
        + [(9, 0x5555555555555555), (10, None)]
    )
    hashes = spark.createDataFrame(rows, "media_id long, ahash long")
    got = phash_cap_report(hashes, max_bucket_size=4).toPandas().iloc[0]

    keyed = manku_table_keys(
        hashes.filter(F.col("ahash").isNotNull()).select(
            F.col("media_id").alias("_id"), F.col("ahash").alias("_sh")
        )
    ).toPandas()
    bs = keyed.groupby(["_table", "_key"]).size()
    over = bs[bs > 4]
    over_keys = set(over.index)
    keyed["_in_over"] = [
        (t, k) in over_keys for t, k in zip(keyed["_table"], keyed["_key"])
    ]
    per_id = keyed.groupby("_id")["_in_over"].sum()
    assert got["capped_buckets"] == len(over)
    assert got["total_buckets"] == len(bs)
    assert got["max_bucket"] == bs.max()
    assert got["affected_media"] == int((per_id > 0).sum())
    assert got["blinded_media"] == int((per_id == N_TABLES).sum())
    # and the planted shape is the expected one: only family A capped,
    # whose members are fully blinded (identical hashes flood all 20)
    assert got["capped_buckets"] == N_TABLES
    assert got["affected_media"] == got["blinded_media"] == 6


def test_video_frame_cap_report_brute_force(spark):
    from tidb_cdc_spark.functions.media_hash import video_frame_cap_report

    # frame inverted index: hash 100 in 5 videos, 200 in 2, 300 in 1;
    # video 0 repeats hash 100 (distinct-collapse must dedupe it)
    rows = (
        [(v, 100) for v in range(5)]
        + [(0, 100), (0, 200), (1, 200), (3, 300)]
    )
    fh = spark.createDataFrame(rows, "media_id long, fhash long")
    got = video_frame_cap_report(fh, max_frame_freq=4).toPandas().iloc[0]

    pdf = pd.DataFrame(rows, columns=["v", "h"]).drop_duplicates()
    freq = pdf.groupby("h")["v"].nunique()
    viral = set(freq[freq > 4].index)
    assert got["capped_fhashes"] == len(viral)
    assert got["total_fhashes"] == len(freq)
    assert got["max_freq"] == freq.max()
    assert got["affected_media"] == pdf[pdf["h"].isin(viral)]["v"].nunique()
    assert (got["capped_fhashes"], got["affected_media"]) == (1, 5)


@pytest.fixture(scope="module")
def _survivor_stats(spark):
    """Stage-2 survivor family sizes for all three composed
    pipelines at sf0.001 — computed exactly as the pipelines build
    their stage-2 inputs."""
    from tidb_cdc_spark.functions.media_hash import (
        audio_window_hashes,
        perceptual_hashes,
        video_frame_hashes,
    )
    from tidb_cdc_spark.functions.media_synth import (
        synth_avi_media,
        synth_wav_windowed_media,
    )

    def survivors(media):
        reps = (
            media.groupBy(F.sha2("payload", 256).alias("_d"))
            .agg(F.min("media_id").alias("media_id"))
            .select("media_id")
        )
        return media.join(reps, "media_id", "left_semi")

    img = perceptual_hashes(survivors(_plant_bmp(spark)))
    img_fam = (
        img.groupBy("ahash").count().agg(F.max("count")).collect()[0][0]
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("doc_id") >= 0
    )
    wav_plant = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 101).alias("base"),
        F.when(F.expr("doc_id div 101") % 3 == 2, F.lit(2))
        .otherwise(F.lit(0))
        .alias("skip"),
        F.when(F.expr("doc_id div 101") % 3 == 2, F.lit(3))
        .otherwise(F.lit(1))
        .alias("gain"),
    )
    wh = audio_window_hashes(survivors(synth_wav_windowed_media(wav_plant, "media_id")))
    audio_fam = (
        wh.select("media_id", "whash")
        .distinct()
        .groupBy("whash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )

    avi_plant = docs.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 101).alias("base"),
        F.when(F.expr("doc_id div 101") % 3 == 2, F.lit(1))
        .otherwise(F.lit(0))
        .alias("skip"),
        F.when(F.expr("doc_id div 101") % 3 == 2, F.lit(20))
        .otherwise(F.lit(0))
        .alias("shift"),
    )
    fh = video_frame_hashes(survivors(synth_avi_media(avi_plant, "media_id")))
    video_fam = (
        fh.select("media_id", "fhash")
        .distinct()
        .groupBy("fhash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    return img_fam, audio_fam, video_fam


def test_pipeline_survivor_families_below_cap(_survivor_stats):
    """The capped production defaults (1000) are loss-free on the
    plants BY CONSTRUCTION: after exact dedup, at most one
    un-transformed and one transformed payload class survive per
    cluster, so every stage-2 family has ≤2 members — two orders of
    magnitude under the cap, at ANY SF (survivor counts per cluster
    do not grow with corpus size)."""
    img_fam, audio_fam, video_fam = _survivor_stats
    assert img_fam <= 2
    assert audio_fam <= 2
    assert video_fam <= 2


def test_capped_equals_uncapped_on_survivor_pairs(spark):
    """Pair-stage equivalence: the capped production default yields
    the IDENTICAL pair set as cap=None over the image pipeline's
    stage-2 survivors (the other two pipelines share the family-size
    bound asserted above)."""
    from tidb_cdc_spark.functions.media_hash import (
        perceptual_hashes,
        phash_near_dup_pairs,
    )

    media = _plant_bmp(spark)
    reps = (
        media.groupBy(F.sha2("payload", 256).alias("_d"))
        .agg(F.min("media_id").alias("media_id"))
        .select("media_id")
    )
    hashes = perceptual_hashes(
        media.join(reps, "media_id", "left_semi")
    ).cache()
    capped = phash_near_dup_pairs(hashes, max_bucket_size=1000)
    uncapped = phash_near_dup_pairs(hashes, max_bucket_size=None)
    a = {tuple(r) for r in capped.collect()}
    b = {tuple(r) for r in uncapped.collect()}
    assert a == b and len(a) > 0
