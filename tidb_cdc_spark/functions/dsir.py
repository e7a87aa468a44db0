"""DSIR — Data Selection via Importance Resampling (Xie et al.,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023 — public literature): score every raw-corpus document
by how much more likely its hashed-unigram bag is under a TARGET
domain's bucket distribution than under the raw corpus's own, then
keep the top slice. The standard recipe for "make 100 TB of crawl
look like Wikipedia/books" before pretraining.

Exactness contract: the paper computes Σ_b c_x[b]·(log p̂_tgt[b] −
log p̂_raw[b]) in floats; libm ``log`` is not bit-identical across
engines, so (repo convention since functions/lm.py) the engine
quantizes each bucket's log-ratio to whole bits via the
binary-digit-count identity ``floor_log2(n) = length(bin(n)) − 1``,
with add-one (Laplace) smoothing so absent buckets stay defined:

    bits[b] =   (fl2(N_raw + dim) − fl2(c_raw[b] + 1))     # raw surprisal
              − (fl2(N_tgt + dim) − fl2(c_tgt[b] + 1))     # tgt surprisal

— positive when the bucket is relatively more common in the target.
``weight_bits = Σ_b tf_doc[b]·bits[b]`` is monotone in the paper's
log importance weight (within the ±2-bit quantization) and every
intermediate is integral, so the op is hash-exact cross-engine and
fully ORACLE-CHECKABLE (DuckDB recomputes identical md5 buckets and
bin-lengths; queries/corpus.py).

Scale shape (100 TB): the bucket log-ratio table is ``dim`` rows —
a BROADCAST side regardless of corpus size; per-doc sparse hashed
TF is one map-side-combining (doc, bucket) count (≤ dim rows per
doc move); the weight is one groupBy(doc) over that. Selection
ranks by weight with the repo's banded two-level prefix scan
(functions/selection.py module doc) — no single-task global window.

Reference scope note: the reference engine (dollarkillerx/tidb-cdc)
has no corpus surface; north-star pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_cdc_spark.functions.feature_hash import hashed_tf
from tidb_cdc_spark.session import materialize

#: µ-unit scale shared with functions/quality.py / selection.py.
PPM = 1_000_000


def _fl2_len(col: F.Column) -> F.Column:
    """``length(bin(n))`` — floor_log2(n)+1, exact in Spark and
    DuckDB; only DIFFERENCES are used so the +1 cancels."""
    return F.length(F.bin(col))


def dsir_bucket_bits(
    raw: DataFrame,
    target: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-bucket whole-bit log importance ratio: ``(bucket, c_raw,
    c_tgt, bits)`` over the raw corpus's occupied buckets (a bucket
    no raw document touches can never contribute to a weight).
    ≤ ``dim`` rows — broadcastable at any corpus size."""
    c_raw = (
        hashed_tf(raw, dim, id_col, text_col)
        .groupBy("bucket")
        .agg(F.sum("tf").alias("c_raw"))
    )
    c_tgt = (
        hashed_tf(target, dim, id_col, text_col)
        .groupBy("bucket")
        .agg(F.sum("tf").alias("c_tgt"))
    )
    totals = (
        c_raw.agg(F.sum("c_raw").alias("_nr"))
        .crossJoin(
            c_tgt.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("_nt"))
        )
    )
    joined = (
        c_raw.join(c_tgt, "bucket", "left")
        .na.fill(0, ["c_tgt"])
        .crossJoin(F.broadcast(totals))
    )
    bits = (
        _fl2_len(F.col("_nr") + F.lit(dim))
        - _fl2_len(F.col("c_raw") + F.lit(1))
    ) - (
        _fl2_len(F.col("_nt") + F.lit(dim))
        - _fl2_len(F.col("c_tgt") + F.lit(1))
    )
    return joined.select(
        "bucket",
        F.col("c_raw").cast("long").alias("c_raw"),
        F.col("c_tgt").cast("long").alias("c_tgt"),
        bits.cast("long").alias("bits"),
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document importance weight: ``(id, n_tokens,
    weight_bits)`` with ``weight_bits = Σ_buckets tf·bits[bucket]``
    (may be negative — the doc looks LESS like the target than the
    average raw doc). Zero-token docs have no defined weight and
    drop (both engines).

    Plan: sparse TF (map-side combine) ⋈ broadcast(dim-row bits
    table) → one groupBy(id). Nothing corpus-sized ever sits on the
    driver or a single task."""
    tf = hashed_tf(raw, dim, id_col, text_col)
    bits = dsir_bucket_bits(raw, target, dim, id_col, text_col).select(
        "bucket", "bits"
    )
    return (
        tf.join(F.broadcast(bits), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("bits")).cast("long").alias(
                "weight_bits"
            ),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    dim: int = 64,
    keep_ppm: int = 250_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 256,
) -> DataFrame:
    """Deterministic DSIR selection: rank by ``(weight_bits DESC,
    id ASC)`` — a total order — and keep the top ``keep_ppm``
    µ-fraction: ``(id, n_tokens, weight_bits, rank, selected)``
    with ``selected = rank·PPM ≤ N·keep_ppm`` (integral, no float
    fraction-of-N edge cases). The paper resamples with Gumbel
    noise; the deterministic top-slice is the same estimator with
    temperature → 0 and is what makes the op hash-exact. For the
    stochastic variant, perturb ``weight_bits`` with a
    ``sampling.hash_bucket``-derived key before ranking.

    Scale: the global rank runs as the repo's banded two-level scan
    sharded by WEIGHT BAND (contiguous weight ranges are contiguous
    rank spans) — per-band counts prefix-summed on a ≤ n_shards-row
    window, within-band row_number partitioned BY band. Band bounds
    come from one 1-row min/max/count aggregate (bounded driver
    traffic at any corpus size)."""
    from tidb_cdc_spark.operators.windows import banded_offsets

    w = materialize(dsir_weights(raw, target, dim, id_col, text_col))
    head = w.agg(
        F.min("weight_bits").alias("lo"),
        F.max("weight_bits").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if head["n"] == 0:
        return raw.sparkSession.createDataFrame(
            [],
            f"{id_col} long, n_tokens long, weight_bits long, "
            "rank long, selected boolean",
        )
    hi, n = int(head["hi"]), int(head["n"])
    width = max(1, -(-(hi - int(head["lo"]) + 1) // n_shards))
    sharded = w.withColumn(
        "_shard", F.expr(f"({hi}L - weight_bits) div {width}L")
    )
    offsets = banded_offsets(sharded, "_shard")
    w_in = Window.partitionBy("_shard").orderBy(
        F.desc("weight_bits"), F.asc(id_col)
    )
    return (
        sharded.join(F.broadcast(offsets), "_shard")
        .withColumn(
            "rank",
            (F.col("_off") + F.row_number().over(w_in)).cast("long"),
        )
        .withColumn("selected", F.col("rank") * PPM <= n * keep_ppm)
        .drop("_shard", "_off")
    )
