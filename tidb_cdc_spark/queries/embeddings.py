"""Embedding-space queries over ``embeddings``: fixed-point centroids,
covariance and PCA projection, whitening, seeded random projection and
int8 quantization.

Also home of the shared readers ``_embs`` and ``_embs_with_copies``
(the planted-copy fixture of the audit queries).

Oracle strategy: vector math is fixed point (floor(x·2^20)
components, integer/decimal sums — order-independent, see
functions/centroids.py), cast to double in an identical op order in
both engines. Eigen-based outputs (PCA, whitening) are rows-only and
each gets a planted-copy audit: projection is a pure function of the
vector, so a copy and its original project identically.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import centroids as CE
from tidb_cdc_spark.functions import pca as P
from tidb_cdc_spark.functions import quantize as QZ
from tidb_cdc_spark.functions.centroids import SCALE
from tidb_cdc_spark.functions.projection import random_project, random_project_sql
from tidb_cdc_spark.queries.corpus import _planting_offset
from tidb_cdc_spark.session import read_table


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings are tiny at test SF (thousands of rows) — cap the
    fan-out so the Arrow-batched UDF stages don't orchestrate 32
    near-empty Python round-trips; at real scale the source has
    enough splits that this repartition is moot."""
    n = min(8, spark.sparkContext.defaultParallelism)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(n)


_N_VECS = 5  # vectors 0.._N_VECS-1 get planted copies


def _embs_with_copies(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int]:
    e = _embs(spark, sf_dir)
    off = _planting_offset(e, "vec_id")
    copies = e.filter(F.col("vec_id") < _N_VECS).select(
        (F.col("vec_id") + off).alias("vec_id"),
        *[c for c in e.columns if c != "vec_id"],
    )
    return e.unionByName(copies.select(*e.columns)), off


# ------------------------------------------- fixed-point centroids
_QCOMP_CTE = f"""
WITH comp AS (
  SELECT vec_id, label, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {CE.SCALE})
              AS BIGINT) AS q
  FROM embeddings, range(1, 65) t(i)
), cent AS (
  SELECT label, pos, CAST(SUM(q) // COUNT(*) AS BIGINT) AS cq, COUNT(*) AS n
  FROM comp GROUP BY label, pos
)
"""


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label fixed-point centroid signature: member count,
    component checksum, squared norm — exactly reproducible in any
    engine, so snapshots can be diffed byte-for-byte."""
    return CE.centroid_summary(_embs(spark, sf_dir)).orderBy("label")


_CENTROID_SQL = (
    _QCOMP_CTE
    + """
SELECT label, MAX(n) AS n_vectors,
       CAST(SUM(cq) AS BIGINT) AS centroid_checksum,
       CAST(SUM(cq * cq) AS BIGINT) AS centroid_norm2
FROM cent GROUP BY label ORDER BY label
"""
)


def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization audit: fixed-point
    scale, surviving components, quantized checksum, L1 residue."""
    return QZ.int8_quantize_stats(_embs(spark, sf_dir)).orderBy("vec_id")


_QUANT_SQL = f"""
WITH comp AS (
  SELECT vec_id, label, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {QZ.SCALE})
              AS BIGINT) AS q
  FROM embeddings, range(1, 65) t(i)
), m AS (
  SELECT *, MAX(ABS(q)) OVER (PARTITION BY vec_id) AS maxabs_q
  FROM comp
), qi AS (
  SELECT *, CASE WHEN maxabs_q = 0 THEN 0
                 ELSE (q * 127) // maxabs_q END AS iq
  FROM m
)
SELECT vec_id, label,
       CAST(MAX(maxabs_q) AS BIGINT) AS maxabs_q,
       CAST(SUM(CASE WHEN iq <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS nonzero,
       CAST(SUM(iq * (pos + 1)) AS BIGINT) AS iq_checksum,
       CAST(SUM(ABS(q * 127 - iq * maxabs_q)) AS BIGINT) AS err_l1
FROM qi GROUP BY vec_id, label ORDER BY vec_id
"""


# ------------------------------------------------ distributed PCA

#: covariance grid: leading dims pinned by the oracle
_N_DIMS = 4


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading 4×4 block of the embedding covariance matrix — the
    exact statistic ``fit_pca`` diagonalizes, in fixed point so both
    engines hash identically: integral component sums, one
    decimal-exact cross-moment, doubles only for the final
    mean-product subtraction (identical op order)."""

    # Spark plan: ONE scan + a scalar aggregate of 1+d+d² partial
    # sums (map-side combined — nothing data-sized shuffles), then
    # the 1-row result is exploded to the 16 (i,j) grid rows. The
    # oracle SQL states the same sums via the readable unnest +
    # self-join form; values are identical (order-independent
    # integer/decimal sums), the physical shapes deliberately differ.
    e = read_table(spark, sf_dir, "embeddings")
    base = e.select(
        *[
            F.floor(
                F.element_at(F.col("embedding"), i + 1).cast("double")
                * F.lit(SCALE)
            )
            .cast("long")
            .alias(f"q{i}")
            for i in range(_N_DIMS)
        ]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    aggs += [F.sum(f"q{i}").alias(f"s{i}") for i in range(_N_DIMS)]
    aggs += [
        F.sum(
            F.col(f"q{i}").cast("decimal(19,0)")
            * F.col(f"q{j}").cast("decimal(19,0)")
        ).alias(f"p{i}_{j}")
        for i in range(_N_DIMS)
        for j in range(_N_DIMS)
    ]
    grid = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    F.lit(j).alias("j"),
                    F.col("n").alias("n_vectors"),
                    F.col(f"s{i}").alias("sx"),
                    F.col(f"s{j}").alias("sy"),
                    F.col(f"p{i}_{j}").alias("_sxy"),
                )
                for i in range(_N_DIMS)
                for j in range(_N_DIMS)
            ]
        )
    )
    g = base.agg(*aggs).select(grid.alias("_g")).select("_g.*")
    n = F.col("n_vectors").cast("double")
    cov_q = F.col("_sxy").cast("double") / n - (
        F.col("sx").cast("double") / n
    ) * (F.col("sy").cast("double") / n)
    return g.select(
        "i",
        "j",
        "n_vectors",
        "sx",
        "sy",
        F.round(cov_q / F.lit(float(SCALE)) / F.lit(float(SCALE)), 8).alias(
            "cov"
        ),
    ).orderBy("i", "j")


_COVARIANCE_SQL = f"""
WITH comp AS (
  SELECT vec_id, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {SCALE})
              AS BIGINT) AS q
  FROM embeddings, range(1, {_N_DIMS + 1}) t(i)
), g AS (
  SELECT a.pos AS i, b.pos AS j,
         CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(SUM(a.q) AS BIGINT) AS sx,
         CAST(SUM(b.q) AS BIGINT) AS sy,
         SUM(CAST(a.q AS DECIMAL(19,0)) * CAST(b.q AS DECIMAL(19,0))) AS sxy
  FROM comp a JOIN comp b USING (vec_id)
  GROUP BY a.pos, b.pos
)
SELECT i, j, n_vectors, sx, sy,
       ROUND((CAST(sxy AS DOUBLE) / CAST(n_vectors AS DOUBLE)
              - (CAST(sx AS DOUBLE) / CAST(n_vectors AS DOUBLE))
                * (CAST(sy AS DOUBLE) / CAST(n_vectors AS DOUBLE)))
             / {float(SCALE)} / {float(SCALE)}, 8) AS cov
FROM g ORDER BY i, j
"""


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project the corpus onto its top-8 principal axes (one-pass
    distributed moments + driver eigh + Arrow-batched matmul). Rows-
    only: eigenvectors aren't SQL-expressible; the projection
    contract is oracle-checked by ``embedding_pca_audit`` and the
    covariance input by ``embedding_covariance``."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    model = P.fit_pca(e, k=8)
    proj = P.project(e, model)
    return proj.select(
        "vec_id",
        *[
            F.round(F.element_at(F.col("pca"), d + 1), 4).alias(f"p{d}")
            for d in range(4)
        ],
    ).orderBy("vec_id")


def embedding_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-copy + model-invariant contract: a copy projects onto
    the same coordinates as its original (pure function of the
    vector, 1e-6 tolerance for BLAS batching); components are
    orthonormal; explained variance is non-increasing and the ratios
    sum to ≤ 1."""

    e, off = _embs_with_copies(spark, sf_dir)
    e = e.select("vec_id", "embedding")
    model = P.fit_pca(e, k=8)
    gram = model.components @ model.components.T
    ortho_ok = bool(
        np.abs(gram - np.eye(gram.shape[0])).max() < 1e-8
    )
    ev = model.explained_variance
    var_ok = bool(np.all(np.diff(ev) <= 1e-12) and model.explained_ratio.sum() <= 1.0 + 1e-9)

    ids = e.filter(
        (F.col("vec_id") < _N_VECS)
        | (
            (F.col("vec_id") >= F.lit(off))
            & (F.col("vec_id") < F.lit(off) + _N_VECS)
        )
    )
    proj = P.project(ids, model)
    orig = proj.filter(F.col("vec_id") < _N_VECS).select(
        "vec_id", F.col("pca").alias("_pa")
    )
    copy = proj.filter(F.col("vec_id") >= F.lit(off)).select(
        (F.col("vec_id") - F.lit(off)).alias("vec_id"),
        F.col("pca").alias("_pb"),
    )
    diff = F.array_max(
        F.zip_with("_pa", "_pb", lambda x, y: F.abs(x - y))
    )
    return (
        orig.join(copy, "vec_id", "left")
        .select(
            "vec_id",
            F.col("_pb").isNotNull().alias("found"),
            F.coalesce(diff < 1e-6, F.lit(False)).alias("proj_same"),
            F.lit(ortho_ok).alias("ortho_ok"),
            F.lit(var_ok).alias("var_desc"),
        )
        .orderBy("vec_id")
    )


_PCA_AUDIT_SQL = """
SELECT vec_id, TRUE AS found, TRUE AS proj_same,
       TRUE AS ortho_ok, TRUE AS var_desc
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""


def embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 4 (rounded) of the 8 PCA-whitened coordinates per
    vector (same emit shape as ``embedding_pca_project``; decorrelate +
    unit-variance — the standard preprocessing before cosine ANN /
    k-means on anisotropic embeddings; functions/pca.py::whiten).
    Rows-only like ``embedding_pca_project`` (eigenvectors aren't
    SQL-expressible); the contract is oracle-checked by
    ``embedding_whiten_audit``."""
    e = _embs(spark, sf_dir).select("vec_id", "embedding")
    model = P.fit_pca(e, k=8)
    w = P.whiten(e, model)
    return w.select(
        "vec_id",
        *[
            F.round(F.element_at(F.col("white"), d + 1), 4).alias(f"w{d}")
            for d in range(4)
        ],
    ).orderBy("vec_id")


def embedding_whiten_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitening contract, oracle-gated: (a) a planted exact copy
    whitens to identical coordinates (pure per-vector map, 1e-6 BLAS
    tolerance); (b) every whitened component has population variance
    ≈ 1 over the fit corpus — THE whitening property: var along axis
    i is λᵢ, scaled by 1/(λᵢ+eps) ⇒ λᵢ/(λᵢ+eps) ≈ 1 (checked at
    1e-3). A regression in the moment pipeline, eigh plumbing, or
    the scaling flips a boolean and fails the hash."""
    e, off = _embs_with_copies(spark, sf_dir)
    e = e.select("vec_id", "embedding")
    model = P.fit_pca(e, k=8)
    w = P.whiten(e, model)
    var_row = (
        w.select(F.posexplode("white").alias("_d", "_v"))
        .groupBy("_d")
        .agg(F.var_pop("_v").alias("_var"))
        .agg(
            F.min(
                (F.abs(F.col("_var") - 1.0) < 1e-3).cast("int")
            ).alias("_ok")
        )
        .collect()
    )
    unit_var_ok = bool(var_row[0]["_ok"] == 1)

    ids = w.filter(
        (F.col("vec_id") < _N_VECS)
        | (
            (F.col("vec_id") >= F.lit(off))
            & (F.col("vec_id") < F.lit(off) + _N_VECS)
        )
    )
    orig = ids.filter(F.col("vec_id") < _N_VECS).select(
        "vec_id", F.col("white").alias("_wa")
    )
    copy = ids.filter(F.col("vec_id") >= F.lit(off)).select(
        (F.col("vec_id") - F.lit(off)).alias("vec_id"),
        F.col("white").alias("_wb"),
    )
    diff = F.array_max(
        F.zip_with("_wa", "_wb", lambda x, y: F.abs(x - y))
    )
    return (
        orig.join(copy, "vec_id", "left")
        .select(
            "vec_id",
            F.col("_wb").isNotNull().alias("found"),
            F.coalesce(diff < 1e-6, F.lit(False)).alias("white_same"),
            F.lit(unit_var_ok).alias("unit_var_ok"),
        )
        .orderBy("vec_id")
    )


_WHITEN_AUDIT_SQL = """
SELECT vec_id, TRUE AS found, TRUE AS white_same, TRUE AS unit_var_ok
FROM embeddings WHERE vec_id < 5 ORDER BY vec_id
"""


_DIM = 64
_K = 8


def embedding_random_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """64-d embeddings → 8 exact integer JL coordinates. Map-only:
    the plan is a single project over the scan — no shuffle, no
    Python, no fitted model (plan-pinned)."""
    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return random_project(vecs, d=_DIM, k=_K).orderBy("vec_id")


QUERIES = {
    "embedding_int8_quantize": embedding_int8_quantize,
    "embedding_centroids": embedding_centroids,
    "embedding_covariance": embedding_covariance,
    "embedding_pca_project": embedding_pca_project,
    "embedding_pca_audit": embedding_pca_audit,
    "embedding_whiten": embedding_whiten,
    "embedding_whiten_audit": embedding_whiten_audit,
    "embedding_random_projection": embedding_random_projection,
}
ORACLE = {
    "embedding_int8_quantize": _QUANT_SQL,
    "embedding_centroids": _CENTROID_SQL,
    "embedding_covariance": _COVARIANCE_SQL,
    "embedding_pca_audit": _PCA_AUDIT_SQL,
    "embedding_whiten_audit": _WHITEN_AUDIT_SQL,
    "embedding_random_projection": random_project_sql(d=_DIM, k=_K),
}
