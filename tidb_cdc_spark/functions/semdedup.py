"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): partition the embedding space with k-means, then
prune within-cell near-duplicates by pairwise cosine similarity above
a threshold — the standard "remove semantically redundant training
examples" pass that exact/MinHash dedup cannot express (paraphrases
share no shingles but sit nearby in embedding space).

Decision rule (deterministic): a vector is a duplicate iff some
LOWER-id vector in its cell has cosine ≥ threshold; ``dup_of`` is the
most-similar such vector (ties → lowest id, numpy argmax takes the
first maximum). Keeping the minimum id per near-dup neighborhood is
the engine-wide convention (functions/dedup.py) and makes the output
a pure function of (corpus, n_cells, threshold, seed).

Scale shape (100 TB):
- k-means trains on MLlib (samples internally), assignment is one
  scan; the only corpus shuffle is the groupBy(cell) exchange.
- within-cell work is an Arrow-batched pandas group: normalized
  matrix + CHUNKED gemm against lower-id rows, so peak memory is
  chunk×m floats, never m×m. Flops are O(m²d/2) per cell — the paper
  controls m by raising k (they use k≈50k on LAION so cells hold
  ~10⁴ vectors); n_cells is the knob here.
- a cell larger than ``max_cell_rows`` is sub-divided by id order
  into blocks that are deduped independently (graceful degradation:
  bounded memory/flops at a documented recall cost, logged in the
  output's ``truncated`` flag) instead of OOMing the executor — the
  production fix is raising n_cells, same as the paper.

Reference scope note: the reference engine (dollarkillerx/tidb-cdc)
has no vector surface; north-star pipeline op, contract style of
functions/similarity.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.similarity import as_double

#: gemm chunk: bounds within-cell peak memory at chunk × m doubles.
_CHUNK = 1024


def semantic_dedup(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.95,
    seed: int = 7,
    max_cell_rows: int = 65536,
    train_fraction: float = 1.0,
) -> DataFrame:
    """(id, cell, is_dup, dup_of, max_sim, truncated) — one row per
    input vector. ``dup_of``/``max_sim`` are null for kept vectors
    with no ≥-threshold lower-id neighbor; ``truncated`` marks rows
    deduped inside an oversized-cell sub-block (see module doc).

    ``train_fraction`` < 1 fits the k-means on a deterministic
    sample (seeded) — at 100 TB centroids converge on a tiny
    fraction of the corpus and full-data training would dominate the
    job; assignment still covers EVERY vector, so prune results stay
    exhaustive (cell boundaries just come from sampled centroids)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = embs.select(
        F.col(id_col).alias("_id"), as_double(F.col(vec_col)).alias("_v")
    )
    if n_cells <= 1:
        # exact mode: one cell, no k-means (MLlib requires k ≥ 2) —
        # the brute-force twin used by tests and tiny corpora
        assigned = c.withColumn("_cell", F.lit(0))
    else:
        from tidb_cdc_spark.functions.sampling import sampled_train
        from tidb_cdc_spark.session import materialize

        # the vector-building pipeline
        # (for doc_semantic_dedup: tokenize -> hashed-TF -> densify)
        # feeds THREE consumers — the sampled-train row-count probe,
        # the KMeans fit, and the assignment transform. Without a
        # materialize each consumer re-executes it from the source;
        # with it the fit iterations and the transform read cached
        # columnar blocks. Semantics-neutral (same frame, cached).
        c = materialize(c.withColumn("_fv", array_to_vector(F.col("_v"))))
        train = sampled_train(c, train_fraction, n_cells, seed)
        try:
            km = KMeans(
                k=n_cells, seed=seed, maxIter=10, featuresCol="_fv"
            ).fit(train)
        except Exception:
            # KMeans.fit errors on an empty frame; an empty corpus
            # has a well-defined answer (no rows) — checked only on
            # the failure path so the happy path stays one job
            if c.isEmpty():
                schema = (
                    f"{id_col} long, cell int, is_dup boolean, "
                    "dup_of long, max_sim double, truncated boolean"
                )
                return embs.sparkSession.createDataFrame([], schema)
            raise
        assigned = km.transform(c).select(
            "_id", "_v", F.col(km.getPredictionCol()).alias("_cell")
        )

    out_schema = (
        f"{id_col} long, cell int, is_dup boolean, dup_of long, "
        "max_sim double, truncated boolean"
    )
    thr = float(threshold)
    cap = int(max_cell_rows)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id", ignore_index=True)
        ids = pdf["_id"].to_numpy(dtype=np.int64)
        cell = int(pdf["_cell"].iloc[0])
        M = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(M, axis=1)
        norms[norms == 0.0] = 1.0
        M /= norms[:, None]
        m = len(pdf)
        dup = np.zeros(m, dtype=bool)
        dup_of = np.full(m, -1, dtype=np.int64)
        best = np.full(m, np.nan)
        n_blocks = -(-m // cap)
        for b in range(n_blocks):
            lo, hi = b * cap, min((b + 1) * cap, m)
            for start in range(lo + 1, hi, _CHUNK):
                end = min(start + _CHUNK, hi)
                S = M[start:end] @ M[lo:end].T
                rows = np.arange(start, end)
                mask = np.arange(lo, end)[None, :] < rows[:, None]
                S = np.where(mask, S, -np.inf)
                j = S.argmax(axis=1)
                s = S[np.arange(len(rows)), j]
                hit = s >= thr
                dup[rows[hit]] = True
                dup_of[rows[hit]] = ids[lo + j[hit]]
                best[rows[hit]] = s[hit]
        return pd.DataFrame(
            {
                id_col: ids,
                "cell": np.full(m, cell, dtype=np.int32),
                "is_dup": dup,
                "dup_of": pd.array(
                    [int(d) if d >= 0 else None for d in dup_of],
                    dtype="Int64",
                ),
                "max_sim": best,
                "truncated": np.full(m, n_blocks > 1, dtype=bool),
            }
        )

    return assigned.groupBy("_cell").applyInPandas(prune, out_schema)
