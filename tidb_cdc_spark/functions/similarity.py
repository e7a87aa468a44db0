"""Embedding similarity search: brute-force and LSH-bucketed ANN.

North-star operator (BASELINE.json). The dot product / norms are
native ``zip_with`` + ``aggregate`` expressions (JVM-side, no
Python); the scale path replaces the brute-force cross join with
random-hyperplane LSH bucketing so candidate generation becomes an
equi-join on bucket signatures.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.operators.windows import topk_per_group


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ via zip_with + aggregate — sequential left fold, so the
    summation order (and thus the double result) is deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def as_double(vec: Column) -> Column:
    """Cast float32 vectors to double BEFORE arithmetic: fixing the
    promotion point makes results engine-independent."""
    return F.transform(vec, lambda x: x.cast("double"))


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int | None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector
    (``k=None`` ranks the WHOLE corpus per query — the full-ranking
    mode rank-fusion consumers need; only sensible for small corpora
    or when a downstream cap follows).

    Plan: broadcast the (small) query set against the corpus scan —
    no shuffle of the corpus — then a window top-k on query_id. This
    is the correct baseline: at 100 TB of corpus the scan is
    embarrassingly parallel and the only shuffle is the tiny
    (|queries| × k) candidate set after per-partition pruning. For
    large query sets, switch to ``knn_lsh``.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("_cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", cosine(F.col("_qv"), F.col("_cv")))
        .select("query_id", "neighbor_id", "score")
    )
    ranked = topk_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("neighbor_id").asc()],
        k if k is not None else (1 << 62),
        rank_col="rank",
    )
    return ranked.select("query_id", "neighbor_id", "rank")


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane — a fixed public
    hash-free construction (no RNG state, reproducible everywhere):
    component i of plane p = sin(1e4 · (p·dim + i + 1))."""
    return [math.sin(1e4 * (plane_idx * dim + i + 1)) for i in range(dim)]


def lsh_signature(
    vec: Column, dim: int, n_planes: int = 12, plane_offset: int = 0
) -> Column:
    """Random-hyperplane (SimHash) bucket signature: bit p = sign of
    ⟨vec, plane_{offset+p}⟩. Cosine-similar vectors collide with
    probability (1 − θ/π)^n_planes per table."""
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, plane_offset + p)])
        bits.append(F.when(dot(vec, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def _plane_matrix(dim: int, n_total: int):
    return np.array(
        [_hyperplane(dim, p) for p in range(n_total)], dtype="float64"
    ).T  # (dim, n_total)


def _tagged_signatures_udf(dim: int, n_planes: int, n_tables: int, multiprobe: bool):
    """Arrow-batched signature computation: one numpy matmul per
    batch produces all tables' bits at once; output per vector is the
    list of "table|signature" bucket tags (plus 1-bit-flip probe tags
    when ``multiprobe``). This keeps the hyperplane constants OUT of
    the Catalyst plan (40 planes × 64 dims as literals made planning
    itself the bottleneck) and replaces interpreted per-plane
    aggregates with vectorized BLAS."""
    from pyspark.sql.functions import pandas_udf

    planes = _plane_matrix(dim, n_planes * n_tables)

    @pandas_udf("array<string>")
    def tags(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy())  # (n, dim)
        bits = (M @ planes) >= 0  # (n, n_tables*n_planes)
        out = []
        for row in bits:
            row_tags = []
            for t in range(n_tables):
                sig = "".join("1" if b else "0" for b in row[t * n_planes : (t + 1) * n_planes])
                row_tags.append(f"{t}|{sig}")
                if multiprobe:
                    for p in range(n_planes):
                        flipped = sig[:p] + ("0" if sig[p] == "1" else "1") + sig[p + 1 :]
                        row_tags.append(f"{t}|{flipped}")
            out.append(row_tags)
        return pd.Series(out)

    return tags


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization —
    the other standard ANN scale path next to ``knn_lsh``.

    Train: k-means (MLlib, fixed seed) partitions the corpus into
    ``n_cells`` Voronoi cells; each corpus vector is assigned to its
    nearest centroid — an inverted index cell.
    Search: each query probes its ``n_probe`` nearest centroids; the
    candidate set is an equi-join on cell id; exact cosine re-ranks.

    Scale: corpus assignment is one MLlib transform (a scan);
    candidates ∝ |corpus| × n_probe / n_cells per query instead of
    |corpus|. At 100 TB you'd train on a sample (KMeans already
    does), persist assignments partitioned BY cell, and the probe
    join prunes whole partitions. Recall tunes with n_probe/n_cells.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.functions import pandas_udf

    # do NOT materialize `c` here — measured (sf0.01) that
    # persisting changes the cached frame's partition layout, and
    # MLlib KMeans' seeded kmeans|| init is partition-sensitive, so
    # the centroids (hence cells, hence top-k) CHANGE. The duplicate
    # source scan (fit + transform) is the price of bit-stable
    # centroids; the source is a column-pruned parquet scan.
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_fv", array_to_vector(F.col("_cv")))
    km = KMeans(k=n_cells, seed=seed, maxIter=10, featuresCol="_fv").fit(c)
    centers = np.stack([np.asarray(ctr) for ctr in km.clusterCenters()])  # (K, dim)

    cd = km.transform(c).select(
        "neighbor_id", "_cv", F.col(km.getPredictionCol()).alias("_cell")
    )

    probe_cells = _probe_cells_udf(centers, n_probe)
    qd = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_cell", F.explode(probe_cells(F.col("_qv"))))
    cands = cd.join(F.broadcast(qd), "_cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cands.withColumn(
        "score", cosine(F.col("_qv"), F.col("_cv"))
    ).select("query_id", "neighbor_id", "score")
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "rank")


def _probe_cells_udf(centers: "np.ndarray", n_probe: int):
    """Arrow-batched (vectors → n_probe nearest centroid ids)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probe_cells(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy())  # (n, dim)
        # squared L2 to each centroid: ||q||² − 2q·c + ||c||²
        d2 = (
            (M * M).sum(1, keepdims=True)
            - 2.0 * (M @ centers.T)
            + (centers * centers).sum(1)
        )
        order = np.argsort(d2, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probe_cells


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 7,
) -> None:
    """Persist the IVF layout ``knn_ivf``'s docstring promises:
    ``<path>/index`` holds (id, vector, cell) PARTITIONED BY cell —
    one directory per Voronoi cell — and ``<path>/centroids`` the
    n_cells centroid rows.

    Why this is the billion-vector shape: a probe's ``cell IN (…)``
    predicate becomes a PARTITION filter on the index scan, so Spark
    never lists or reads the unprobed directories — probing 4 of 256
    cells reads ~1.6 % of the bytes (asserted plan-level in
    tests/test_llm.py). ``repartition("cell")`` before ``partitionBy``
    keeps it one file per cell instead of tasks×cells fragments
    (same rationale as ``io.write_partitioned``).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias(vec_col)
    ).withColumn("_fv", array_to_vector(F.col(vec_col)))
    km = KMeans(k=n_cells, seed=seed, maxIter=10, featuresCol="_fv").fit(c)
    assigned = km.transform(c).select(
        id_col, vec_col, F.col(km.getPredictionCol()).alias("cell")
    )
    (
        assigned.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/index")
    )
    centers = [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(km.clusterCenters())
    ]
    spark.createDataFrame(centers, "cell int, center array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_probe_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedupe_ids: bool = False,
) -> DataFrame:
    """Top-k search against a persisted ``ivf_write_index`` layout.

    The probed-cell set is computed from the QUERY batch (the small,
    broadcast side by contract) and collected — it is bounded by
    n_cells ids, metadata-sized, never corpus-sized — so it can be
    planted into the scan as a static ``cell IN (…)`` partition
    filter: directory-level pruning visible in the plan's
    ``PartitionFilters``, independent of runtime DPP heuristics.
    Candidates then equi-join on cell against the broadcast tagged
    queries; exact cosine re-ranks (same contract as ``knn_ivf``).

    ``dedupe_ids`` drops duplicate ``id_col`` rows from the pruned
    scan before the join — the streaming ``IvfIndexSink`` sets it to
    heal torn-append replay duplicates (bit-identical rows under its
    fixed-centroid contract, so keep-any is exact). A batch-built
    index has no duplicates; the default skips the extra exchange.
    """
    from tidb_cdc_spark.session import materialize

    crows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    centers = np.stack([np.asarray(r.center) for r in crows])
    probe_cells = _probe_cells_udf(centers, n_probe)
    # materialized: the tagged query frame feeds the probed-cell
    # collect AND the candidate join — without this the Arrow-batched
    # probe UDF runs twice over the query batch
    qd = materialize(
        queries.select(
            F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
        ).withColumn("_cell", F.explode(probe_cells(F.col("_qv"))))
    )
    # distinct probed cells: ≤ n_cells values (index metadata, not data)
    probed = sorted(r._cell for r in qd.select("_cell").distinct().collect())
    # listing-free scan when the index has a manifest (the streaming
    # IvfIndexSink maintains one; a batch-built index reads the
    # classic way): probed cells resolve to explicit file paths, so
    # the probe never lists the cell directories
    from tidb_cdc_spark.manifest import _manifest_pruned_scan

    idx = _manifest_pruned_scan(spark, f"{path}/index", "cell", probed)
    if idx is None:
        idx = spark.read.parquet(f"{path}/index").filter(
            F.col("cell").isin(probed)
        )
    scan = (
        idx
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            F.col("cell").alias("_cell"),
        )
    )
    if dedupe_ids:
        # pruned-subset-sized exchange only (probed cells, not corpus)
        scan = scan.dropDuplicates(["neighbor_id"])
    cands = scan.join(F.broadcast(qd), "_cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cands.withColumn(
        "score", cosine(F.col("_qv"), F.col("_cv"))
    ).select("query_id", "neighbor_id", "score")
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "rank")


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    n_tables: int = 4,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: OR of ``n_tables`` hash tables, each an
    ``n_planes``-bit hyperplane signature; candidates = bucket
    collisions (ONE equi-join on the "table|signature" tag), then
    exact cosine rank.

    ``multiprobe`` also probes every 1-bit-flip bucket of each QUERY
    signature — the standard trick that buys recall without more
    corpus-side state.

    Scale: replaces the O(|Q|·|C|) cross join with one equi-join
    whose build side is the (broadcast) tagged query set — shuffle ∝
    collisions, not corpus size; signature computation is a
    vectorized Arrow batch per partition. Recall tunes with
    (n_planes, n_tables, multiprobe).
    """
    qtags = _tagged_signatures_udf(dim, n_planes, n_tables, multiprobe)
    ctags = _tagged_signatures_udf(dim, n_planes, n_tables, multiprobe=False)
    qd = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("_qv")
    ).withColumn("_tag", F.explode(qtags(F.col("_qv"))))
    cd = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("_cv")
    ).withColumn("_tag", F.explode(ctags(F.col("_cv"))))
    cands = cd.join(F.broadcast(qd), "_tag").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # score BEFORE the pair-dedup exchange — the
    # cosine is a pure function of the pair (every multi-table
    # duplicate row carries the same two vectors, so the same exact
    # double), and computing it map-side means the dropDuplicates
    # shuffle carries (query, neighbor, score) ≈ 24 B/row instead of
    # both dim-sized vectors (~1 KB/row at dim=64). The extra cost is
    # one codegen'd dot product per duplicate collision row — noise
    # next to the bytes saved.
    scored = (
        cands.withColumn("score", cosine(F.col("_qv"), F.col("_cv")))
        .select("query_id", "neighbor_id", "score")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("score").desc(), F.col("neighbor_id").asc()],
        k,
        rank_col="rank",
    ).select("query_id", "neighbor_id", "rank")


def retrieval_metrics(
    results: DataFrame,
    gold: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query retrieval-quality metrics — the EVAL side of the
    retrieval surface (standard IR measures, e.g. Manning et al.,
    "Introduction to Information Retrieval" — public literature) in
    exact integer µ-units so the whole scorecard is hash-exact:

    - ``n_gold``        relevant docs for the query (from ``gold``)
    - ``hits_at_k``     retrieved ranks ≤ k that are relevant
    - ``first_hit_rank`` best relevant rank (0 = no hit)
    - ``rr_mu``         reciprocal rank, PPM div first_hit_rank
    - ``recall_mu``     hits·PPM div min(k, n_gold) — the bounded
      form: a query with more relevant docs than k is not penalized
      for the physically impossible ones

    Queries present in ``gold`` but retrieving nothing still get a
    zero row (left join from the gold side), so a broken retriever
    cannot inflate its mean by vanishing.

    Scale: two id-only joins (results⋈gold on (query, doc), then
    gold-counts) and one per-query aggregate — nothing embedding-
    sized moves. Corpus-level MRR/recall roll up from this table
    with one more 1-row aggregate (sums and counts — associative)."""
    r = results.select(
        F.col(query_col).alias("_q"),
        F.col(doc_col).alias("_d"),
        F.col(rank_col).alias("_r"),
    ).filter(F.col("_r") <= k)
    g = gold.select(
        F.col(query_col).alias("_q"), F.col(doc_col).alias("_d")
    ).distinct()
    n_gold = g.groupBy("_q").agg(F.count(F.lit(1)).alias("n_gold"))
    hits = r.join(g, ["_q", "_d"]).groupBy("_q").agg(
        F.count(F.lit(1)).alias("hits_at_k"),
        F.min("_r").alias("_first"),
    )
    return (
        n_gold.join(hits, "_q", "left")
        .select(
            F.col("_q").alias(query_col),
            "n_gold",
            F.coalesce("hits_at_k", F.lit(0))
            .cast("long")
            .alias("hits_at_k"),
            F.coalesce("_first", F.lit(0))
            .cast("long")
            .alias("first_hit_rank"),
            F.when(
                F.col("_first").isNotNull(),
                F.expr("1000000L div _first"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("rr_mu"),
            F.expr(
                f"(coalesce(hits_at_k, 0L) * 1000000L) div "
                f"least(CAST({k} AS BIGINT), n_gold)"
            )
            .cast("long")
            .alias("recall_mu"),
        )
    )
