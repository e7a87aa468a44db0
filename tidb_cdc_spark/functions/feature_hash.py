"""Feature hashing ("the hashing trick", Weinberger et al., ICML'09)
— fixed-dimension term-frequency vectors for documents WITHOUT a
vocabulary or a model: bucket = hash(term) mod dim. The standard
bridge that lets the embedding-space operators (SemDeDup, PCA, knn)
run over raw text when no learned embeddings exist yet, and the
cheapest document representation a 100 TB curation pass can afford.

Cross-engine contract: the bucket hash is the repo's md5 sampling
hash (``sampling.hash_bucket`` — first 4 bytes of md5), NOT
xxhash64, so the sparse (doc, bucket, tf) table is bit-reproducible
in any engine and fully ORACLE-CHECKABLE (DuckDB recomputes the
same buckets; see ``queries/corpus.py``). Tokenization is the repo
standard: split on whitespace, lowercase, drop empties (identical
to the unigram-surprisal / token-count convention).

Plan shape: tokenize+hash is codegen over the scan; the sparse
vector is one map-side-combining (doc, bucket) count — ≤ dim rows
per doc move. Densify only where a vector op needs arrays (one
Arrow-batched pass over collect_list output, clustered on the same
doc key — no extra shuffle after the count).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.functions.sampling import hash_bucket


def hashed_tf(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse hashed TF: (id, bucket, tf) with bucket ∈ [0, dim) —
    integral, order-independent, engine-reproducible."""
    tok = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_t"),
    ).filter(F.col("_t") != "")
    return (
        tok.withColumn("bucket", F.pmod(hash_bucket(F.col("_t")), F.lit(dim)).cast("int"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def hashed_tf_dense(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "embedding",
) -> DataFrame:
    """Dense hashed-TF vectors (id, ``out_col`` array<double>) — the
    drop-in input for semantic_dedup / fit_pca / knn over raw text.
    Identical texts densify to identical vectors (pure function of
    the token multiset)."""
    from pyspark.sql.functions import pandas_udf

    sparse = hashed_tf(docs, dim, id_col, text_col)
    pairs = sparse.groupBy(id_col).agg(
        F.collect_list(F.struct("bucket", "tf")).alias("_p")
    )

    @pandas_udf("array<double>")
    def densify(p: pd.Series) -> pd.Series:
        out = []
        for entries in p:
            v = np.zeros(dim)
            for e in entries:
                v[e["bucket"]] = float(e["tf"])
            out.append(v.tolist())
        return pd.Series(out)

    return pairs.select(F.col(id_col), densify(F.col("_p")).alias(out_col))
