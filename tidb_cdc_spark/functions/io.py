"""Corpus output layout — the write side of a 100 TB pipeline.

A naive ``df.write.partitionBy(...)`` lets EVERY task write into
EVERY partition directory: with 10 000 tasks × 1 000 partitions
that is ten million small files — the classic layout failure that
cripples every downstream scan. The fix is standard and cheap:
repartition by the partition columns first (each directory is then
written by as few tasks as hold its data), bound file size with
``maxRecordsPerFile``, and sort within partitions so parquet
row-group min/max statistics actually prune on the sort key.

``write_corpus`` applies all three; ``corpus_layout_stats`` reads
the result back and reports per-partition file/row counts — the
audit a pipeline gates on before registering the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: list[str] | tuple[str, ...] = ("source",),
    sort_within: list[str] | tuple[str, ...] = (),
    max_records_per_file: int = 1_000_000,
    mode: str = "error",
) -> None:
    """Write ``df`` as a partitioned parquet corpus with a sane file
    layout (see module docstring). ``sort_within`` columns order
    rows inside each task's output so row-group stats prune."""
    cols = [F.col(c) for c in partition_by]
    out = df.repartition(*cols)
    if sort_within:
        out = out.sortWithinPartitions(*partition_by, *sort_within)
    (
        out.write.mode(mode)
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .parquet(path)
    )


# ------------------------------------------------------------------
# Z-order (Morton-curve) layout: multi-dimensional pruning.
#
# Sorting a table by ONE column makes parquet min/max stats prune on
# that column only; a 100 TB table queried by BOTH user and time
# needs a layout where every file covers a small range of EACH
# dimension. Interleaving the bits of the two keys (Morton / Z-order
# code) and range-partitioning + sorting on the code gives every
# file a compact rectangle in (x, y) space — the same layout trick
# Delta/Iceberg OPTIMIZE ZORDER applies. ``morton_z2`` is the code,
# as pure-codegen bit expressions; ``events_zorder_buckets`` pins it
# bit for bit against the oracle.
# ------------------------------------------------------------------

#: (shift, mask) steps spreading the low 16 bits of a long so bit i
#: lands at bit 2i (classic magic-number bit dilation).
_SPREAD16 = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def _spread16(v):
    v = v.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD16:
        v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
    return v


def morton_z2(x, y):
    """32-bit Z-order code of two non-negative columns (low 16 bits
    each): x occupies even bits, y odd bits. Pure integer codegen —
    identical arithmetic is expressible in any engine, so oracle
    queries can pin it bit-for-bit."""
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1))


def corpus_layout_stats(
    spark: SparkSession, path: str, partition_by: list[str] | tuple[str, ...] = ("source",)
) -> DataFrame:
    """(partition cols…, n_files, n_rows, rows_per_file_min/max) —
    the post-write layout audit. Uses the parquet file-name metadata
    column; one scan, one map-side-combining aggregate."""
    df = spark.read.parquet(path).withColumn(
        "_file", F.input_file_name()
    )
    per_file = df.groupBy(*partition_by, "_file").agg(
        F.count(F.lit(1)).alias("_rows")
    )
    return per_file.groupBy(*partition_by).agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("_rows").cast("long").alias("n_rows"),
        F.min("_rows").cast("long").alias("rows_per_file_min"),
        F.max("_rows").cast("long").alias("rows_per_file_max"),
    )


def write_training_shards(
    docs: DataFrame,
    path: str,
    budget: int = 2048,
    n_shards: int = 8,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    mode: str = "error",
) -> None:
    """Materialize the training layout ``packing.pack_chunks`` plans:
    the corpus partitioned into ``n_shards`` directories a trainer's
    data loader reads independently (one partition-pruned directory
    scan per worker), each shard's documents sorted by their global
    stream offset.

    Shard assignment is ``xxhash64(chunk_first) mod n_shards`` — a
    hash of the chunk index, NOT ``chunk_first mod n`` directly: a
    plain modulus degenerates when document lengths are systematic
    (e.g. every doc exactly 2×budget tokens ⇒ chunk_first always
    even ⇒ half the shards never written and the loader's workers
    starve). The hash mixes any length pattern into a statistically
    token-balanced assignment while staying a pure function of the
    pack layout (reproducible; a re-run with the same corpus writes
    identical shards). Documents stay WHOLE in their first chunk's
    shard; the loader's concat-and-chunk handles the (≤ budget-token)
    tail a document carries past its last full chunk, exactly as in
    single-machine packing. Zero-token documents go to shard 0.
    """
    from tidb_cdc_spark.functions.packing import pack_chunks

    layout = pack_chunks(
        docs.select(id_col, tokens_col), budget, id_col, tokens_col
    ).select(id_col, "start_tok", "chunk_first")
    # explicit NULL branch: xxhash64 does NOT return NULL on NULL
    # input (it hashes to the seed-derived value), so a coalesce
    # fallback would be dead code and zero-token docs would land in
    # an arbitrary-but-fixed shard instead of shard 0
    out = docs.join(layout, id_col).withColumn(
        "shard",
        F.when(F.col("chunk_first").isNull(), F.lit(0))
        .otherwise(F.pmod(F.xxhash64(F.col("chunk_first")), F.lit(n_shards)))
        .cast("int"),
    )
    write_corpus(
        out,
        path,
        partition_by=("shard",),
        sort_within=("start_tok",),
        mode=mode,
    )
