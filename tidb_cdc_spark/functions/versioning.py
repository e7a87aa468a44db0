"""Corpus snapshot diff — what changed between two corpus versions
(the batch twin of the CDC surface: where cdc/apply.py replays a
change stream into a snapshot, this derives the change set FROM two
snapshots).

A training pipeline re-crawls and re-filters; before re-training it
wants the delta: which documents appeared, vanished, or changed
content — that drives incremental dedup/embedding runs instead of
full reprocessing.

Scale shape (100 TB): both sides project to (id, fingerprint) —
~24 B/row — before the full-outer equi-join on id; the join
shuffles only those slim projections, never document bodies. Status
classification is a codegen CASE over the joined nulls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, status, old_fp, new_fp) for every document in either
    snapshot; ``status`` ∈ added | removed | changed | unchanged.
    Content identity is md5 of the text (engine-portable)."""
    o = old.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("old_fp")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("new_fp")
    )
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select("id", status.alias("status"), "old_fp", "new_fp")


