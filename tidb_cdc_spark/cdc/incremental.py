"""Incremental aggregate maintenance — apply a CDC change batch to a
materialized per-key aggregate WITHOUT recomputing it from the base
table (the "materialized view maintenance" every CDC consumer
eventually builds by hand; the reference leaves it to handler
callbacks, `cdc_manager.go:43-47`).

Net effect per change row on a (count, sum) aggregate:

    insert  → (+1, +after.value)
    delete  → (−1, −before.value)
    update  → ( 0, after.value − before.value)

The delta aggregate is one map-side-combining groupBy over the
change batch (shuffle ∝ distinct keys touched, not batch size —
same argument as the `max_by` conflation in cdc/apply.py), and the
merge is a full-outer join of two aggregates. At 100 TB base /
small delta this is the whole point: cost scales with the DELTA.

Sum arithmetic is decimal (exact, order-independent) per the repo's
events_hourly convention; callers cast to double at the edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.cdc.schema import change_image

#: exact accumulator type for value sums (matches events_hourly).
_DEC = "decimal(18,2)"
#: the maintained aggregate's count and sum columns
COUNT_COL, SUM_COL = "n", "total"


def agg_delta(
    changes: DataFrame,
    key: str,
    value_field: str,
) -> DataFrame:
    """(key, d_count, d_sum) net effect of a parsed CDC batch
    (``parse_cdc`` output: op / before / after structs) on a
    per-key (count, sum(value)) aggregate."""
    after_v = F.col(f"after.{value_field}").cast(_DEC)
    before_v = F.col(f"before.{value_field}").cast(_DEC)
    zero = F.lit(0).cast(_DEC)
    d_count = (
        F.when(F.col("op") == "insert", 1)
        .when(F.col("op") == "delete", -1)
        .otherwise(0)
    )
    d_sum = (
        F.when(F.col("op") == "insert", after_v)
        .when(F.col("op") == "delete", -before_v)
        .otherwise(after_v - before_v)
    )
    return (
        changes.select(
            *change_image([key]),
            d_count.alias("_dc"),
            F.coalesce(d_sum, zero).alias("_ds"),
        )
        .groupBy(key)
        .agg(
            F.sum("_dc").cast("long").alias("d_count"),
            F.sum("_ds").cast(_DEC).alias("d_sum"),
        )
    )


def merge_agg(base: DataFrame, delta: DataFrame, key: str) -> DataFrame:
    """Merge a delta aggregate into the base aggregate
    (``key, n, total``): full-outer on the key, components added,
    keys whose count reaches 0 dropped (fully deleted). Both inputs
    are aggregates — at scale this join is keyed and slim (no raw
    rows)."""
    b = base.select(
        F.col(key),
        F.col(COUNT_COL).alias("_bn"),
        F.col(SUM_COL).cast(_DEC).alias("_bs"),
    )
    d = delta.select(
        F.col(key),
        F.col("d_count").alias("_dn"),
        F.col("d_sum").alias("_ds"),
    )
    zero = F.lit(0).cast(_DEC)
    merged = (
        b.join(d, key, "full_outer")
        .select(
            key,
            (F.coalesce("_bn", F.lit(0)) + F.coalesce("_dn", F.lit(0)))
            .cast("long")
            .alias(COUNT_COL),
            (F.coalesce(F.col("_bs"), zero) + F.coalesce(F.col("_ds"), zero))
            .cast(_DEC)
            .alias(SUM_COL),
        )
        .filter(F.col(COUNT_COL) > 0)
    )
    return merged
