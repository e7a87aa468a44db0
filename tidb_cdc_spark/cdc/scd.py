"""Type-2 slowly-changing-dimension history from a CDC change
stream: every change becomes a versioned row with a
``[valid_from, valid_to)`` validity interval; a delete closes the
previous version's interval without opening a new one.

The reference applies changes only as latest-wins upserts through
user handlers (cdc_manager.go:43-47 — no history surface); SCD2 is
the standard warehouse consumer of exactly this change feed, so the
engine ships it as a first-class operator next to
``apply.conflate_latest``.

``scd2_history`` replays a whole change log; ``label_scd2_split``
folds one micro-batch into a store split into a per-key head and
append-only closed rows (``Scd2SplitHistorySink``). Both are one
hash exchange on the primary key feeding per-key windows (version
ordinal + interval close via ``lead``) — the minimal movement for
per-key ordered semantics, with O(1) state per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_cdc_spark.cdc.schema import SEQ_COL, TS_COL, CDCType, change_image
from tidb_cdc_spark.cdc.spec import TableSpec


def scd2_history(changes: DataFrame, spec: TableSpec) -> DataFrame:
    """Versioned history rows from typed change rows (the
    ``parse_cdc`` output schema ``op, ts, _seq, before, after``).

    Output: PK columns, the after-image attributes, ``version`` (the
    per-key ordinal among EMITTED versions — deletes close intervals
    but do not consume an ordinal, so ``version`` is "the nth visible
    version of this entity" and ``merge_scd2_split`` can continue the
    numbering from the key's head version), ``valid_from`` / ``valid_to``
    (the ts of this change / the next change of ANY kind on the key,
    null while open), ``is_current``.
    """
    pk = spec.pk_columns
    if not pk:
        raise ValueError(f"spec {spec.table} has no primary key")
    keyed = changes.select(
        *change_image(pk),
        "op",
        F.col(TS_COL).alias("valid_from"),
        F.col(SEQ_COL).alias("__seq"),
        F.col("after").alias("__after"),
    )
    w = Window.partitionBy(*pk).orderBy("valid_from", "__seq")
    attrs = [c.target for c in spec.resolved_columns() if not c.pk]
    live = F.when(F.col("op") != CDCType.DELETE, F.lit(1)).otherwise(F.lit(0))
    return (
        keyed.withColumn("valid_to", F.lead("valid_from").over(w))
        .withColumn(
            "version",
            F.sum(live)
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .filter(F.col("op") != CDCType.DELETE)
        .select(
            *pk,
            *[F.col(f"__after.{a}").alias(a) for a in attrs],
            "version",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def label_scd2_split(
    head: DataFrame | None, changes: DataFrame, spec: TableSpec
) -> DataFrame:
    """One micro-batch of typed changes merged into a split SCD2
    store's ``head`` (None for an empty store): the ``scd2_history``
    columns plus a boolean ``__head`` label — True for the key's new
    head row, False for a row that moves to the append-only closed
    store.

    ``head`` holds exactly ONE row per key ever seen: its LATEST
    version, open or closed by a delete with no successor. So
    ``head.version`` is the key's version counter, and a row once
    closed never changes again.

    One window over ``head ∪ batch``, partitioned by the PK and
    ordered by ``(src, valid_from, seq)``, where head rows have
    ``src = 0`` and sort first:

    - ``valid_to = lead(valid_from)``, except that a head row a
      delete already closed keeps its ``valid_to``;
    - ``version`` is a running sum: a head row adds its ``version``,
      a live change 1, a delete 0;
    - deletes are dropped, then ``is_current = valid_to IS NULL``;
    - ``__head = (version = max(version))`` over the key.

    Invariants (pinned by the fold tests): the labelled heads are
    again one row per key, and if batches partition the change log
    respecting per-key ``(ts, seq)`` order (the CDC dispatch-key
    guarantee), the last fold's heads plus every fold's closed rows
    equal ``scd2_history`` over the whole log. One PK exchange per
    batch, ∝ batch + live keyspace, not accumulated history.
    """
    pk = spec.pk_columns
    if not pk:
        raise ValueError(f"spec {spec.table} has no primary key")
    attrs = [c.target for c in spec.resolved_columns() if not c.pk]
    rows = changes.select(
        *change_image(pk),
        *[F.col(f"after.{a}").alias(a) for a in attrs],
        F.lit(1).alias("__src"),
        F.col("op").alias("__op"),
        F.col(TS_COL).alias("valid_from"),
        F.col(SEQ_COL).alias("__seq"),
        F.lit(None).cast(changes.schema[TS_COL].dataType).alias("valid_to"),
        (F.col("op") != CDCType.DELETE).cast("long").alias("version"),
    )
    if head is not None:
        rows = rows.unionByName(
            head.withColumn("__src", F.lit(0)), allowMissingColumns=True
        )
    w = Window.partitionBy(*pk).orderBy("__src", "valid_from", "__seq")
    # only a delete-closed head row arrives with a valid_to
    return (
        rows.withColumn(
            "valid_to", F.coalesce("valid_to", F.lead("valid_from").over(w))
        )
        .withColumn(
            "version",
            F.sum("version")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .filter(~F.col("__op").eqNullSafe(CDCType.DELETE))
        .select(
            *pk,
            *attrs,
            "version",
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            (F.col("version") == F.max("version").over(Window.partitionBy(*pk)))
            .alias("__head"),
        )
    )


def merge_scd2_split(
    head: DataFrame | None, changes: DataFrame, spec: TableSpec
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """``label_scd2_split`` as ``(new_head, newly_closed, handles)``:
    the two filters of the one labelled frame. Nothing is persisted,
    so ``handles`` is always empty; it stays for callers that unpack
    three values."""
    labelled = label_scd2_split(head, changes, spec)
    return (
        labelled.filter("__head").drop("__head"),
        labelled.filter(~F.col("__head")).drop("__head"),
        [],
    )
