"""Type-2 slowly-changing-dimension history from a CDC change
stream: every change becomes a versioned row with a
``[valid_from, valid_to)`` validity interval; a delete closes the
previous version's interval without opening a new one.

The reference applies changes only as latest-wins upserts through
user handlers (cdc_manager.go:43-47 — no history surface); SCD2 is
the standard warehouse consumer of exactly this change feed, so the
engine ships it as a first-class operator next to
``apply.conflate_latest``.

Plan shape: ONE hash exchange on the primary key serves both window
passes (version ordinal + interval close via ``lead``) — the minimal
movement for per-key ordered semantics. State per row is O(1); no
unbounded frames. At 100 TB of backlog the cost is the one shuffle
of the change log, same as conflation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tidb_cdc_spark.cdc.schema import CDCType
from tidb_cdc_spark.cdc.spec import TableSpec


def scd2_history(
    changes: DataFrame,
    spec: TableSpec,
    ts_col: str = "ts",
    seq_col: str = "_seq",
) -> DataFrame:
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
        *[
            F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
            for c in pk
        ],
        "op",
        F.col(ts_col).alias("valid_from"),
        F.col(seq_col).alias("__seq"),
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


def merge_scd2_split(
    head: DataFrame | None,
    changes: DataFrame,
    spec: TableSpec,
    ts_col: str = "ts",
    seq_col: str = "_seq",
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Incrementally maintain a Type-2 SCD table with one micro-batch
    of typed changes — the ``foreachBatch`` body of
    ``Scd2SplitHistorySink``: ``(new_head, newly_closed,
    batch_handles)``.

    ``head`` holds exactly ONE row per key ever seen — the key's
    LATEST version (open, or closed by a delete with no successor).
    The invariant makes ``head.version`` the per-key version counter
    (no max() over full history needed) and makes every other
    history row immutable forever, so a sink can keep them in an
    append-only store: per-batch write cost is ∝ batch + live
    keyspace, NOT ∝ accumulated history.

    Contract (pinned by tests): if batches partition the change log
    respecting per-key (ts, seq) order (the CDC dispatch-key
    guarantee), then folding them through this function and unioning
    ``new_head`` with all emitted ``newly_closed`` rows equals
    ``scd2_history`` over the whole log.

    Execution shape: exactly TWO heavy passes per batch, each
    materialized once — the persisted frames come back as the THIRD
    tuple element, which the caller MUST unpersist after its writes
    (an explicit return, not a dynamic attribute: any DataFrame
    transformation silently drops an attribute, and a caller that
    never learns the handles exist leaks two DISK_ONLY blocks per
    batch, unbounded across a streaming fold) —
    (1) ``shifted``: the batch's SCD2
    windows + one left join against head for the version shift and
    the per-key max; (2) ``labeled``: ONE pass over head left-joined
    with the batch's per-key (first_ts, emitted) summary. Everything
    the caller writes is a filter/union over those two, so a sink's
    single partitioned write re-executes nothing — an earlier
    formulation with per-output joins re-ran the JSON parse 3×.
    """
    from tidb_cdc_spark.session import materialize

    pk = spec.pk_columns
    mxw = Window.partitionBy(*pk)

    if head is None:
        batch = materialize(
            scd2_history(changes, spec, ts_col, seq_col).withColumn(
                "_mx", F.max("version").over(mxw)
            )
        )
        h0 = batch.filter(F.col("version") == F.col("_mx")).drop("_mx")
        c0 = batch.filter(F.col("version") < F.col("_mx")).drop("_mx")
        # a streaming sink folding thousands of batches must release
        # each batch's persisted blocks once its writes are done
        return h0, c0, [batch]

    # pass 1 — version-shifted batch rows + per-key max (ONE window
    # over the already-pk-partitioned SCD2 output: no extra exchange)
    shifted = materialize(
        scd2_history(changes, spec, ts_col, seq_col)
        .join(head.select(*pk, F.col("version").alias("_v0")), pk, "left")
        .withColumn(
            "version", F.col("version") + F.coalesce(F.col("_v0"), F.lit(0))
        )
        .drop("_v0")
        .withColumn("_mx", F.max("version").over(mxw))
    )
    batch_head = shifted.filter(F.col("version") == F.col("_mx")).drop("_mx")
    batch_closed = shifted.filter(F.col("version") < F.col("_mx")).drop("_mx")

    # pass 2 — ONE pass over head: touched? emitted? Close the open
    # interval of every touched head at the batch's first change ts
    # (delete-closed heads keep their valid_to).
    summary = (
        changes.select(
            *[
                F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c)
                for c in pk
            ],
            F.col(ts_col).alias("_bts"),
        )
        .groupBy(*pk)
        .agg(F.min("_bts").alias("_first_ts"))
        .join(
            batch_head.select(*pk, F.lit(True).alias("_emitted")), pk, "left"
        )
    )
    labeled = materialize(
        head.join(summary, pk, "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("_first_ts").isNotNull() & F.col("is_current"),
                F.col("_first_ts"),
            ).otherwise(F.col("valid_to")),
        )
        .withColumn("is_current", F.col("valid_to").isNull())
    )
    untouched_or_kept = labeled.filter(
        F.col("_first_ts").isNull() | F.col("_emitted").isNull()
    ).drop("_first_ts", "_emitted")
    # touched heads SUPERSEDED by an emitted version move to the
    # closed store; delete-only keys keep their (closed) head row in
    # place — it still carries the key's version counter
    superseded = labeled.filter(
        F.col("_first_ts").isNotNull() & F.col("_emitted").isNotNull()
    ).drop("_first_ts", "_emitted")
    new_head = untouched_or_kept.unionByName(batch_head)
    return new_head, batch_closed.unionByName(superseded), [shifted, labeled]
