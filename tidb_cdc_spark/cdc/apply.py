"""Apply semantics: change stream → materialized current-state table.

The correctness contract the reference never tests (its handlers are
user code, SURVEY §5): the final table equals the ops applied in
(ts, seq) order per primary key. Implemented as two classic
Spark patterns:

1. **Conflation** — latest row per PK via ``max_by`` hash
   aggregation keyed on ``(ts, seq)``. Chosen over the classic
   ``row_number`` window because a hash aggregate gets MAP-SIDE
   partial aggregation: each input partition reduces to one row per
   locally-seen PK before the shuffle, so shuffled bytes ≈ distinct
   PKs touched, not total change volume — the difference between
   shuffling 100 TB of backlog and shuffling the table's keyspace.
   A window would shuffle + sort every change row. Hot-key skew
   (one PK updated millions of times) is absorbed map-side for the
   same reason.
2. **Merge** — anti-join the base snapshot against the batch's own
   keys (``batch_keys``: ``coalesce(after.pk, before.pk)`` projected
   straight from the change rows), then union the surviving upserts.
   Every key in the batch is touched, so this is the conflated key
   set without an aggregate of its own: a left-anti join keeps a base
   row iff no key matches it, whatever the duplicates on the key side
   (the broadcast relation drops them), and conflation runs once, for
   the upserts only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.cdc.schema import SEQ_COL, TS_COL, CDCType, change_image
from tidb_cdc_spark.cdc.spec import TableSpec


def align_to_spec(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Project ``df`` onto the spec's resolved columns: surviving
    columns cast explicitly to the spec dtype (a no-op cast is
    eliminated by Catalyst), missing columns backfilled as typed
    NULL. Used for pre-evolution snapshot bases and for bootstrap
    seeds — one definition, so the two cannot drift."""
    return df.select(
        *[
            (
                F.col(c.source).cast(c.dtype)
                if c.source in df.columns
                else F.lit(None).cast(c.dtype)
            ).alias(c.source)
            for c in spec.resolved_columns()
        ]
    )


def batch_keys(changes: DataFrame, pk_cols: list[str]) -> DataFrame:
    """The PKs a batch touches, one row per change row (duplicates
    kept): the key side of the merge's anti-join. Its distinct rows
    are exactly ``conflate_latest(changes, pk_cols)``'s ``_pk``."""
    return changes.select(*change_image(pk_cols))


def conflate_latest(changes: DataFrame, pk_cols: list[str]) -> DataFrame:
    """Latest change per PK: ``max_by(row, (ts, seq))`` — equivalent
    to rank-1 of a window ordered by (ts desc, seq desc), but as a
    hash aggregate with map-side combine (see module docstring).
    PK columns are read from the change's image (``change_image``).
    """
    keyed = changes.withColumn("_pk", F.struct(*change_image(pk_cols)))
    payload = [c for c in keyed.columns if c != "_pk"]
    # struct comparison is lexicographic → (ts, seq) ordering
    top = keyed.groupBy("_pk").agg(
        F.max_by(
            F.struct(*payload), F.struct(F.col(TS_COL), F.col(SEQ_COL))
        ).alias("_top")
    )
    return top.select(*[F.col(f"_top.{c}").alias(c) for c in payload], "_pk")


def apply_changes(
    base: DataFrame | None,
    changes: DataFrame,
    spec: TableSpec,
) -> DataFrame:
    """Merge a micro-batch (or backlog) of typed change rows into a
    snapshot. Idempotent: replaying the same batch yields the same
    snapshot (the MERGE is keyed on PK, latest-wins) — which is what
    upgrades Structured Streaming's at-least-once replay into
    effectively-exactly-once (SURVEY §2 op #15).

    ``base = None`` builds the snapshot from the change stream alone.

    Schema evolution: the snapshot follows the CURRENT spec — a base
    written under an older spec is aligned column-by-column before
    the merge (columns the spec added read NULL for pre-evolution
    rows, columns it dropped disappear at the next merge), so a
    connector restarted with an evolved spec continues from the same
    snapshot and checkpoint (see ``TableSpec.evolve``).
    """
    pk = spec.pk_columns
    if not pk:
        raise ValueError(f"spec {spec.table} has no primary key")
    latest = conflate_latest(changes, pk)
    upserts = latest.filter(F.col("op") != CDCType.DELETE).select("after.*")
    if base is None:
        return upserts
    # Align the base to the CURRENT spec unconditionally: gating on
    # column-SET mismatch would make a same-names/wider-type evolve
    # rely on union's implicit type coercion — correct today, but the
    # snapshot dtype should be the spec's by construction, not by
    # coercion accident.
    base = align_to_spec(base, spec)
    survivors = base.join(batch_keys(changes, pk), on=pk, how="left_anti")
    return survivors.unionByName(upserts)


def snapshot_from_ops(changes: DataFrame, spec: TableSpec) -> DataFrame:
    """Convenience: full snapshot from a complete op log (batch
    backfill path — e.g. bootstrap from a Kafka topic read with
    ``startingOffsets=earliest``)."""
    return apply_changes(None, changes, spec)
