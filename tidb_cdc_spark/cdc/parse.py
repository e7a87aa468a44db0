"""Maxwell envelope → typed rows, as pure Catalyst expressions.

This is the Spark-native replacement for the reference's per-event
reflection pipeline (``ConsumeClaim`` → ``MaxwellUnmarshal``,
``/root/reference/cdc_manager.go:203-303`` and
``cdc_utils.go:31-124``). Everything here is built-in expressions —
``from_json`` / ``try_cast`` / map functions — so the whole parse
stage runs inside whole-stage codegen on executors: no Python in the
hot path, no shuffle (the stage is embarrassingly parallel over
Kafka partitions / file splits).

Deliberate divergences from the reference (SURVEY §7.5):
- full before-image reconstruction (the reference ships partial —
  its merge code is commented out, cdc_manager.go:263-274);
- malformed JSON goes to a dead-letter column instead of panicking
  the consumer (cdc_manager.go:164);
- proper handling of JSON true/false booleans, smallint, fractional
  timestamps (reference gaps, cdc_utils.go:98-105).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.cdc.schema import (
    ENVELOPE_SCHEMA,
    SEQ_COL,
    TS_COL,
    VALUE_COL,
    CDCType,
    envelope_schema,
)
from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec

#: Fixed zone the reference parses wall-clock timestamps in
#: ("BJ" = UTC+8, /root/reference/tag.go:47-55).
SOURCE_TIMEZONE = "Asia/Shanghai"

_INT_RE = r"^-?\d+$"


def _malformed(env: Column) -> Column:
    """The one malformed-envelope rule: ``from_json`` yields a null
    envelope for a null message and an all-null one for text that is
    not an envelope, so a required field (``type``) is checked too."""
    return env.isNull() | env["type"].isNull()


def parse_envelope(df: DataFrame, drop_malformed: bool = False) -> DataFrame:
    """Raw Kafka/file bytes → envelope columns, row images as maps.

    Output: ``database, table, type, ts, data, old, _corrupt``.
    Null messages (Kafka tombstones) are dropped, matching
    cdc_manager.go:209-211. Malformed JSON yields a non-null
    ``_corrupt`` column (dead-letter) instead of the reference's
    panic at cdc_manager.go:164.
    """
    raw = F.col(VALUE_COL).cast("string")
    parsed = F.from_json(raw, ENVELOPE_SCHEMA)
    out = (
        df.filter(F.col(VALUE_COL).isNotNull())
        .withColumn("_env", parsed)
        # reference _env (not the from_json expr) so the JSON parse
        # runs once per row even without subexpression elimination
        .withColumn("_corrupt", F.when(_malformed(F.col("_env")), raw))
        .select(
            *[F.col(f"_env.{f.name}").alias(f.name) for f in ENVELOPE_SCHEMA],
            "_corrupt",
            *[c for c in df.columns if c != VALUE_COL],
        )
    )
    if drop_malformed:
        out = out.filter(F.col("_corrupt").isNull()).drop("_corrupt")
    return out


def schema_drift(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Stream-vs-spec drift report: which columns arrive that the spec
    does not declare, and which declared columns the stream no longer
    carries — per column, with event counts.

    Output: ``col_name string, kind string, n_events long`` where
    ``kind`` is ``unknown_in_stream`` (column present in an event's
    ``data`` image but absent from the spec — the reference drops
    these silently via its reflection fall-through,
    ``cdc_utils.go:96-123``) or ``missing_from_stream`` (spec column
    absent from an event's ``data`` — decoded as NULL by
    ``parse_cdc``). Feed the findings into ``TableSpec.evolve``.

    Plan: the string-map envelope parse (key PRESENCE is detectable
    there), two ``array_except`` probes per row, explode of the
    (usually empty) drift array, then a groupBy on (col_name, kind) —
    shuffle cardinality = drifted columns, not rows, so the report is
    a cheap monitoring query at any scale.
    """
    env = parse_envelope(df, drop_malformed=True)
    known = F.array(*[F.lit(c.source) for c in spec.resolved_columns()])
    keys = F.map_keys(F.col("data"))
    unknown = F.array_except(keys, known)
    missing = F.array_except(known, keys)
    drift = F.concat(
        F.transform(
            unknown,
            lambda c: F.struct(
                c.alias("col_name"), F.lit("unknown_in_stream").alias("kind")
            ),
        ),
        F.transform(
            missing,
            lambda c: F.struct(
                c.alias("col_name"), F.lit("missing_from_stream").alias("kind")
            ),
        ),
    )
    return (
        env.filter(
            (F.col("database") == spec.database)
            & (F.col("table") == spec.table)
            & F.col("data").isNotNull()
        )
        .select(F.explode(drift).alias("d"))
        .select("d.col_name", "d.kind")
        .groupBy("col_name", "kind")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def cast_value(value: Column, col: ColumnSpec) -> Column:
    """Lenient per-field decode: the §1.2 coercion matrix as a single
    expression. Failed coercions yield NULL (the Spark analogue of
    the reference's recover-and-skip, cdc_utils.go:50-54)."""
    dtype = col.dtype.lower()
    if dtype == "timestamp":
        # numeric → epoch MILLISECONDS (cdc_utils.go:77); string →
        # "yyyy-MM-dd HH:mm:ss[.SSS]" wall-clock in fixed UTC+8
        # (tag.go:47-55). We keep millisecond precision (the
        # reference truncates to seconds — documented divergence).
        as_long = value.try_cast("long")
        epoch = F.timestamp_millis(as_long) if col.epoch_ms else F.timestamp_seconds(as_long)
        wall = F.to_utc_timestamp(
            F.try_to_timestamp(value, F.lit("yyyy-MM-dd HH:mm:ss[.SSSSSS][.SSS]")),
            SOURCE_TIMEZONE,
        )
        return F.when(value.rlike(_INT_RE), epoch).otherwise(wall)
    if dtype == "date":
        return value.try_cast("date")
    if dtype == "boolean" or col.bool01:
        # float64 == 1 → true (cdc_utils.go:98-101); plus native
        # true/false strings the reference panics on (divergence fix).
        num = value.try_cast("double")
        return F.when(num.isNotNull(), num == 1).otherwise(value.try_cast("boolean"))
    if dtype.startswith(("array<", "map<", "struct<")):
        return F.from_json(value, col.dtype)
    if dtype == "binary":
        return value.try_cast("binary")
    if dtype in ("int", "bigint", "smallint", "tinyint"):
        # JSON numbers may arrive fractional; the reference does a
        # truncating float64→int cast (cdc_utils.go:104-105).
        return value.try_cast("double").try_cast(dtype)
    return value.try_cast(col.dtype)


def parse_cdc(
    df: DataFrame, spec: TableSpec, seq_col: Column | None = None
) -> DataFrame:
    """End-to-end: raw messages → typed change rows for one table.

    Malformed rows are always dropped here (the reference instead
    panics the consumer, cdc_manager.go:164); callers that need the
    dead-letter surface route through ``parse_envelope(...,
    drop_malformed=False)`` and inspect the raw column.

    Output schema:
      ``op string, ts long, _seq long, before struct<...>, after struct<...>``

    ``_seq`` is the within-source ordering tiebreak (Kafka offset /
    file row position): TiCDC only guarantees per-dispatch-key order
    within a partition (deals_changefeed.toml:28-31), so downstream
    conflation orders by (ts, _seq).

    One ``from_json`` with the table's envelope
    (``envelope_schema(spec)``), then pure struct-field casts.

    Scale: stateless, shuffle-free, fully codegen'd; parallelism =
    source partitions. At 100 TB of backlog this stage scales
    linearly with executors.
    """
    return cdc_parser(spec, seq_col)(df)


def cdc_parser(
    spec: TableSpec, seq_col: Column | None = None
) -> Callable[[DataFrame], DataFrame]:
    """``parse_cdc`` for one spec with its expressions built once: the
    returned function applies them to any raw frame. Building them
    costs about 0.1 s of driver CPU for a ten-column spec, more than
    parsing a small micro-batch, so a streaming query builds one
    parser per registration and applies it to every batch."""
    env = F.from_json(F.col(VALUE_COL).cast("string"), envelope_schema(spec))
    # _mono (monotonically_increasing_id) is non-deterministic, which
    # blocks predicate pushdown through this projection — guaranteeing
    # the JSON parse runs exactly once per row instead of being
    # re-substituted into every downstream filter condition. It also
    # serves as the default arrival-order _seq. Streaming callers parse
    # inside foreachBatch (``streaming/connector.py``), where the
    # micro-batch is a batch frame, so this holds there too.
    mono = F.monotonically_increasing_id()
    # NOTE: no explicit tombstone filter on the value here — a null
    # Kafka value parses to a null envelope, which the malformed
    # filter below already drops (same outcome as cdc_manager.go:
    # 209-211). An explicit isnotnull(value) would be pushed below
    # this projection and re-evaluate the value expression (fatal
    # when value is computed, e.g. the bench's synthesized to_json).
    valid = (
        # malformed → dropped (dead-letter surface is parse_envelope;
        # the reference panics, cdc_manager.go:164)
        ~_malformed(F.col("_env"))
        & (F.col("_env.database") == spec.database)
        & (F.col("_env.table") == spec.table)
    )
    fields = [
        F.col("_env.type").alias("type"),
        F.col("_env.ts").alias("ts"),
        F.col("_env.data").alias("data"),
        F.col("_env.old").alias("old"),
        F.col("_mono"),
    ]
    # seq_col may reference envelope fields (e.g. data.event_id)
    # or passthrough columns, so it is evaluated after extraction
    seq = seq_col if seq_col is not None else F.col("_mono")
    cols = spec.resolved_columns()
    data, old = F.col("data"), F.col("old")
    after_struct = F.struct(
        *[cast_value(data[c.source], c).alias(c.target) for c in cols]
    )
    # full before-image = data ⊕ old (changed columns only) — the
    # overlay the reference intended but never shipped
    # (cdc_manager.go:263-274); key-presence probed on the old MAP so
    # "column unchanged" ≠ "old value was NULL".
    before_update = F.struct(
        *[
            cast_value(
                F.when(F.map_contains_key(old, c.source), old[c.source]).otherwise(
                    data[c.source]
                ),
                c,
            ).alias(c.target)
            for c in cols
        ]
    )
    has_data = data.isNotNull()
    after = F.when(
        F.col("type").isin(CDCType.INSERT, CDCType.UPDATE) & has_data, after_struct
    )
    before = F.when(
        (F.col("type") == CDCType.UPDATE) & has_data, before_update
    ).when((F.col("type") == CDCType.DELETE) & has_data, after_struct)
    # drop-empty guard, cdc_manager.go:258-261. Expressed on the RAW
    # fields (not after/before isNotNull) so predicate pushdown
    # doesn't clone the full projection CASE trees into the filter —
    # equivalent because after/before are non-null exactly when
    # (type known) AND (data present).
    known = F.col("type").isin(*CDCType.ALL) & has_data
    typed = [
        F.col("type").alias("op"),
        F.col(TS_COL),
        F.col(SEQ_COL),
        before.alias("before"),
        after.alias("after"),
    ]

    def parse(df: DataFrame) -> DataFrame:
        passthrough = [c for c in df.columns if c != VALUE_COL]
        return (
            df.select(env.alias("_env"), mono.alias("_mono"), *passthrough)
            .filter(valid)
            .select(*fields, *passthrough)
            .withColumn(SEQ_COL, seq)
            .filter(known)
            .select(*typed, *passthrough)
        )

    return parse
