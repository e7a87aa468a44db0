"""CDC queries: the reference's core capability (Maxwell parse + apply
semantics) made oracle-checkable.

Each query synthesizes a deterministic Maxwell envelope stream from
the ``events`` table INSIDE Spark (to_json of a struct — the protocol
shape of tests/fixtures/fff.json), pushes it through the engine's real
parse/apply path, and the DuckDB oracle computes the expected result
directly from the base table. This exercises ops #3-#12 and #15-#16 of
SURVEY §2 end-to-end; ``cdc_dead_letter_stats`` accounts for the
envelopes the parser rejects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_cdc_spark.cdc.apply import snapshot_from_ops
from tidb_cdc_spark.cdc.incremental import agg_delta, merge_agg
from tidb_cdc_spark.cdc.parse import parse_cdc, parse_envelope, schema_drift
from tidb_cdc_spark.cdc.scd import scd2_history
from tidb_cdc_spark.cdc.schema import ENVELOPE_HEADER
from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec
from tidb_cdc_spark.session import fan_out, materialize, read_table


def events_spec() -> TableSpec:
    return TableSpec(
        database="app",
        table="events",
        columns=(
            ColumnSpec("UserID", "bigint", column="user_id", pk=True),
            ColumnSpec("EventID", "bigint", column="event_id"),
            ColumnSpec("EventType", "string"),
            ColumnSpec("Value", "double"),
            ColumnSpec("Ts", "timestamp", column="ts_ms"),
        ),
    )


def _cached_source(spark: SparkSession, key, build) -> DataFrame:
    """One materialized envelope topic per (session, key): consumers
    read the persisted bytes exactly like a Kafka topic's — and the
    CDC queries consuming the same synthesis within a session (driver
    gate, bench) reuse ONE persist instead of re-synthesizing.
    Without the materialization barrier every downstream reference to
    the parsed envelope re-evaluates the whole to_json→from_json
    chain (measured 18 s → 1.2 s warm at sf0.1 on the lineitem money
    topic).

    The cache dict lives as an attribute ON the SparkSession, so its
    lifetime is exactly the session's: no module-global pinning (a
    weak-key map whose VALUES are DataFrames would strongly reference
    the session through them and never evict), and no id()-reuse
    collisions handing back frames bound to a dead SparkContext.
    """

    per_session = getattr(spark, "_tidb_cdc_env_cache", None)
    if per_session is None:
        per_session = {}
        spark._tidb_cdc_env_cache = per_session
    cached = per_session.get(key)
    if cached is None:
        cached = per_session[key] = materialize(build())
    return cached


def _message(table: str, op: Column, ts: Column, data: Column) -> Column:
    """One Maxwell message of database ``app`` as JSON text: the
    envelope header (``cdc.schema.ENVELOPE_HEADER``) and ``data``."""
    header = (F.lit("app"), F.lit(table), op, ts)
    return F.to_json(
        F.struct(
            *[v.alias(f.name) for v, f in zip(header, ENVELOPE_HEADER)],
            data.alias("data"),
        )
    )


def _op_mix() -> Column:
    """The insert/update/delete mix by ``event_id % 4`` that the
    oracles spell as a ``CASE``."""
    return (
        F.when(F.col("event_id") % 4 == 3, "delete")
        .when(F.col("event_id") % 4 == 1, "update")
        .otherwise("insert")
    )


def _event_data(*extra: Column) -> Column:
    """An ``events`` row as a message's ``data`` image."""
    return F.struct(
        F.col("user_id"),
        F.col("event_id"),
        F.col("event_type"),
        F.col("value"),
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        *extra,
    )


def _envelopes(spark: SparkSession, sf_dir: str, with_ops: bool) -> DataFrame:
    """events rows → Maxwell JSON messages (one per row).

    materialize (inside ``_cached_source``) = "this is a source, not
    a computation": consumers read the materialized bytes, so the
    engine's routing/malformed filters (deterministic projections of
    ``value``) cannot be pushed below the synthesis and re-evaluate
    to_json on the unsplit scan. A real Kafka topic is exactly this —
    materialized bytes. The materialization runs inside the timed
    query (32-way, after fan_out), so the bench still pays the
    synthesis cost once; persist keeps lineage for fault tolerance
    (session.materialize)."""

    def build() -> DataFrame:
        # fan_out: a real CDC source is a Kafka topic with N
        # partitions; the single-row-group test parquet collapses the
        # scan to one split, which would serialize the JSON round-trip.
        ev = fan_out(read_table(spark, sf_dir, "events"), spark)
        op = _op_mix() if with_ops else F.lit("insert")
        ts = F.unix_timestamp(F.col("ts"))
        return ev.select(_message("events", op, ts, _event_data()).alias("value"))

    return _cached_source(spark, (sf_dir, with_ops), build)


def cdc_parse_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: rows → Maxwell JSON → engine parse → typed rows.

    Checks the whole coercion matrix on real data: bigint/double
    round-trip through JSON text, epoch-ms → timestamp. Stateless,
    shuffle-free plan (codegen'd from_json + try_cast)."""
    env = _envelopes(spark, sf_dir, with_ops=False)
    parsed = parse_cdc(env, events_spec())
    return parsed.select(
        F.col("after.event_id").alias("event_id"),
        F.col("after.user_id").alias("user_id"),
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        F.col("after.ts_ms").alias("event_ts"),
    ).orderBy("event_id")


_PARSE_SQL = """
SELECT event_id, user_id, event_type, value,
       make_timestamp(epoch_ms(ts) * 1000) AS event_ts
FROM events
ORDER BY event_id
"""


def cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: envelopes (insert/update/delete mix keyed by
    user_id) → parse → per-PK latest-wins conflation → snapshot.

    This is the materialization contract of SURVEY §7 M1: final
    state = ops applied in (ts, seq) order per key, deletes wiping
    the row. One shuffle (PK window) — minimal for the semantics."""
    env = _envelopes(spark, sf_dir, with_ops=True)
    parsed = parse_cdc(
        env,
        events_spec(),
        seq_col=F.col("data").getItem("event_id").try_cast("long"),
    )
    snap = snapshot_from_ops(parsed, events_spec())
    return snap.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    ).orderBy("user_id")


_APPLY_SQL = """
WITH ops AS (
  SELECT user_id, event_id, event_type, value,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec,
         CASE WHEN event_id % 4 = 3 THEN 'delete'
              WHEN event_id % 4 = 1 THEN 'update'
              ELSE 'insert' END AS op
  FROM events
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts_sec DESC, event_id DESC) AS rn
  FROM ops
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       value AS last_value
FROM ranked WHERE rn = 1 AND op <> 'delete'
ORDER BY user_id
"""


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC → Type-2 SCD: the change stream (same synthesized
    insert/update/delete mix as ``cdc_apply_latest``) becomes
    versioned dimension rows with ``[valid_from, valid_to)``
    intervals — deletes close intervals without opening one. One
    PK-keyed exchange serves both window passes (``cdc/scd.py``)."""

    env = _envelopes(spark, sf_dir, with_ops=True)
    parsed = parse_cdc(
        env,
        events_spec(),
        seq_col=F.col("data").getItem("event_id").try_cast("long"),
    )
    hist = scd2_history(parsed, events_spec())
    return hist.select(
        "user_id",
        "version",
        "event_id",
        "event_type",
        "value",
        "valid_from",
        "valid_to",
        "is_current",
    ).orderBy("user_id", "version")


_SCD2_SQL = """
WITH ops AS (
  SELECT user_id, event_id, event_type, value,
         CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS ts_sec,
         CASE WHEN event_id % 4 = 3 THEN 'delete'
              WHEN event_id % 4 = 1 THEN 'update'
              ELSE 'insert' END AS op
  FROM events
), seqd AS (
  SELECT *,
         CAST(SUM(CASE WHEN op <> 'delete' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version,
         LEAD(ts_sec) OVER (PARTITION BY user_id
                            ORDER BY ts_sec, event_id) AS valid_to
  FROM ops
)
SELECT user_id, version, event_id, event_type, value,
       ts_sec AS valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM seqd WHERE op <> 'delete'
ORDER BY user_id, version
"""


def cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: a materialized per-type
    (count, sum) aggregate is updated by a CDC change batch via
    ``agg_delta`` + ``merge_agg`` — the base rows are NEVER rescanned
    (cost ∝ delta, the whole point at 100 TB base / small delta; the
    reference leaves this to handler callbacks, cdc_manager.go:43-47).

    The change batch is synthesized from ``events`` (op by
    event_id % 3: insert / delete / update-doubling-value) so the
    oracle can compute base ⊕ delta directly in SQL. Plan: two
    map-side-combining aggregates + one keyed full-outer merge join
    on the few-row aggregates — no shuffle carries raw rows twice."""

    ev = read_table(spark, sf_dir, "events")
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("total"),
    )
    mod = F.col("event_id") % 3
    op = (
        F.when(mod == 0, "insert").when(mod == 1, "delete").otherwise("update")
    )
    after_val = F.when(mod == 0, F.col("value")).otherwise(F.col("value") * 2)
    changes = ev.select(
        op.alias("op"),
        F.when(
            mod != 0, F.struct(F.col("event_type"), F.col("value"))
        ).alias("before"),
        F.when(
            mod != 1, F.struct(F.col("event_type"), after_val.alias("value"))
        ).alias("after"),
    )
    delta = agg_delta(changes, key="event_type", value_field="value")
    merged = merge_agg(base, delta, key="event_type")
    return merged.select(
        "event_type",
        F.col("n"),
        F.col("total").cast("double").alias("total_value"),
    ).orderBy("event_type")


_INCR_SQL = """
WITH base AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(18,2))) AS total
  FROM events GROUP BY event_type
), delta AS (
  SELECT event_type,
         SUM(CASE event_id % 3 WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END) AS dn,
         SUM(CASE event_id % 3
               WHEN 0 THEN CAST(value AS DECIMAL(18,2))
               WHEN 1 THEN -CAST(value AS DECIMAL(18,2))
               ELSE CAST(value * 2 AS DECIMAL(18,2))
                    - CAST(value AS DECIMAL(18,2))
             END) AS ds
  FROM events GROUP BY event_type
)
SELECT b.event_type,
       CAST(b.n + COALESCE(d.dn, 0) AS BIGINT) AS n,
       CAST(b.total + COALESCE(d.ds, 0) AS DOUBLE) AS total_value
FROM base b LEFT JOIN delta d USING (event_type)
WHERE b.n + COALESCE(d.dn, 0) > 0
ORDER BY event_type
"""


def cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-vs-spec drift report (``parse.schema_drift``): the
    stream carries a column the spec never declared (``extra_col``,
    on even event_ids — upstream DDL added it) and the spec declares
    a column the stream never carries (``missing_col`` — upstream DDL
    dropped it). The reference silently drops the former
    (cdc_utils.go:96-123 fall-through) and zero-values the latter;
    the engine makes both observable so ``TableSpec.evolve`` can
    adopt/retire them deliberately."""

    def build() -> DataFrame:
        ev = fan_out(read_table(spark, sf_dir, "events"), spark)
        # to_json omits null fields, so odd event_ids genuinely lack
        # the key (absence, not null — the drift probe detects keys)
        extra = F.when(F.col("event_id") % 2 == 0, F.lit("shard-a")).alias("extra_col")
        ts = F.unix_timestamp(F.col("ts"))
        return ev.select(
            _message("events", F.lit("insert"), ts, _event_data(extra)).alias("value")
        )

    env = _cached_source(spark, (sf_dir, "drift"), build)
    spec = events_spec().evolve(add=(ColumnSpec("MissingCol", "string"),))
    return schema_drift(env, spec).orderBy("col_name", "kind")


_DRIFT_SQL = """
SELECT * FROM (
  SELECT 'extra_col' AS col_name, 'unknown_in_stream' AS kind,
         COUNT(*) AS n_events
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT 'missing_col', 'missing_from_stream', COUNT(*) FROM events
) ORDER BY col_name, kind
"""


def cdc_decimal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Money columns as DECIMAL through the whole CDC path: lineitem
    prices → Maxwell JSON (canonical decimal text) → spec-driven
    parse into ``decimal(12,2)`` → exact decimal aggregation (double
    only at the very end, the engine-wide money convention).

    The reference's biggest fidelity hole (SURVEY §1.2): its
    reflection switch has no decimal case, so DECIMAL columns survive
    only as float64/string (cdc_utils.go:96-123) — a warehouse sink
    needs exact money types. Plan: stateless codegen parse + one
    map-side-combining hash aggregate on a 3-value key."""

    def build() -> DataFrame:
        li = fan_out(read_table(spark, sf_dir, "lineitem"), spark)
        data = F.struct(
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("l_extendedprice")
            .cast("decimal(12,2)")
            .cast("string")
            .alias("price"),
            F.col("l_discount").cast("decimal(12,2)").cast("string").alias("discount"),
            F.col("l_returnflag"),
        )
        ts = F.lit(0).cast("long")
        return li.select(_message("li_money", F.lit("insert"), ts, data).alias("value"))

    env = _cached_source(spark, (sf_dir, "money"), build)
    spec = TableSpec(
        database="app",
        table="li_money",
        columns=(
            ColumnSpec("OrderKey", "bigint", column="l_orderkey", pk=True),
            ColumnSpec("LineNumber", "int", column="l_linenumber", pk=True),
            ColumnSpec("Price", "decimal(12,2)", column="price"),
            ColumnSpec("Discount", "decimal(12,2)", column="discount"),
            ColumnSpec("ReturnFlag", "string", column="l_returnflag"),
        ),
    )
    parsed = parse_cdc(env, spec)
    return (
        parsed.select("after.*")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("price").cast("double").alias("sum_price"),
            F.sum(F.col("price") * (F.lit(1) - F.col("discount")))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


_DECIMAL_SQL = """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# --------------------------------------------- CDC dead-letter stats
def cdc_dead_letter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-event accounting — the §7.5 divergence from the
    reference (which PANICS the consumer on bad JSON,
    cdc_manager.go:164): every 7th synthesized envelope is corrupted;
    the engine's dead-letter column captures it and the stream keeps
    flowing. Output: rows per op label with 'corrupt' as its own
    bucket."""

    ev = fan_out(read_table(spark, sf_dir, "events"), spark)
    good = _message(
        "events",
        _op_mix(),
        F.unix_timestamp(F.col("ts")),
        F.struct(F.col("event_id"), F.col("user_id")),
    )
    value = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("not json "), good)
    ).otherwise(good)
    src = ev.select(value.alias("value")).localCheckpoint(eager=False)
    env = parse_envelope(src)
    label = F.when(F.col("_corrupt").isNotNull(), "corrupt").otherwise(
        F.col("type")
    )
    return (
        env.groupBy(label.alias("op_label"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("op_label")
    )


_DEAD_LETTER_SQL = """
SELECT CASE WHEN event_id % 7 = 0 THEN 'corrupt'
            WHEN event_id % 4 = 3 THEN 'delete'
            WHEN event_id % 4 = 1 THEN 'update'
            ELSE 'insert' END AS op_label,
       COUNT(*) AS n
FROM events
GROUP BY op_label
ORDER BY op_label
"""


QUERIES = {
    "cdc_dead_letter_stats": cdc_dead_letter_stats,
    "cdc_parse_typed": cdc_parse_typed,
    "cdc_apply_latest": cdc_apply_latest,
    "cdc_scd2_history": cdc_scd2_history,
    "cdc_incremental_agg": cdc_incremental_agg,
    "cdc_schema_drift": cdc_schema_drift,
    "cdc_decimal_agg": cdc_decimal_agg,
}
ORACLE = {
    "cdc_dead_letter_stats": _DEAD_LETTER_SQL,
    "cdc_parse_typed": _PARSE_SQL,
    "cdc_apply_latest": _APPLY_SQL,
    "cdc_scd2_history": _SCD2_SQL,
    "cdc_incremental_agg": _INCR_SQL,
    "cdc_schema_drift": _DRIFT_SQL,
    "cdc_decimal_agg": _DECIMAL_SQL,
}
