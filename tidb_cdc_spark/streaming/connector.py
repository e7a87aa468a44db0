"""Multi-table Connector: the engine's equivalent of the reference's
registry + runner (``Connector`` / ``Register`` / ``Start``,
``/root/reference/cdc_manager.go:305-434``).

One registration = (TableSpec, sinks, source). Every streaming query
the Connector launches runs the same ``foreachBatch`` body (consume
loop + handler fan-out parity, cdc_manager.go:278-299): parse the raw
micro-batch per table, then hand the typed changes to each sink, with
a checkpoint directory carrying the offsets (MarkMessage parity,
cdc_manager.go:299, upgraded to transactional checkpoints). ``start``
launches that query once per table, ``start_shared`` once for all.

Divergences (SURVEY §7.5): duplicate registration raises (reference
panics, :383-385 — same contract, recoverable error instead); sink
errors propagate and fail the batch (reference logs and commits
anyway, :281-299 — data-loss bug we do not replicate).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tidb_cdc_spark.cdc.parse import cdc_parser
from tidb_cdc_spark.cdc.spec import TableSpec
from tidb_cdc_spark.sources.kafka import KafkaSourceConfig, kafka_stream
from tidb_cdc_spark.streaming.sinks import Sink


@dataclass(frozen=True)
class ConnectorConfig:
    """Reference ``Configuration`` (``config.go:4-27``) minus the
    dead fields, plus checkpointing (which the reference lacks)."""

    server_name: str
    checkpoint_root: str
    brokers: list[str] = field(default_factory=list)
    starting_offsets: str = "earliest"
    max_offsets_per_trigger: int | None = None
    sasl_enabled: bool = False
    sasl_user: str | None = None
    sasl_password: str | None = None


@dataclass
class _Registration:
    group: str
    spec: TableSpec
    sinks: list[Sink]
    source: DataFrame | None  # None → Kafka topic from config


class Connector:
    def __init__(self, config: ConnectorConfig):
        self.config = config
        self._registrations: dict[str, _Registration] = {}
        self._queries: list[StreamingQuery] = []
        # a sink INSTANCE may back several registrations (one metrics
        # sink for every table) while their batches run on different
        # threads — per-table queries each run their own foreachBatch,
        # the shared query fans out on a pool; a per-instance lock
        # keeps its process() calls sequential. (Distinct sink
        # instances pointed at one output path are never safe.)
        self._sink_locks: dict[int, threading.Lock] = {}

    def register(
        self,
        spec: TableSpec,
        sinks: list[Sink],
        group: str | None = None,
        source: DataFrame | None = None,
    ) -> None:
        """Register a table (Register parity, cdc_manager.go:370-403).

        ``group`` defaults to the topic name ``server.db.table``
        (:390-391). ``source`` overrides the Kafka stream with any
        DataFrame bearing a ``value`` column (file streams in tests —
        same parse expressions either way); ``start_shared`` reads its
        own source instead.
        """
        group = group or spec.topic(self.config.server_name)
        if group in self._registrations:
            # reference panics here (:383-385); we raise
            raise ValueError(f"duplicate consumer group: {group}")
        if not spec.pk_columns:
            raise ValueError(f"spec {spec.table} needs a primary key for merge sinks")
        self._registrations[group] = _Registration(group, spec, list(sinks), source)
        for sink in sinks:
            self._sink_locks.setdefault(id(sink), threading.Lock())

    def _kafka_source(
        self, spark: SparkSession, group: str, **subscription
    ) -> DataFrame:
        """The config's Kafka stream for one ``topic`` or ``topic_pattern``."""
        cfg = KafkaSourceConfig(
            brokers=self.config.brokers,
            group=group,
            starting_offsets=self.config.starting_offsets,
            max_offsets_per_trigger=self.config.max_offsets_per_trigger,
            sasl_enabled=self.config.sasl_enabled,
            sasl_user=self.config.sasl_user,
            sasl_password=self.config.sasl_password,
            **subscription,
        )
        return kafka_stream(spark, cfg)

    def start(
        self, spark: SparkSession, available_now: bool = False
    ) -> list[StreamingQuery]:
        """Launch one checkpointed query per registration, checkpoint
        ``<root>/<group>``, query name ``group`` — each table its own
        failure domain.

        ``available_now=True`` drains what exists and stops (batch
        replay / tests); default is continuous micro-batches. Task
        parallelism per query = source partitions (the reference's
        NumOfConsumers goroutines, automatic here)."""
        for reg in self._registrations.values():
            source = reg.source
            if source is None:
                source = self._kafka_source(
                    spark, reg.group, topic=reg.spec.topic(self.config.server_name)
                )
            self._launch(source, [reg], reg.group, reg.group, available_now)
        return list(self._queries)

    def start_shared(
        self,
        spark: SparkSession,
        source: DataFrame | None = None,
        available_now: bool = False,
        topic_pattern: str | None = None,
    ) -> StreamingQuery:
        """ONE streaming query serving EVERY registration — the
        many-table scale mode, checkpoint ``<root>/_shared``.

        ``start`` launches a query per table, which is right for tens
        of tables but not hundreds: each Spark streaming query costs a
        Kafka consumer group, a checkpoint log, a trigger loop, and
        driver scheduling. The shared form subscribes to a topic
        PATTERN (default ``server\\..*`` — topics are
        ``server.db.table``, cdc_manager.go:390-391) and routes each
        micro-batch's rows to every registration (rows of
        unregistered tables are ignored — watch them with
        ``parse.schema_drift`` if that matters).

        Ordering: identical guarantee to per-table mode — per-PK order
        within a topic-partition (seq = Kafka offset); neither mode
        orders across tables. Offsets commit once for the whole batch,
        so a sink error fails the batch for EVERY table (no partial
        commit; same no-silent-loss stance as ``start``). The choice
        between the two modes is fixed by the checkpoint layout: a
        live deployment cannot switch modes without a new checkpoint.
        """
        regs = list(self._registrations.values())
        if not regs:
            raise ValueError("no registrations")
        if source is None:
            source = self._kafka_source(
                spark,
                f"{self.config.server_name}-shared",
                topic_pattern=topic_pattern
                or self.config.server_name.replace(".", "\\.") + "\\..*",
            )
        return self._launch(
            source, regs, "_shared", f"{self.config.server_name}-shared", available_now
        )

    def _launch(
        self,
        source: DataFrame,
        regs: list[_Registration],
        checkpoint: str,
        name: str,
        available_now: bool,
    ) -> StreamingQuery:
        """Start one checkpointed query running the Connector's
        ``foreachBatch`` body for ``regs``."""
        seq = F.col("offset").cast("long") if "offset" in source.columns else None
        # each registration's parse expressions are built once, when
        # its rows first arrive (a build costs about 0.1 s of driver
        # CPU, more than parsing a small batch); one thread at a time
        # handles a registration, so the dict needs no lock
        parsers: dict[str, Callable[[DataFrame], DataFrame]] = {}

        def deliver(r: _Registration, rows: DataFrame, batch_id: int) -> None:
            if r.group not in parsers:
                parsers[r.group] = cdc_parser(r.spec, seq_col=seq)
            # every sink of the table reads one cached parse; fan-out
            # loop parity (cdc_manager.go:277-298) — but a sink error
            # FAILS the batch (no silent offset commit past lost data)
            changes = parsers[r.group](rows).persist()
            try:
                for sink in r.sinks:
                    with self._sink_locks[id(sink)]:
                        sink.process(changes, batch_id, r.spec)
            finally:
                changes.unpersist()

        def batch_fn(batch_df: DataFrame, batch_id: int) -> None:
            if len(regs) == 1:
                deliver(regs[0], batch_df, batch_id)
                return
            # ONE slim routing parse per row, cached with the batch:
            # separate get_json_object calls each re-parse the whole
            # JSON document and would run 2× per registration; a
            # 2-field from_json runs once total, and the per-table
            # routing filters are then plain column comparisons over
            # the cached rows
            routed = batch_df.withColumn(
                "_route",
                F.from_json(
                    F.col("value").cast("string"), "database string, table string"
                ),
            ).persist()

            def handle(r: _Registration) -> None:
                rows = routed.filter(
                    (F.col("_route.database") == r.spec.database)
                    & (F.col("_route.table") == r.spec.table)
                ).drop("_route")
                deliver(r, rows, batch_id)

            # CONCURRENT routed passes: a sequential loop serializes
            # N small Spark jobs per batch and loses to per-table
            # mode's N independent trigger loops by ~N/parallelism.
            # Driver threads submit jobs Spark schedules side by side
            # over the SAME cached batch; sinks of one registration
            # still run in order, over that registration's one
            # cached parse.
            # Any failure propagates out of .result() and fails the
            # whole batch — offsets never commit past a lost table.
            #
            # Presence prefilter: at hundreds of registrations a
            # micro-batch usually carries rows for a FRACTION of the
            # tables; one tiny distinct-collect over the cached batch
            # (bounded by #tables, not #rows) skips every absent
            # registration's filter+parse+sink jobs. A skipped sink
            # sees nothing — identical to processing an empty frame,
            # which every Sink treats as a no-op merge.
            try:
                present = {
                    (r["database"], r["table"])
                    for r in routed.select(
                        F.col("_route.database").alias("database"),
                        F.col("_route.table").alias("table"),
                    )
                    .distinct()
                    .collect()
                }
                live = [r for r in regs if (r.spec.database, r.spec.table) in present]
                if live:
                    with ThreadPoolExecutor(max_workers=min(32, len(live))) as ex:
                        for fut in [ex.submit(handle, r) for r in live]:
                            fut.result()
            finally:
                routed.unpersist()

        writer = (
            source.writeStream.foreachBatch(batch_fn)
            .option("checkpointLocation", f"{self.config.checkpoint_root}/{checkpoint}")
            .queryName(name)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        self._queries.append(q)
        return q

    def await_termination(self, timeout: float | None = None) -> None:
        for q in self._queries:
            q.awaitTermination(timeout)

    def stop(self) -> None:
        """Graceful shutdown (signal-wait parity, cdc_manager.go:175-187)."""
        for q in self._queries:
            if q.isActive:
                q.stop()
        self._queries.clear()
