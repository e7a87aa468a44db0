"""End-to-end streaming tests: file-source micro-batches through the
Connector → sinks, with checkpointed incremental progress — the
SURVEY §5 strategy item (2)."""

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec
from tidb_cdc_spark.sources import KafkaSourceConfig, maxwell_file_stream
from tidb_cdc_spark.streaming import (
    Connector,
    ConnectorConfig,
    HandlerSink,
    JdbcMergeSink,
    MemorySink,
    ParquetSnapshotSink,
)
from tidb_cdc_spark.streaming import store

SPEC = TableSpec(
    database="d",
    table="t",
    columns=(
        ColumnSpec("K", "string", column="k", pk=True),
        ColumnSpec("V", "int"),
    ),
)


def _msg(op, k, v, ts, old=None):
    m = {"database": "d", "table": "t", "type": op, "ts": ts, "data": {"k": k, "v": v}}
    if op == "update":
        m["old"] = old if old is not None else {"v": v - 1}
    return json.dumps(m)


def _write_batch(dirpath, name, msgs):
    os.makedirs(dirpath, exist_ok=True)
    tmp = os.path.join(dirpath, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(msgs))
    os.replace(tmp, os.path.join(dirpath, name))


def _connector(tmp_path, sinks, source):
    conn = Connector(
        ConnectorConfig(server_name="srv", checkpoint_root=str(tmp_path / "ckpt"))
    )
    conn.register(SPEC, sinks, source=source)
    return conn


SPEC2 = TableSpec(
    database="d",
    table="u",
    columns=(
        ColumnSpec("K", "string", column="k", pk=True),
        ColumnSpec("W", "int"),
    ),
)


def _msg_for(db, table, op, data, ts):
    return json.dumps(
        {"database": db, "table": table, "type": op, "ts": ts, "data": data}
    )


class TestSharedConnector:
    """One streaming query routing N registered tables (the
    hundreds-of-tables mode): envelope (database, table) routes rows
    inside a single persisted micro-batch."""

    def test_routes_two_tables_from_one_stream(self, spark, tmp_path):
        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg_for("d", "t", "insert", {"k": "a", "v": 1}, 10),
            _msg_for("d", "u", "insert", {"k": "x", "w": 7}, 11),
            _msg_for("d", "t", "update", {"k": "a", "v": 5}, 12),
            _msg_for("d", "zz_unregistered", "insert", {"k": "q"}, 13),
        ])
        sink_t = ParquetSnapshotSink(str(tmp_path / "snap_t"))
        sink_u = ParquetSnapshotSink(str(tmp_path / "snap_u"))
        conn = Connector(
            ConnectorConfig(server_name="srv", checkpoint_root=str(tmp_path / "ck"))
        )
        conn.register(SPEC, [sink_t])
        conn.register(SPEC2, [sink_u])
        q = conn.start_shared(
            spark,
            source=maxwell_file_stream(spark, str(events_dir)),
            available_now=True,
        )
        q.awaitTermination()
        assert {(r.k, r.v) for r in sink_t.read_current(spark).collect()} == {
            ("a", 5)
        }
        assert {(r.k, r.w) for r in sink_u.read_current(spark).collect()} == {
            ("x", 7)
        }

        # incremental continuation from the shared checkpoint: only
        # the new file is consumed
        _write_batch(events_dir, "b2.jsonl", [
            _msg_for("d", "u", "delete", {"k": "x", "w": 7}, 20),
            _msg_for("d", "t", "insert", {"k": "b", "v": 9}, 21),
        ])
        conn2 = Connector(
            ConnectorConfig(server_name="srv", checkpoint_root=str(tmp_path / "ck"))
        )
        conn2.register(SPEC, [sink_t])
        conn2.register(SPEC2, [sink_u])
        q2 = conn2.start_shared(
            spark,
            source=maxwell_file_stream(spark, str(events_dir)),
            available_now=True,
        )
        q2.awaitTermination()
        assert {(r.k, r.v) for r in sink_t.read_current(spark).collect()} == {
            ("a", 5), ("b", 9)
        }
        assert sink_u.read_current(spark).count() == 0

    def test_shared_kafka_pattern_options(self):
        cfg = KafkaSourceConfig(
            brokers=["b:9092"], topic_pattern=r"srv\..*"
        )
        assert cfg.options()["subscribePattern"] == r"srv\..*"
        assert "subscribe" not in cfg.options()
        with pytest.raises(ValueError, match="exactly one"):
            KafkaSourceConfig(brokers=["b:9092"])
        with pytest.raises(ValueError, match="exactly one"):
            KafkaSourceConfig(
                brokers=["b:9092"], topic="t", topic_pattern="p.*"
            )

    def test_shared_requires_registrations(self, spark, tmp_path):
        conn = Connector(
            ConnectorConfig(server_name="srv", checkpoint_root=str(tmp_path / "ck"))
        )
        with pytest.raises(ValueError, match="no registrations"):
            conn.start_shared(spark, source=None)


class TestConnectorFileStream:
    def test_snapshot_sink_applies_ops(self, spark, tmp_path):
        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg("insert", "a", 1, 10),
            _msg("insert", "b", 2, 11),
            _msg("update", "a", 5, 12),
            _msg("delete", "b", 2, 13),
        ])
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()
        snap = sink.read_current(spark)
        assert {(r.k, r.v) for r in snap.collect()} == {("a", 5)}

    def test_incremental_batches_with_checkpoint(self, spark, tmp_path):
        events_dir = tmp_path / "in"
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        _write_batch(events_dir, "b1.jsonl", [_msg("insert", "a", 1, 10)])
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()
        assert {(r.k, r.v) for r in sink.read_current(spark).collect()} == {("a", 1)}

        # second run with the same checkpoint: only the NEW file is
        # consumed (offset tracking parity with MarkMessage)
        _write_batch(events_dir, "b2.jsonl", [
            _msg("update", "a", 7, 20), _msg("insert", "c", 3, 21)])
        conn2 = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn2.start(spark, available_now=True)
        conn2.await_termination()
        assert {(r.k, r.v) for r in sink.read_current(spark).collect()} == {
            ("a", 7), ("c", 3)}

    def test_handler_sink_fanout(self, spark, tmp_path):
        # ConsumerHandler parity: Create/Update/Delete callbacks
        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg("insert", "a", 1, 10),
            _msg("update", "a", 2, 11),
            _msg("delete", "a", 2, 12),
        ])
        seen = {"create": [], "update": [], "delete": []}
        handler = HandlerSink(
            on_create=lambda df: seen["create"].extend((r.k, r.v) for r in df.collect()),
            on_update=lambda b, a: seen["update"].extend(
                (rb.v, ra.v) for rb, ra in zip(b.collect(), a.collect())
            ),
            on_delete=lambda df: seen["delete"].extend((r.k, r.v) for r in df.collect()),
        )
        mem = MemorySink()
        conn = _connector(
            tmp_path, [handler, mem], maxwell_file_stream(spark, str(events_dir))
        )
        conn.start(spark, available_now=True)
        conn.await_termination()
        assert seen["create"] == [("a", 1)]
        assert seen["update"] == [(1, 2)]  # before-image v=1 (old merge), after v=2
        assert seen["delete"] == [("a", 2)]
        assert len(mem.batches) >= 1  # every sink saw every batch (fan-out)

    def test_duplicate_registration_raises(self, spark, tmp_path):
        conn = Connector(
            ConnectorConfig(server_name="srv", checkpoint_root=str(tmp_path / "c"))
        )
        conn.register(SPEC, [MemorySink()])
        with pytest.raises(ValueError, match="duplicate"):
            conn.register(SPEC, [MemorySink()])

    def test_registration_requires_pk(self, spark, tmp_path):
        nopk = TableSpec("d", "t2", (ColumnSpec("A", "int"),))
        conn = Connector(
            ConnectorConfig(server_name="srv", checkpoint_root=str(tmp_path / "c"))
        )
        with pytest.raises(ValueError, match="primary key"):
            conn.register(nopk, [MemorySink()])


class TestKafkaConfig:
    def test_defaults_and_topic(self):
        cfg = KafkaSourceConfig(brokers=["b:9092"], topic="srv.d.t")
        opts = cfg.options()
        assert opts["subscribe"] == "srv.d.t"
        assert opts["startingOffsets"] == "earliest"  # reference default: Oldest

    def test_sasl_wired(self):
        # divergence #4: reference declares but never reads SASL
        # fields (config.go:24-26)
        cfg = KafkaSourceConfig(
            brokers=["b:9092"], topic="t", sasl_enabled=True,
            sasl_user="u", sasl_password="p",
        )
        opts = cfg.options()
        assert "ScramLoginModule" in opts["kafka.sasl.jaas.config"]
        assert opts["kafka.security.protocol"] == "SASL_SSL"

    def test_sasl_validation(self):
        with pytest.raises(ValueError, match="SASL"):
            KafkaSourceConfig(brokers=["b"], topic="t", sasl_enabled=True)

    def test_invalid_offsets_rejected(self):
        with pytest.raises(ValueError, match="starting_offsets"):
            KafkaSourceConfig(brokers=["b"], topic="t", starting_offsets="oldest")


class TestOffsetOrderingContract:
    """The reference's consume-loop / MarkMessage contract
    (cdc_manager.go:109-188, :299) without a broker: a Kafka-shaped
    file stream feeds (topic, partition, offset, value); the
    Connector wires offset into parse_cdc's seq_col, so conflation
    orders by (ts, offset) and checkpointed restarts resume exactly
    like committed offsets."""

    @staticmethod
    def _kmsg(offset, op, k, v, ts):
        return json.dumps({
            "topic": "srv.d.t", "partition": 0, "offset": offset,
            "value": _msg(op, k, v, ts),
        })

    def test_ts_tie_broken_by_offset_and_checkpoint_restart(self, spark, tmp_path):
        from tidb_cdc_spark.sources import kafka_shaped_file_stream

        events_dir = tmp_path / "in"
        # SAME ts for key "a": only the Kafka offset can order them —
        # last-write-wins must pick offset 2 (v=5)
        _write_batch(events_dir, "b1.jsonl", [
            self._kmsg(0, "insert", "a", 1, 10),
            self._kmsg(1, "update", "a", 3, 10),
            self._kmsg(2, "update", "a", 5, 10),
            self._kmsg(3, "insert", "b", 7, 10),
        ])
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        conn = _connector(
            tmp_path, [sink], kafka_shaped_file_stream(spark, str(events_dir))
        )
        conn.start(spark, available_now=True)
        conn.await_termination()
        assert {(r.k, r.v) for r in sink.read_current(spark).collect()} == {
            ("a", 5), ("b", 7)}

        # restart from the checkpoint: only the new file is consumed;
        # a STALE offset for "a" at the same ts must NOT regress it
        _write_batch(events_dir, "b2.jsonl", [
            self._kmsg(4, "delete", "b", 7, 11),
            self._kmsg(5, "update", "a", 9, 10),
        ])
        conn2 = _connector(
            tmp_path, [sink], kafka_shaped_file_stream(spark, str(events_dir))
        )
        conn2.start(spark, available_now=True)
        conn2.await_termination()
        assert {(r.k, r.v) for r in sink.read_current(spark).collect()} == {
            ("a", 9)}


class TestOneBatchBodyBothModes:
    """``start`` and ``start_shared`` run the same foreachBatch body:
    one Kafka-shaped stream carrying two tables and a ts tie must
    leave identical sink state through either mode."""

    @staticmethod
    def _kmsg(table, offset, op, data, ts, old=None):
        m = {"database": "d", "table": table, "type": op, "ts": ts, "data": data}
        if old is not None:
            m["old"] = old
        return json.dumps({
            "topic": f"srv.d.{table}", "partition": 0, "offset": offset,
            "value": json.dumps(m),
        })

    def _run(self, spark, root, events_dir, shared):
        from tidb_cdc_spark.sources import kafka_shaped_file_stream
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        def source():
            return kafka_shaped_file_stream(spark, str(events_dir), 1)

        conn = Connector(
            ConnectorConfig(server_name="srv", checkpoint_root=str(root / "ck"))
        )
        snaps = {t: ParquetSnapshotSink(str(root / t)) for t in ("t", "u")}
        hist = Scd2SplitHistorySink(str(root / "hist"))
        conn.register(SPEC, [snaps["t"], hist], source=None if shared else source())
        conn.register(SPEC2, [snaps["u"]], source=None if shared else source())
        if shared:
            conn.start_shared(spark, source=source(), available_now=True)
        else:
            conn.start(spark, available_now=True)
        conn.await_termination()
        return (
            {
                t: sorted(map(tuple, s.read_current(spark).collect()))
                for t, s in snaps.items()
            },
            sorted(map(tuple, hist.read_current(spark).collect())),
        )

    def test_start_and_start_shared_agree(self, spark, tmp_path):
        k = self._kmsg
        events_dir = tmp_path / "in"
        # key "a" of t: three changes at ONE ts — only the offset
        # orders them, and offset 2 (v=5) must win
        _write_batch(events_dir, "b1.jsonl", [
            k("t", 0, "insert", {"k": "a", "v": 1}, 10),
            k("u", 0, "insert", {"k": "x", "w": 7}, 10),
            k("t", 1, "update", {"k": "a", "v": 3}, 10, {"v": 1}),
            k("t", 2, "update", {"k": "a", "v": 5}, 10, {"v": 3}),
            k("t", 3, "insert", {"k": "b", "v": 2}, 11),
        ])
        _write_batch(events_dir, "b2.jsonl", [
            k("t", 4, "update", {"k": "a", "v": 9}, 20, {"v": 5}),
            k("u", 1, "update", {"k": "x", "w": 8}, 20, {"w": 7}),
            k("t", 5, "delete", {"k": "b", "v": 2}, 21),
        ])
        per_table = self._run(spark, tmp_path / "per_table", events_dir, False)
        shared = self._run(spark, tmp_path / "shared", events_dir, True)
        assert per_table == shared
        snaps, hist = shared
        assert snaps == {"t": [("a", 9)], "u": [("x", 8)]}
        # (k, v, version, valid_from, valid_to, is_current)
        assert hist == [
            ("a", 1, 1, 10, 10, False),
            ("a", 3, 2, 10, 10, False),
            ("a", 5, 3, 10, 20, False),
            ("a", 9, 4, 20, None, True),
            ("b", 2, 1, 11, 21, False),
        ]

    def test_offsetless_ts_tie_resolves_to_later_line(self, spark, tmp_path):
        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg("insert", "a", 1, 10),
            _msg("update", "a", 3, 10),
            _msg("update", "a", 5, 10),
        ])
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()
        assert [(r.k, r.v) for r in sink.read_current(spark).collect()] == [("a", 5)]


class TestSharedParserBuilds:
    def test_one_parser_per_registration(self, spark, tmp_path, monkeypatch):
        """A shared query builds each registration's parser once, on
        its first batch, and applies it to every later one. Six
        registrations fan out on more driver threads than cores, with
        a short switch interval, so a lost or doubled build shows."""
        import sys

        from tidb_cdc_spark.streaming import connector

        built = []

        def counting(spec, **kw):
            built.append(spec.table)
            return real(spec, **kw)

        real = connector.cdc_parser
        monkeypatch.setattr(connector, "cdc_parser", counting)
        tables = [f"p{i}" for i in range(6)]
        events_dir = tmp_path / "in"
        for b in range(2):
            _write_batch(events_dir, f"b{b}.jsonl", [
                _msg_for("d", t, "insert", {"k": f"a{b}", "v": b}, 10 + b)
                for t in tables
            ])
        conn = Connector(
            ConnectorConfig(server_name="srv", checkpoint_root=str(tmp_path / "ck"))
        )
        sinks = {t: MemorySink() for t in tables}
        for t in tables:
            conn.register(
                TableSpec(database="d", table=t, columns=SPEC.columns), [sinks[t]]
            )
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            q = conn.start_shared(
                spark,
                source=maxwell_file_stream(spark, str(events_dir), 1),
                available_now=True,
            )
            assert q.awaitTermination(120)
        finally:
            sys.setswitchinterval(interval)
        # two batches, each delivered to every table
        for t in tables:
            got = [(b, [(r.after.k, r.after.v) for r in rows])
                   for b, rows in sinks[t].batches]
            assert got == [(0, [("a0", 0)]), (1, [("a1", 1)])], t
        assert sorted(built) == tables


class TestJdbcMergeSql:
    def test_merge_statement_shape(self):
        sink = JdbcMergeSink(url="jdbc:x", table="tgt")
        sql = sink.merge_sql(SPEC, "stage")
        assert 'MERGE INTO tgt t USING stage s ON t."k" = s."k"' in sql
        assert 'WHEN MATCHED AND s."_op" = \'delete\' THEN DELETE' in sql
        assert 'UPDATE SET "v" = s."v"' in sql
        assert 'INSERT ("k", "v") VALUES (s."k", s."v")' in sql


class TestJdbcMergeSinkDerby:
    """Executes the generated MERGE for real against embedded Derby
    (ships on Spark's classpath; in-process, same JVM as local-mode
    executors, so the in-memory database is visible to both the
    staging write and the driver-side MERGE)."""

    def test_merge_executes_end_to_end(self, spark, tmp_path):
        url = f"jdbc:derby:memory:merge_{tmp_path.name};create=true"
        sink = JdbcMergeSink(
            url=url,
            table="tgt",
            create_column_types="k VARCHAR(64), _op VARCHAR(16)",
        )
        # target table: quoted lowercase columns, matching Spark's
        # JDBC writer quoting of the staging table
        sink._execute(
            spark,
            'CREATE TABLE tgt ("k" VARCHAR(64) NOT NULL, "v" INT, PRIMARY KEY ("k"))',
        )
        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg("insert", "a", 1, 10),
            _msg("insert", "b", 2, 11),
            _msg("update", "a", 5, 12),
            _msg("delete", "b", 2, 13),
        ])
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()

        def read_tgt():
            return {
                (r.k, r.v)
                for r in spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", "tgt")
                .load()
                .collect()
            }

        assert read_tgt() == {("a", 5)}

        # second batch through the checkpoint: update + insert + delete
        _write_batch(events_dir, "b2.jsonl", [
            _msg("update", "a", 9, 20),
            _msg("insert", "c", 3, 21),
            _msg("delete", "a", 9, 22),
        ])
        conn2 = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn2.start(spark, available_now=True)
        conn2.await_termination()
        assert read_tgt() == {("c", 3)}


class TestStatefulOperators:
    def _two_batch_stream(self, spark, tmp_path):
        """File stream fed one file per trigger → two micro-batches,
        so cross-batch state is genuinely exercised."""
        d = tmp_path / "sev"
        os.makedirs(d, exist_ok=True)
        b1 = [
            {"user_id": 1, "ts": 10, "value": 1.0, "payload": "a"},
            {"user_id": 1, "ts": 20, "value": 2.0, "payload": "b"},
            {"user_id": 2, "ts": 5, "value": 10.0, "payload": "x"},
            {"user_id": 3, "ts": 7, "value": 1.0, "payload": "orig"},
        ]
        b2 = [
            {"user_id": 1, "ts": 30, "value": 4.0, "payload": "c"},
            {"user_id": 2, "ts": 1, "value": 100.0, "payload": "stale"},
            {"user_id": 3, "ts": 7, "value": 1.0, "payload": "replay"},
        ]
        with open(d / "1.jsonl", "w") as f:
            f.write("\n".join(json.dumps(r) for r in b1))
        with open(d / "2.jsonl", "w") as f:
            f.write("\n".join(json.dumps(r) for r in b2))
        return (
            spark.readStream.format("json")
            .schema("user_id long, ts long, value double, payload string")
            .option("maxFilesPerTrigger", 1)
            .load(str(d))
        )

    def test_running_totals_accumulate_across_batches(self, spark, tmp_path):
        from tidb_cdc_spark.streaming.stateful import running_totals

        out = running_totals(self._two_batch_stream(spark, tmp_path))
        q = (
            out.writeStream.format("memory")
            .queryName("run_tot")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_rt"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        # update mode: last emitted row per key carries lifetime totals
        rows = spark.sql(
            "select * from run_tot order by n_events"
        ).collect()
        latest = {}
        for r in rows:
            if r.user_id not in latest or r.n_events > latest[r.user_id][0]:
                latest[r.user_id] = (r.n_events, r.total)
        assert latest[1] == (3, 7.0)
        assert latest[2] == (2, 110.0)

    def test_stateful_latest_ignores_stale_and_keeps_max_ts(self, spark, tmp_path):
        from tidb_cdc_spark.streaming.stateful import stateful_latest

        out = stateful_latest(self._two_batch_stream(spark, tmp_path), "user_id")
        q = (
            out.writeStream.format("memory")
            .queryName("st_latest")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck_sl"))
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("select * from st_latest").collect()
        latest = {}
        for r in rows:
            if r.user_id not in latest or r.ts > latest[r.user_id][0]:
                latest[r.user_id] = (r.ts, r.payload)
        assert latest[1] == (30, "c")  # batch-2 newer event wins
        assert latest[2] == (5, "x")  # batch-2 stale event ignored
        # equal-ts replay in batch 2 must NOT displace the stored value
        # (strict > — replay idempotency even for ties)
        assert latest[3] == (7, "orig")


class TestScd2SplitHistorySink:
    """SCD2 history sink: read_current = the full history, stored as
    a per-key head plus immutable per-batch closed dirs."""

    def _changes(self, spark, msgs):
        from tidb_cdc_spark.cdc import parse_cdc

        df = spark.createDataFrame([(m,) for m in msgs], "value string")
        return parse_cdc(
            df.withColumn("_s", F.monotonically_increasing_id()),
            SPEC,
            seq_col=F.col("_s"),
        )

    def test_streamed_history_equals_one_shot_replay(self, spark, tmp_path):
        from tidb_cdc_spark.cdc import parse_cdc
        from tidb_cdc_spark.cdc.scd import scd2_history
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        b1 = [
            _msg("insert", "a", 1, 10),
            _msg("insert", "b", 2, 11),
            _msg("update", "a", 5, 12),
        ]
        b2 = [
            _msg("delete", "a", 5, 20),
            _msg("insert", "a", 9, 21),
            _msg("update", "b", 3, 22),
        ]
        events_dir = tmp_path / "in"
        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        _write_batch(events_dir, "b1.jsonl", b1)
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()
        _write_batch(events_dir, "b2.jsonl", b2)
        conn2 = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn2.start(spark, available_now=True)
        conn2.await_termination()

        hist = sink.read_current(spark)
        rows = {(r.k, r.version): r for r in hist.collect()}
        assert set(rows) == {("a", 1), ("a", 2), ("a", 3), ("b", 1), ("b", 2)}
        assert rows[("a", 2)].valid_to == 20  # closed by the delete in batch 2
        assert rows[("a", 3)].is_current and rows[("a", 3)].v == 9
        assert rows[("b", 1)].valid_to == 22 and rows[("b", 2)].is_current

        # equals a one-shot replay of the concatenated log
        all_msgs = spark.createDataFrame(
            [(m,) for m in b1 + b2], "value string"
        ).withColumn("_s", F.monotonically_increasing_id())
        one_shot = scd2_history(parse_cdc(all_msgs, SPEC, seq_col=F.col("_s")), SPEC)
        assert sorted(map(tuple, one_shot.collect())) == sorted(
            map(tuple, hist.select(*one_shot.columns).collect())
        )

    def test_batch_replay_is_noop(self, spark, tmp_path):
        """foreachBatch re-delivery after a crash (offsets commit AFTER
        process) must not corrupt the history: the merge is append-
        based, so without the batch watermark a replay would close the
        batch's own intervals at their own valid_from and duplicate
        versions."""
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        b1 = self._changes(
            spark, [_msg("insert", "a", 1, 10), _msg("update", "a", 5, 12)]
        )
        sink.process(b1, 0, SPEC)
        applied = sorted(map(tuple, sink.read_current(spark).collect()))

        sink.process(b1, 0, SPEC)  # at-least-once re-delivery
        assert sorted(map(tuple, sink.read_current(spark).collect())) == applied

        # a genuinely new batch still applies
        sink.process(self._changes(spark, [_msg("update", "a", 9, 20)]), 1, SPEC)
        hist = {(r.k, r.version): r for r in sink.read_current(spark).collect()}
        assert hist[("a", 2)].valid_to == 20
        assert hist[("a", 3)].is_current and hist[("a", 3)].v == 9

        # a batch id BEHIND the watermark = fresh checkpoint writing
        # into an old history path: loud failure, not a silent no-op
        with pytest.raises(RuntimeError, match="behind the stored watermark"):
            sink.process(
                self._changes(spark, [_msg("update", "a", 1, 30)]), 0, SPEC
            )

    @pytest.mark.slow  # slow tier
    def test_equals_one_shot_batch_by_batch(self, spark, tmp_path):
        from tidb_cdc_spark.cdc.scd import scd2_history
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        split = Scd2SplitHistorySink(str(tmp_path / "split"))
        batches = [
            [_msg("insert", "a", 1, 10), _msg("insert", "b", 2, 11),
             _msg("update", "a", 5, 12)],
            [_msg("delete", "a", 5, 20)],  # delete-only: head closes in place
            [_msg("insert", "a", 9, 30), _msg("update", "b", 3, 31),
             _msg("update", "a", 10, 32)],
            [_msg("update", "c", 4, 40)],  # brand-new key mid-stream
        ]
        for i, b in enumerate(batches):
            split.process(self._changes(spark, b), i, SPEC)
            log = [m for batch in batches[: i + 1] for m in batch]
            one_shot = scd2_history(self._changes(spark, log), SPEC)
            got = split.read_current(spark).select(*one_shot.columns)
            assert sorted(map(tuple, one_shot.collect())) == sorted(
                map(tuple, got.collect())
            ), f"divergence after batch {i}"

    def test_replay_noop_and_behind_watermark_raises(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        b1 = self._changes(
            spark, [_msg("insert", "a", 1, 10), _msg("update", "a", 5, 12)]
        )
        sink.process(b1, 0, SPEC)
        applied = sorted(map(tuple, sink.read_current(spark).collect()))
        sink.process(b1, 0, SPEC)  # at-least-once re-delivery
        assert sorted(map(tuple, sink.read_current(spark).collect())) == applied
        with pytest.raises(RuntimeError, match="behind the stored watermark"):
            sink.process(b1, -5, SPEC)

    def test_unpublished_closed_dir_is_invisible_and_retry_overwrites(
        self, spark, tmp_path
    ):
        """Crash window: closed/b=N written but the pointer swap never
        happened — readers must not see those rows, and the retry
        must overwrite them (no duplication)."""
        import os
        import shutil

        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        sink.process(
            self._changes(
                spark, [_msg("insert", "a", 1, 10), _msg("update", "a", 5, 12)]
            ),
            0,
            SPEC,
        )
        before = sorted(map(tuple, sink.read_current(spark).collect()))
        # simulate the crash: write an orphan b=1 dir by copying b=0,
        # no pointer swap
        root = os.path.join(str(tmp_path / "hist"), "closed")
        shutil.copytree(os.path.join(root, "b=0"), os.path.join(root, "b=1"))
        assert sorted(map(tuple, sink.read_current(spark).collect())) == before
        # retry of batch 1 overwrites the orphan and publishes cleanly
        sink.process(
            self._changes(spark, [_msg("update", "a", 9, 20)]), 1, SPEC
        )
        hist = {(r.k, r.version): r for r in sink.read_current(spark).collect()}
        assert set(hist) == {("a", 1), ("a", 2), ("a", 3)}
        assert hist[("a", 3)].is_current and hist[("a", 3)].v == 9

    def test_retry_after_head_publish_crash(self, spark, tmp_path):
        """Crash AFTER the head_v=v publish but BEFORE the pointer
        swap: the retry recomputes the same v and must overwrite the
        orphan dir, not wedge on ENOTEMPTY (review catch)."""
        import os
        import shutil

        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        sink.process(
            self._changes(spark, [_msg("insert", "a", 1, 10)]), 0, SPEC
        )
        # simulate the crashed batch-1 attempt: head_v=2 exists (copy
        # of head_v=1), pointer still at (1, 0)
        p = str(tmp_path / "hist")
        shutil.copytree(os.path.join(p, "head_v=1"), os.path.join(p, "head_v=2"))
        sink.process(
            self._changes(spark, [_msg("update", "a", 5, 20)]), 1, SPEC
        )
        hist = {(r.k, r.version): r for r in sink.read_current(spark).collect()}
        assert set(hist) == {("a", 1), ("a", 2)}
        assert hist[("a", 2)].is_current and hist[("a", 2)].v == 5

    def test_torn_compact_recovers(self, spark, tmp_path):
        """Matrix case: compact() crashed in the middle of its swap of
        the closed store (old store renamed away, fold not yet in
        place; fold in place, old store not yet removed). Every read
        path repairs the store first, and the restarted compact
        equals the uninterrupted one — no rows lost, none doubled."""
        import os

        from fault_matrix import rows, run_matrix

        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        def prepare(root):
            sink = Scd2SplitHistorySink(root)
            for i in range(3):
                sink.process(
                    self._changes(spark, [_msg("update", "a", i + 1, 10 * (i + 1))]),
                    i,
                    SPEC,
                )

        def observe(root):
            closed = os.path.join(root, "closed")
            history = rows(Scd2SplitHistorySink(root).read_current(spark))
            return history, sorted(d for d in os.listdir(closed) if d.startswith("b="))

        run_matrix(
            spark,
            tmp_path,
            prepare,
            lambda root: Scd2SplitHistorySink(root).compact(spark),
            observe,
            only=lambda step: step
            in ("_replace(closed)", "_remove(closed.swap.old)"),
        )

    def test_reserved_column_name_raises(self, spark, tmp_path):
        from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        spark.catalog.clearCache()
        zspec = TableSpec(
            database="d",
            table="t",
            columns=(
                ColumnSpec("K", "string", column="k", pk=True),
                # "b" is the closed store's partition column
                ColumnSpec("B", "string", column="b"),
            ),
        )
        msgs = [json.dumps({
            "database": "d", "table": "t", "type": "insert", "ts": 1,
            "data": {"k": "a", "b": "x"},
        })]
        from tidb_cdc_spark.cdc import parse_cdc

        df = spark.createDataFrame([(m,) for m in msgs], "value string")
        changes = parse_cdc(
            df.withColumn("_s", F.monotonically_increasing_id()),
            zspec,
            seq_col=F.col("_s"),
        )
        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        with pytest.raises(ValueError, match="reserved partition names"):
            sink.process(changes, 0, zspec)
        # nothing persisted for the batch outlives the failed call
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_failed_stage_write_releases_cache(self, spark, tmp_path, monkeypatch):
        from pyspark.sql.readwriter import DataFrameWriter

        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        spark.catalog.clearCache()
        changes = self._changes(spark, [_msg("insert", "a", 1, 10)])
        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))

        def fail(self, path, *args, **kwargs):
            raise OSError(f"injected write failure: {path}")

        monkeypatch.setattr(DataFrameWriter, "parquet", fail)
        with pytest.raises(OSError, match="injected"):
            sink.process(changes, 0, SPEC)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_compact_folds_closed_dirs(self, spark, tmp_path):
        import os

        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        for i in range(4):
            sink.process(
                self._changes(spark, [_msg("update", "a", i + 1, 10 * (i + 1))]),
                i,
                SPEC,
            )
        before = sorted(map(tuple, sink.read_current(spark).collect()))
        n_before, n_after = sink.compact(spark)
        assert n_before > 1 and n_after == 1
        assert sorted(map(tuple, sink.read_current(spark).collect())) == before
        root = os.path.join(str(tmp_path / "hist"), "closed")
        assert [d for d in os.listdir(root) if d.startswith("b=")] == ["b=3"]

    def test_idle_batches_create_no_closed_dirs(self, spark, tmp_path):
        """A batch that closes nothing (insert-only / brand-new keys /
        delete-only) must NOT add a closed/b=<id> dir — per-idle-batch
        empty dirs re-grow exactly the listing cost compact() fights
        Reads must tolerate the gaps."""
        import os

        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        sink.process(  # b0: two fresh inserts — closes nothing
            self._changes(
                spark, [_msg("insert", "a", 1, 10), _msg("insert", "b", 2, 11)]
            ),
            0,
            SPEC,
        )
        sink.process(  # b1: update a — closes a@v1
            self._changes(spark, [_msg("update", "a", 5, 20)]), 1, SPEC
        )
        sink.process(  # b2: new key only — closes nothing
            self._changes(spark, [_msg("insert", "c", 7, 30)]), 2, SPEC
        )
        root = os.path.join(str(tmp_path / "hist"), "closed")
        assert [d for d in sorted(os.listdir(root)) if d.startswith("b=")] == [
            "b=1"
        ]
        hist = {(r.k, r.version): r for r in sink.read_current(spark).collect()}
        assert set(hist) == {("a", 1), ("a", 2), ("b", 1), ("c", 1)}
        assert hist[("a", 1)].valid_to == 20
        # compact across the gap still folds to the newest published id
        n_before, n_after = sink.compact(spark)
        assert (n_before, n_after) == (1, 1)

    def test_bootstrap_then_stream(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        initial = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        sink.bootstrap(initial, SPEC, as_of=100)
        # pre-export change (ts < as_of) must be dropped; post-export
        # change closes the seeded interval
        sink.process(
            self._changes(
                spark, [_msg("update", "a", 0, 50), _msg("update", "a", 7, 200)]
            ),
            0,
            SPEC,
        )
        hist = {(r.k, r.version): r for r in sink.read_current(spark).collect()}
        assert set(hist) == {("a", 1), ("a", 2), ("b", 1)}
        assert hist[("a", 1)].valid_from == 100 and hist[("a", 1)].valid_to == 200
        assert hist[("a", 2)].is_current and hist[("a", 2)].v == 7
        assert hist[("b", 1)].is_current


def _count_jobs(spark, fn):
    """``(fn(), the number of Spark jobs it ran)``, counted by job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _parsed(spark, msgs, spec=SPEC):
    from tidb_cdc_spark.cdc import parse_cdc

    df = spark.createDataFrame([(m,) for m in msgs], "value string")
    return parse_cdc(
        df.withColumn("_s", F.monotonically_increasing_id()),
        spec,
        seq_col=F.col("_s"),
    )


class TestJobsPerBatch:
    """Spark jobs one ``process`` call costs over an existing store.
    Per-job overhead, not data, bounds a small micro-batch, so these
    counts are the sinks' fixed per-batch cost: the SCD2 sink is one
    labelled pass written once, the snapshot sink one merge written
    once. Neither plans a schema-inference job for its base read, and
    the merge conflates the batch once."""

    def test_sink_jobs_per_batch(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        hist = Scd2SplitHistorySink(str(tmp_path / "hist"))
        snap = ParquetSnapshotSink(str(tmp_path / "snap"))
        first = _parsed(
            spark, [_msg("insert", k, i, 10 + i) for i, k in enumerate("abcd")]
        ).persist()
        for sink in (hist, snap):
            sink.process(first, 0, SPEC)
        batch = _parsed(spark, [
            _msg("insert", "e", 5, 20),
            _msg("update", "a", 6, 21),
            _msg("update", "b", 7, 22),
            _msg("delete", "c", 2, 23),
        ]).persist()
        try:
            _, scd2_jobs = _count_jobs(spark, lambda: hist.process(batch, 1, SPEC))
            _, snap_jobs = _count_jobs(spark, lambda: snap.process(batch, 1, SPEC))
        finally:
            first.unpersist()
            batch.unpersist()
        assert scd2_jobs <= 3, scd2_jobs
        assert snap_jobs <= 3, snap_jobs
        # the counted calls did their work
        assert {(r.k, r.v) for r in snap.read_current(spark).collect()} == {
            ("a", 6), ("b", 7), ("d", 3), ("e", 5)}
        assert hist.read_current(spark).count() == 7


class TestSchemaKnownRead:
    """A version directory is read with the schema recorded in its
    files' footers: no Spark job, and the same schema and rows as
    ``spark.read.parquet`` of the directory, which infers the schema
    in a job of its own."""

    @staticmethod
    def _read(spark, sink):
        """The sink's version read (for the SCD2 sink: its head), after
        checking it against ``spark.read.parquet``."""
        df, jobs = _count_jobs(
            spark, lambda: ParquetSnapshotSink.read_current(sink, spark)
        )
        assert jobs == 0
        version, _ = store.read_pointer(sink.path)
        ref = spark.read.parquet(os.path.join(sink.path, f"{sink.PREFIX}{version}"))
        assert df.schema == ref.schema
        assert df.exceptAll(ref).count() == 0 and ref.exceptAll(df).count() == 0
        return df

    def test_bootstrap_merged_and_empty_versions(self, spark, tmp_path):
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        initial = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        sink.bootstrap(initial, SPEC)
        assert self._read(spark, sink).count() == 2
        merge = [_msg("insert", "c", 3, 10), _msg("update", "a", 5, 11)]
        sink.process(_parsed(spark, merge), 0, SPEC)
        assert {(r.k, r.v) for r in self._read(spark, sink).collect()} == {
            ("a", 5), ("b", 2), ("c", 3)}
        # the batch deletes every key: the version is an empty write
        sink.process(_parsed(spark, [_msg("delete", k, 0, 20) for k in "abc"]), 1, SPEC)
        assert store.read_pointer(sink.path) == (3, 1)
        assert self._read(spark, sink).count() == 0

    def test_scd2_head_from_the_staged_move(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        hist = Scd2SplitHistorySink(str(tmp_path / "hist"))
        hist.process(_parsed(spark, [_msg("insert", k, 1, 10) for k in "ab"]), 0, SPEC)
        second = [_msg("update", "a", 2, 20), _msg("delete", "b", 1, 21)]
        hist.process(_parsed(spark, second), 1, SPEC)
        assert store.read_pointer(hist.path) == (2, 1)
        head = self._read(spark, hist)
        assert {(r.k, r.v, r.version, r.is_current) for r in head.collect()} == {
            ("a", 2, 2, True), ("b", 1, 1, False)}

    def test_base_written_under_an_older_spec(self, spark, tmp_path):
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        sink.bootstrap(spark.createDataFrame([("a", 1)], "k string, v int"), SPEC)
        evolved = SPEC.evolve(
            add=(ColumnSpec("Added", "string"),), widen={"v": "bigint"}
        )
        # the base reads as it was written, not as the evolved spec says
        assert self._read(spark, sink).schema.simpleString() == "struct<k:string,v:int>"
        big = _msg_for("d", "t", "insert", {"k": "b", "v": 2**40, "added": "x"}, 30)
        sink.process(_parsed(spark, [big], evolved), 0, evolved)
        merged = self._read(spark, sink)
        assert merged.schema.simpleString() == "struct<k:string,v:bigint,added:string>"
        assert {(r.k, r.v, r.added) for r in merged.collect()} == {
            ("a", 1, None), ("b", 2**40, "x")}


class TestStreamMetrics:
    def test_progress_captured_and_jsonl(self, spark, tmp_path):
        import time

        from tidb_cdc_spark.streaming import attach_metrics

        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg("insert", "a", 1, 10),
            _msg("insert", "b", 2, 11),
            _msg("update", "a", 5, 12),
            _msg("delete", "b", 2, 13),
        ])
        jsonl = str(tmp_path / "metrics.jsonl")
        m = attach_metrics(spark, jsonl_path=jsonl)
        try:
            sink = ParquetSnapshotSink(str(tmp_path / "snap"))
            conn = _connector(
                tmp_path, [sink], maxwell_file_stream(spark, str(events_dir))
            )
            conn.start(spark, available_now=True)
            conn.await_termination()
            # listener delivery is async on the listener-bus thread
            deadline = time.time() + 15
            while time.time() < deadline and not any(
                r["num_input_rows"] == 4 for r in m.rows()
            ):
                time.sleep(0.2)
            rows = m.rows()
            batch = next(r for r in rows if r["num_input_rows"] == 4)
            assert batch["batch_id"] == 0
            assert batch["batch_duration_ms"] >= 0
            assert batch["query_id"] and batch["run_id"]
            # the DataFrame view round-trips the same series
            df = m.to_df(spark)
            got = df.filter("num_input_rows = 4").collect()
            assert len(got) == 1 and got[0].batch_id == 0
            # JSONL operational log has the same row
            with open(jsonl) as f:
                lines = [json.loads(line) for line in f]
            assert any(r["num_input_rows"] == 4 for r in lines)
            assert m.io_errors == 0
        finally:
            spark.streams.removeListener(m)

    def test_to_df_empty_safe(self, spark):
        from tidb_cdc_spark.streaming.metrics import StreamMetrics

        m = StreamMetrics()
        df = m.to_df(spark)
        assert df.count() == 0
        assert "num_input_rows" in df.columns

    def test_ring_buffer_bounds_memory(self, spark):
        from tidb_cdc_spark.streaming.metrics import StreamMetrics

        m = StreamMetrics(max_rows=3)

        class _P:
            timestamp = "t"
            id = "q"
            runId = "r"
            name = None
            durationMs = {"triggerExecution": 1, "addBatch": 1}
            stateOperators = []
            numInputRows = 1
            inputRowsPerSecond = 1.0
            processedRowsPerSecond = 1.0

        class _E:
            progress = _P()

        for i in range(10):
            _P.batchId = i
            m.onQueryProgress(_E())
        rows = m.rows()
        assert len(rows) == 3
        assert [r["batch_id"] for r in rows] == [7, 8, 9]


class TestBootstrap:
    def test_snapshot_bootstrap_then_stream(self, spark, tmp_path):
        # snapshot-then-tail: seed from a full-table export, then the
        # CDC stream applies on top (latest-wins keyed merge)
        initial = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        sink.bootstrap(initial, SPEC)
        assert {(r.k, r.v) for r in sink.read_current(spark).collect()} == {
            ("a", 1), ("b", 2)}

        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg("update", "a", 5, 12),
            _msg("insert", "c", 3, 13),
            _msg("delete", "b", 2, 14),
        ])
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()
        assert {(r.k, r.v) for r in sink.read_current(spark).collect()} == {
            ("a", 5), ("c", 3)}

    def test_bootstrap_refuses_existing(self, spark, tmp_path):
        initial = spark.createDataFrame([("a", 1)], "k string, v int")
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        sink.bootstrap(initial, SPEC)
        with pytest.raises(RuntimeError, match="already exists"):
            sink.bootstrap(initial, SPEC)

    def test_bootstrap_aligns_missing_columns(self, spark, tmp_path):
        # export lacking a spec column (pre-evolution dump): typed NULL
        initial = spark.createDataFrame([("a",)], "k string")
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        sink.bootstrap(initial, SPEC)
        row = sink.read_current(spark).collect()[0]
        assert row.k == "a" and row.v is None

    def test_scd2_bootstrap_then_stream(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        initial = spark.createDataFrame([("a", 1)], "k string, v int")
        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        with pytest.raises(ValueError, match="as_of"):
            sink.bootstrap(initial, SPEC)
        sink.bootstrap(initial, SPEC, as_of=5)

        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [_msg("update", "a", 2, 10)])
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()
        hist = {
            (r.k, r.v, r.version, r.valid_from, r.valid_to, r.is_current)
            for r in sink.read_current(spark).collect()
        }
        assert hist == {
            ("a", 1, 1, 5, 10, False),
            ("a", 2, 2, 10, None, True),
        }

    def test_scd2_bootstrap_drops_pre_asof_replay(self, spark, tmp_path):
        # a change stream started BEFORE the export point replays a
        # pre-export update; append-based history must drop it (the
        # export already reflects it) — otherwise the seeded interval
        # inverts (valid_to < valid_from) and a stale image becomes
        # current
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        initial = spark.createDataFrame([("a", 7)], "k string, v int")
        sink = Scd2SplitHistorySink(str(tmp_path / "hist"))
        sink.bootstrap(initial, SPEC, as_of=100)

        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg("update", "a", 3, 50),   # pre-export: must be dropped
            _msg("update", "a", 9, 120),  # post-export: applies
        ])
        conn = _connector(tmp_path, [sink], maxwell_file_stream(spark, str(events_dir)))
        conn.start(spark, available_now=True)
        conn.await_termination()
        hist = {
            (r.k, r.v, r.version, r.valid_from, r.valid_to, r.is_current)
            for r in sink.read_current(spark).collect()
        }
        assert hist == {
            ("a", 7, 1, 100, 120, False),
            ("a", 9, 2, 120, None, True),
        }
        # no inverted intervals anywhere
        bad = sink.read_current(spark).filter("valid_to < valid_from").count()
        assert bad == 0

    def test_rate_sanitizes_non_finite(self):
        from tidb_cdc_spark.streaming.metrics import StreamMetrics

        assert StreamMetrics._rate(float("nan")) is None
        assert StreamMetrics._rate(float("inf")) is None
        assert StreamMetrics._rate(None) is None
        assert StreamMetrics._rate(3.5) == 3.5


class TestSharedConnectorWidth:
    def test_routes_twenty_tables_sparse_batch(self, spark, tmp_path):
        """Width shape: 20 registrations, one shared stream, messages
        for only a subset — the presence prefilter must skip absent
        tables and every active table's snapshot must converge."""
        specs = [
            TableSpec(
                database="d",
                table=f"w{i:02d}",
                columns=(
                    ColumnSpec("K", "string", column="k", pk=True),
                    ColumnSpec("V", "int"),
                ),
            )
            for i in range(20)
        ]
        events_dir = tmp_path / "in"
        msgs = []
        for i in (0, 7, 19):  # sparse: 3 of 20 active
            msgs.append(
                _msg_for("d", f"w{i:02d}", "insert", {"k": "a", "v": i}, 10)
            )
            msgs.append(
                _msg_for("d", f"w{i:02d}", "update", {"k": "a", "v": i + 100}, 11)
            )
        _write_batch(events_dir, "b1.jsonl", msgs)
        conn = Connector(
            ConnectorConfig(
                server_name="srv", checkpoint_root=str(tmp_path / "ck")
            )
        )
        sinks = []
        for s in specs:
            sink = ParquetSnapshotSink(str(tmp_path / "snap" / s.table))
            sinks.append(sink)
            conn.register(s, [sink])
        q = conn.start_shared(
            spark,
            source=maxwell_file_stream(spark, str(events_dir)),
            available_now=True,
        )
        q.awaitTermination()
        for i, sink in enumerate(sinks):
            cur = sink.read_current(spark)
            if i in (0, 7, 19):
                assert {(r.k, r.v) for r in cur.collect()} == {
                    ("a", i + 100)
                }
            else:
                # absent tables skipped entirely — no snapshot dir
                assert cur is None or cur.count() == 0


class TestSharedSinkErrorPropagation:
    def test_one_failing_sink_fails_the_whole_batch(self, spark, tmp_path):
        """The driver-thread fan-out must not swallow a sink error:
        offsets may never commit past a lost table (the no-silent-
        loss stance), so the query itself must fail."""

        class BoomSink:
            def process(self, changes, batch_id, spec):
                raise RuntimeError("boom: sink failure")

        good = ParquetSnapshotSink(str(tmp_path / "snap_ok"))
        specs = []
        for i in range(3):
            specs.append(
                TableSpec(
                    database="d",
                    table=f"e{i}",
                    columns=(
                        ColumnSpec("K", "string", column="k", pk=True),
                        ColumnSpec("V", "int"),
                    ),
                )
            )
        events_dir = tmp_path / "in"
        _write_batch(events_dir, "b1.jsonl", [
            _msg_for("d", f"e{i}", "insert", {"k": "a", "v": i}, 10)
            for i in range(3)
        ])
        conn = Connector(
            ConnectorConfig(
                server_name="srv", checkpoint_root=str(tmp_path / "ck")
            )
        )
        conn.register(specs[0], [good])
        conn.register(specs[1], [BoomSink()])
        conn.register(specs[2], [ParquetSnapshotSink(str(tmp_path / "s2"))])
        q = conn.start_shared(
            spark,
            source=maxwell_file_stream(spark, str(events_dir)),
            available_now=True,
        )
        with pytest.raises(Exception, match="boom: sink failure"):
            q.awaitTermination()
