"""Sinks: the engine's replacements for the reference's
``ConsumerHandler`` extension point (``cdc_manager.go:43-47``) plus
real built-in sinks the reference lacks (SURVEY §2.1).

All sinks are driven from the Connector's one ``foreachBatch`` body
(handler fan-out loop parity, ``cdc_manager.go:277-298``) with Structured
Streaming checkpointing carrying the offsets. A failing sink fails the
batch and BLOCKS the offset commit (the reference is at-least-once
with swallowed handler errors, ``cdc_manager.go:281-299``; divergence
#3 of SURVEY §7.5), so a batch may be re-delivered. How the three
built-in stores make that replay effectively-exactly-once
(``HandlerSink`` hands it on to the user's callbacks):

- ``ParquetSnapshotSink`` and ``JdbcMergeSink`` merge latest-wins on
  the PK, which is idempotent; the snapshot sink also skips a batch id
  its pointer already records and refuses one behind it
  (``store.guard_batch_watermark``);
- ``Scd2SplitHistorySink`` appends closed versions, which is NOT
  idempotent, so it relies on that watermark guard alone.
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tidb_cdc_spark.cdc.apply import (
    align_to_spec,
    apply_changes,
    conflate_latest,
)
from tidb_cdc_spark.cdc.schema import CDCType, change_image
from tidb_cdc_spark.cdc.scd import label_scd2_split
from tidb_cdc_spark.cdc.spec import TableSpec
from tidb_cdc_spark.streaming import store
from tidb_cdc_spark.streaming.store import guard_batch_watermark


#: footer key under which Spark's Parquet writer records the row schema
_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _written(directory: str) -> tuple[StructType, int]:
    """The Spark schema ``directory``'s data files were written with
    and their total size in bytes, from one listing. The schema is
    read from one file's footer on the driver: the schema
    ``spark.read.parquet`` infers, without the Spark job inference
    runs. Every version directory is a Spark write (``commit_version``),
    which leaves at least one file, with the key, even when empty."""
    import pyarrow.parquet as pq

    names = [
        n
        for n in os.listdir(directory)
        if n.startswith("part-") and n.endswith(".parquet")
    ]
    meta = pq.read_metadata(os.path.join(directory, min(names))).metadata
    size = sum(os.path.getsize(os.path.join(directory, n)) for n in names)
    return StructType.fromJson(json.loads(meta[_ROW_SCHEMA_KEY])), size


def _split_bytes(spark) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes. Unset, the
    session returns it with a unit (``'134217728b'``), so it is parsed
    by Spark's own byte-string rule."""
    conf = spark.conf.get("spark.sql.files.maxPartitionBytes")
    return spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)


class Sink:
    """One registered consumer of a table's typed change stream."""

    def process(self, changes: DataFrame, batch_id: int, spec: TableSpec) -> None:
        raise NotImplementedError


@dataclass
class ParquetSnapshotSink(Sink):
    """Maintains a queryable current-state snapshot in Parquet via
    versioned directories (v=N) with a _CURRENT pointer — the
    copy-on-write MERGE pattern for a plain-Parquet table (commit
    protocol: ``store.py``).

    Cost: each batch rewrites the whole snapshot via an anti-join on
    PK. Rewriting only the PK-hash buckets a batch touches would not
    help on uniform traffic: a ``snapshot_merge`` batch
    (``perfbench/gen.py``) hashes 1,000 keys, 600 fresh inserts plus
    400 updates or deletes of uniformly chosen live keys, so it
    touches 1 − e^(−1000/N) of N buckets: about 98 % at N = 256, and
    more with fewer buckets.

    The rewrite's fixed cost is per file: each one is a write task, a
    deserialized Hadoop configuration and forked ``chmod`` calls,
    which outweigh the data of a small version. So the merge reads its
    base in ``ceil(bytes / spark.sql.files.maxPartitionBytes)``
    partitions, coalesced with no shuffle, and a version is written as
    that many files plus the upserts' own: two for a small table,
    where Spark's own read would spread the base over every core. A
    base many splits long keeps about the split count Spark's read
    gives it. Only the merge path does this: ``read_current`` keeps
    Spark's parallel split for readers, and ``Scd2SplitHistorySink``
    writes through its window shuffle, which sizes its output already.

    A version directory is read with the schema its writer recorded
    (``_written``), so a read plans no schema-inference job.

    Replay: ``_CURRENT`` records the batch id of the version it names,
    so a re-delivered batch leaves the snapshot as it is, and a batch
    id behind it (a fresh checkpoint on a live path) raises
    (``store.guard_batch_watermark``).
    """

    path: str
    PREFIX = "v="  # version directories: <path>/v=N

    def _last_batch_id(self) -> int | None:
        p = store.read_pointer(self.path)
        return None if p is None else p[1]

    def _read_version(self, spark, version: int) -> tuple[DataFrame, int]:
        """Version ``version`` and its size in bytes."""
        directory = os.path.join(self.path, f"{self.PREFIX}{version}")
        schema, size = _written(directory)
        return spark.read.schema(schema).parquet(directory), size

    def read_current(self, spark) -> DataFrame | None:
        p = store.read_pointer(self.path)
        return None if p is None else self._read_version(spark, p[0])[0]

    def bootstrap(self, initial: DataFrame, spec: TableSpec) -> None:
        """Seed the snapshot with an initial full-table load — the
        snapshot-then-tail bootstrap every CDC migration starts with
        (the reference has no equivalent: it can only consume the
        topic from an offset, so a table older than the topic's
        retention can never be fully materialized).

        ``initial`` is the table exported from the source (parquet
        dump, JDBC read, …); columns are aligned to the spec exactly
        like a pre-evolution base (missing → typed NULL). Written as
        the first version with batch watermark −1, so the stream's
        batch 0 applies normally on top. Refuses to overwrite an
        existing snapshot — re-bootstrapping over live state is data
        loss, not a retry.

        Ordering caveat (same as any snapshot+log system): start the
        change stream from an offset AT OR BEFORE the export's
        consistent point; the PK-keyed latest-wins merge makes the
        overlap idempotent.
        """
        if store.read_pointer(self.path) is not None:
            raise RuntimeError(
                f"snapshot at {self.path} already exists — bootstrap "
                "targets a fresh path (re-seeding live state would "
                "discard applied changes)"
            )
        store.commit_version(self.path, self.PREFIX, align_to_spec(initial, spec), -1)

    def process(self, changes: DataFrame, batch_id: int, spec: TableSpec) -> None:
        p = store.read_pointer(self.path)
        if guard_batch_watermark(None if p is None else p[1], batch_id, "snapshot"):
            return
        spark = changes.sparkSession
        base = None
        if p is not None:
            # each base partition is written back as one file
            version, size = self._read_version(spark, p[0])
            base = version.coalesce(max(1, math.ceil(size / _split_bytes(spark))))
        merged = apply_changes(base, changes, spec)
        store.commit_version(self.path, self.PREFIX, merged, batch_id)


@dataclass
class Scd2SplitHistorySink(ParquetSnapshotSink):
    """Maintains a Type-2 SCD history table (versioned rows with
    ``[valid_from, valid_to)`` intervals, ``cdc/scd.py``) instead of a
    current-state snapshot. Checkpointed offsets + per-key ordered
    batches ⇒ the stored history equals a one-shot ``scd2_history``
    replay of the full log (pinned by the fold tests). Layout:

    - ``head_v=N/`` — ONE row per key ever seen (its latest version;
      open, or delete-closed with no successor), rewritten per batch
      with the same versioned-dir + atomic-pointer mechanics as
      ``ParquetSnapshotSink`` — cost ∝ live keyspace, the SAME
      accepted baseline as the latest-wins snapshot sink;
    - ``closed/b=<batch_id>/`` — every superseded version, written
      ONCE and immutable forever — cost ∝ batch;
    - ``_BOOTSTRAP`` — the as-of point of a seeded history, if any.

    ``read_current`` = head ∪ closed(b ≤ watermark). The pointer swap
    publishes both; a retry overwrites its own unpublished
    ``closed/b=<id>`` (commit protocol: ``store.py``). The merge is
    append-based and NOT naturally idempotent — a foreachBatch
    re-delivery after a crash (offsets commit after ``process``)
    would close the batch's own just-written intervals and append
    duplicate versions — so the batch watermark in the ``_CURRENT``
    pointer makes replays an explicit no-op.

    ``compact()`` folds the accumulated per-batch closed dirs into
    one; it costs ONE closed-store rewrite (∝ closed bytes,
    independent of batch count). Compact when closed dirs reach a few
    dozen; shorten the cadence only if the store is read between
    batches (the listing cost, not write cost, is then the binding
    term)."""

    PREFIX = "head_v="

    def bootstrap(
        self,
        initial: DataFrame,
        spec: TableSpec,
        as_of=None,
        ts_dtype: str = "long",
    ) -> None:
        """Seed the history with an initial full-table load: every
        row becomes its entity's version 1, open-ended
        ``[as_of, null)`` — pre-export history is unknowable from a
        snapshot, so the export's consistent point is where recorded
        history begins. ``as_of`` (required) must use the change
        stream's ts representation (``ts_dtype``, default epoch
        ``long`` to match the Maxwell envelope); the first change to
        a key AFTER ``as_of`` closes its seeded interval via the
        normal merge path.

        Overlap handling differs from the snapshot sink: latest-wins
        absorbs a replayed pre-export change, but the history merge
        would close the seeded ``[as_of, null)`` interval at the
        stale change's EARLIER ts — an inverted interval plus a
        duplicate version carrying a pre-export image. So ``as_of``
        is persisted next to the pointer and ``process`` drops
        change rows with ts < as_of: they are already reflected in
        the export by definition of its consistent point."""
        if store.read_pointer(self.path) is not None:
            raise RuntimeError(
                f"history at {self.path} already exists — bootstrap "
                "targets a fresh path"
            )
        if as_of is None:
            raise ValueError(
                "as_of (the export's consistent point) is required for "
                "an SCD2 bootstrap — seeded intervals start there"
            )
        seeded = (
            align_to_spec(initial, spec)
            .withColumn("version", F.lit(1).cast("long"))
            .withColumn("valid_from", F.lit(as_of).cast(ts_dtype))
            .withColumn("valid_to", F.lit(None).cast(ts_dtype))
            .withColumn("is_current", F.lit(True))
        )
        # _BOOTSTRAP first: the pointer publishes the seeded version,
        # so a crash in between leaves a path bootstrap() can retry
        store.atomic_write(
            os.path.join(self.path, "_BOOTSTRAP"),
            {"as_of": as_of, "ts_dtype": ts_dtype},
        )
        store.commit_version(self.path, self.PREFIX, seeded, -1)

    def _since_bootstrap(self, changes: DataFrame) -> DataFrame:
        """Drop pre-export changes: they are already in the seeded
        state, and for history (unlike latest-wins) replaying them is
        not idempotent — see bootstrap()."""
        boot = store.read_json(os.path.join(self.path, "_BOOTSTRAP"))
        if boot is None:
            return changes
        return changes.filter(
            F.col("ts") >= F.lit(boot["as_of"]).cast(boot["ts_dtype"])
        )

    def _closed_root(self) -> str:
        return os.path.join(self.path, "closed")

    def _read_closed(self, spark) -> DataFrame | None:
        root = self._closed_root()
        store.recover(root)  # roll back a torn compact before reading
        wm = self._last_batch_id()
        if wm is None or not os.path.exists(root):
            return None
        dirs = [d for d in os.listdir(root) if d.startswith("b=")]
        if not any(int(d[2:]) <= wm for d in dirs):
            return None
        return (
            spark.read.option("basePath", root)
            .parquet(root)
            .filter(F.col("b") <= wm)
            .drop("b")
        )

    def read_current(self, spark) -> DataFrame | None:
        head = super().read_current(spark)
        if head is None:
            return None
        closed = self._read_closed(spark)
        return head if closed is None else head.unionByName(closed)

    def process(self, changes: DataFrame, batch_id: int, spec: TableSpec) -> None:
        if guard_batch_watermark(self._last_batch_id(), batch_id, "history"):
            return
        # the stores' layout reserves two names a table column cannot
        # use (partition dirs derive from them); fail loudly, not by
        # silently overwriting the data column
        reserved = {"scd2zone", "b"} & {c.target for c in spec.resolved_columns()}
        if reserved:
            raise ValueError(
                f"table columns {sorted(reserved)} collide with the "
                "split-store layout's reserved partition names "
                "(scd2zone, b) — rename via ColumnSpec(column=...)"
            )
        changes = self._since_bootstrap(changes)
        store.recover(self._closed_root())
        head = super().read_current(changes.sparkSession)
        labelled = label_scd2_split(head, changes, spec)
        # the one labelled pass is ONE partitioned write, staged and
        # then moved into the two stores; the pointer swap publishes
        # both. Single writer: whatever is left in _stage is a crashed
        # attempt's
        staging = os.path.join(self.path, "_stage")
        store.remove(staging)
        zone = F.when(F.col("__head"), "head").otherwise("closed")
        (
            labelled.withColumn("scd2zone", zone)
            .drop("__head")
            .write.partitionBy("scd2zone")
            .mode("overwrite")
            .parquet(staging)
        )
        closed_dst = os.path.join(self._closed_root(), f"b={batch_id}")
        os.makedirs(self._closed_root(), exist_ok=True)
        src_closed = os.path.join(staging, "scd2zone=closed")
        src_head = os.path.join(staging, "scd2zone=head")
        if os.path.exists(src_closed):
            store.move(src_closed, closed_dst)
        else:
            # batch closed nothing — create NO b=<id> dir at all
            # (_read_closed tolerates gaps; an empty dir per idle
            # batch would re-grow the listing cost compact()
            # fights), but clear a torn prior attempt
            store.remove(closed_dst)
        # an empty stream batch over an empty store stages no head
        if not os.path.exists(src_head):
            src_head = labelled.drop("__head").limit(0)
        store.commit_version(self.path, self.PREFIX, src_head, batch_id)
        store.remove(staging)

    def compact(self, spark) -> tuple[int, int]:
        """Fold all published ``closed/b=*`` dirs into the newest one
        — per-batch dirs make ``read_current`` listing cost grow with
        batch count (~1 file set per batch). Returns
        ``(dirs_before, dirs_after)``. The fold replaces the whole
        closed store with one ``store.swap_in``; unpublished dirs
        (> watermark, left by a crashed batch) are dropped — the retry
        of that batch rewrites them."""
        root = self._closed_root()
        store.recover(root)
        wm = self._last_batch_id()
        if wm is None or not os.path.exists(root):
            return (0, 0)
        dirs = sorted(
            int(d[2:])
            for d in os.listdir(root)
            if d.startswith("b=") and int(d[2:]) <= wm
        )
        if len(dirs) <= 1:
            return (len(dirs), len(dirs))
        merged = self._read_closed(spark)
        tmp = store.staging(root)
        merged.coalesce(max(1, merged.rdd.getNumPartitions() // 8)).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, f"b={dirs[-1]}"))
        store.swap_in(tmp, root)
        return (len(dirs), 1)


@dataclass
class JdbcMergeSink(Sink):
    """Upsert into an RDBMS table: conflated batch → staging table via
    JDBC → one MERGE statement keyed on PK (exactly-once to the
    target given idempotent MERGE + checkpointed offsets).

    Column identifiers are double-quoted (ANSI) in the generated
    MERGE, matching Spark's JDBC writer, which always quotes the
    column names it creates; table names are passed through as given
    so they resolve the same way for both engines. Integration-tested
    end-to-end against embedded Derby (on Spark's classpath; MERGE
    since 10.11) — in-memory Derby is same-JVM only, so on a real
    cluster point ``url`` at a network-reachable database.

    ``create_column_types`` is forwarded to the staging write's
    ``createTableColumnTypes`` — needed for dialects that map
    StringType to a non-comparable type by default (Derby: CLOB,
    which cannot sit in a MERGE ON clause).
    """

    url: str
    table: str
    properties: dict | None = None
    create_column_types: str | None = None

    def merge_sql(self, spec: TableSpec, staging: str) -> str:
        def q(c: str) -> str:
            return '"' + c + '"'

        cols = [c.source for c in spec.resolved_columns()]
        pk = spec.pk_columns
        on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in pk)
        sets = ", ".join(f"{q(c)} = s.{q(c)}" for c in cols if c not in pk)
        ins_cols = ", ".join(q(c) for c in cols)
        ins_vals = ", ".join(f"s.{q(c)}" for c in cols)
        op = q("_op")
        return (
            f"MERGE INTO {self.table} t USING {staging} s ON {on} "
            f"WHEN MATCHED AND s.{op} = 'delete' THEN DELETE "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED AND s.{op} <> 'delete' THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        )

    def process(self, changes: DataFrame, batch_id: int, spec: TableSpec) -> None:
        latest = conflate_latest(changes, spec.pk_columns)
        staged = latest.select(
            F.col("op").alias("_op"),
            *change_image([c.source for c in spec.resolved_columns()]),
        )
        staging = f"{self.table}_stage_{batch_id}"
        props = self.properties or {}
        writer = (
            staged.write.format("jdbc")
            .option("url", self.url)
            .option("dbtable", staging)
            .options(**props)
        )
        if self.create_column_types:
            writer = writer.option("createTableColumnTypes", self.create_column_types)
        writer.mode("overwrite").save()
        spark = changes.sparkSession
        try:
            self._execute(spark, self.merge_sql(spec, staging))
        finally:
            # staging is per-batch scratch; a failed merge fails the
            # batch and the retry overwrites it anyway
            self._execute(spark, f"DROP TABLE {staging}", ignore_errors=True)

    def _execute(self, spark, sql: str, ignore_errors: bool = False) -> None:
        """Run one statement driver-side over java.sql (py4j) — the
        MERGE is a single server-side statement, not a Spark job."""
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in (self.properties or {}).items():
            props.setProperty(k, str(v))
        conn = jvm.java.sql.DriverManager.getConnection(self.url, props)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(sql)
            except Exception:
                if not ignore_errors:
                    raise
            finally:
                stmt.close()
        finally:
            conn.close()


class HandlerSink(Sink):
    """ConsumerHandler parity (``cdc_manager.go:43-47``): user
    callbacks per op type, receiving DataFrames (set-oriented — the
    Spark-first upgrade of the row-at-a-time Go interface).

    Create(after) / Update(before, after) / Delete(before)."""

    def __init__(
        self,
        on_create: Callable[[DataFrame], None] | None = None,
        on_update: Callable[[DataFrame, DataFrame], None] | None = None,
        on_delete: Callable[[DataFrame], None] | None = None,
    ):
        self.on_create = on_create
        self.on_update = on_update
        self.on_delete = on_delete

    def process(self, changes: DataFrame, batch_id: int, spec: TableSpec) -> None:
        if self.on_create:
            rows = changes.filter(F.col("op") == CDCType.INSERT).select("after.*")
            self.on_create(rows)
        if self.on_update:
            upd = changes.filter(F.col("op") == CDCType.UPDATE)
            self.on_update(upd.select("before.*"), upd.select("after.*"))
        if self.on_delete:
            rows = changes.filter(F.col("op") == CDCType.DELETE).select("before.*")
            self.on_delete(rows)


class MemorySink(Sink):
    """Collects typed change rows per batch — test instrumentation."""

    def __init__(self):
        self.batches: list[tuple[int, list]] = []

    def process(self, changes: DataFrame, batch_id: int, spec: TableSpec) -> None:
        self.batches.append((batch_id, changes.collect()))
