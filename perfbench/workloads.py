"""The benchmark's workloads: closed-loop drains of a pre-generated
backlog through the engine's public API, timed from outside.

Every workload runs the same shape of loop: set up (session, bootstrap,
warm-up operations), run operations back to back until the measured
window of ``seconds`` has passed, check the output against the DuckDB
oracle, and in a traced run probe it with a reader. An operation is one
micro-batch for the streaming workloads and one backfill job for
``backfill_parse``.
"""

from __future__ import annotations

import datetime
import json
import os
import random
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from perfbench.oracle import Oracle, consumed_files, read_pointer
from perfbench.trace import Tracer, dir_stats, spark_event_metrics

#: Operations run before the measured window, per workload; ``setup_s``
#: includes them and the first is ``job_cold_s`` (reported as the
#: per-layer ``traced.job_cold_s``). Even with the JIT settings below,
#: CPU per operation falls for the first few operations: by about 15 %
#: over the first three ``snapshot_merge`` batches after the cold one,
#: and by 5-10 % from the second ``many_tables`` batch to the third. A
#: slow run measures fewer operations, so without these its figure also
#: moved by how many of them were still warming up.
WARMUP_OPS = {"snapshot_merge": 4, "many_tables": 3, "backfill_parse": 2}
#: Reader probes after the drain of a traced run: the first warms up
#: and is not measured; ``read_s`` and ``read_cpu_s`` are medians of the
#: rest. Untraced runs skip the probe, whose figures spread too much to
#: gate (0.13 across ten runs) and which cost 7 s of a slow run.
READ_REPS = 5
LOOKUP_KEYS = 1000
#: The driver JVM compiles with C1 only and collects with the serial
#: collector. With the default tiered JIT, C2 compilation keeps one to
#: two cores busy for the first minute and per-batch CPU falls by half
#: across a 20 s window, so a run's figures depended on how far the JIT
#: had got; with C1 only it is flat from the second batch on. G1's GC
#: threads added CPU to the reader probes and moved peak RSS by 10-18 %
#: between runs; the serial collector does neither.
JVM_FLAGS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC"


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    """State of one benchmark run: where it works, its tracer, and the
    tally of operations attempted and failed."""

    def __init__(self, workload, work, inputs, seed, seconds, trace, t_start, cpu_offset):
        self.warmup = WARMUP_OPS[workload]
        self.work, self.inputs = work, inputs
        self.seed, self.seconds = seed, seconds
        self.tracer = Tracer(trace)
        self.t_start = t_start  # epoch seconds at process start
        self.cpu_offset = cpu_offset  # CPU seconds of input generation, not set-up
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        self.spark = None

    def log(self, what: str) -> None:
        """Progress line on stderr with the time since process start."""
        print(f"perfbench: {time.time() - self.t_start:7.2f}s {what}", file=sys.stderr, flush=True)

    def op(self, ok: bool = True) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, report: dict) -> None:
        self.log(f"oracle {name}: {'ok' if report['ok'] else 'MISMATCH'}")
        self.checks.append({"check": name, **report})
        self.op(report["ok"])

    # --- session -------------------------------------------------------
    def start_spark(self):
        from tidb_cdc_spark import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # no hsperfdata file: HotSpot writes it under /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData {JVM_FLAGS}",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        if self.tracer.enabled:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.event_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.log("session started")
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — a hung JVM is killed below
                    proc.kill()
                    proc.wait()

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return None
        # spark-submit execs java, but a wrapper shell may sit in between
        for pid in [proc.pid, *_children(proc.pid)]:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().strip() == "java":
                        return pid
            except OSError:
                continue
        return None

    # --- tracing helpers --------------------------------------------------
    @contextmanager
    def job_description(self, text: str):
        """Label the Spark jobs this thread submits (restored after), so
        the event log attributes them."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(text)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    def timed(self, layer: str, trace_id: str, action):
        """Run ``action`` under a span and a ``trace:<layer>`` job
        description; return its duration in seconds."""
        t0 = time.perf_counter()
        with self.job_description(f"trace:{layer}:{trace_id}"), self.tracer.span(layer, trace_id):
            action()
        return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return out


_TICKS = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM and its Python workers. Reaped children
    count through their parent's ``cutime``/``cstime``."""
    parent, stat = {}, {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(d)] = int(fields[1])
            stat[int(d)] = fields
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stat:
            total += sum(int(x) for x in stat[pid][11:15])  # utime stime cutime cstime
        todo.extend(p for p, pp in parent.items() if pp == pid)
    return total / _TICKS


def peak_rss_mb(run: Run) -> float:
    """Peak RSS (VmHWM) of this Python process plus the JVM."""
    total = 0
    for pid in ("self", run.jvm_pid()):
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024


def _noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# streaming drain


class Gate:
    """Cuts a streaming drain at the end of the measured window: after
    ``close()`` fixes the cutoff batch, sinks of later batches return
    without writing, so every sink has applied exactly batches
    ``0..cutoff``."""

    def __init__(self):
        self._lock = threading.Lock()
        self._seen = -1
        self.cutoff: int | None = None
        #: batch id -> CPU seconds of the process tree when the batch's
        #: first sink started
        self.cpu_marks: dict[int, float] = {}

    def admit(self, batch_id: int) -> bool:
        with self._lock:
            if batch_id not in self.cpu_marks:
                self.cpu_marks[batch_id] = cpu_s()
            if self.cutoff is not None and batch_id > self.cutoff:
                return False
            self._seen = max(self._seen, batch_id)
            return True

    def close(self) -> int:
        with self._lock:
            self.cutoff = self._seen
            return self.cutoff


def make_measured_sink(run: Run, inner, gate: Gate, probe=None, change_bytes=None):
    """Delegating ``Sink`` around a real sink: honours the gate and, in
    a traced run, records the sink's process span, its written bytes
    and files, and runs ``probe`` (noop-sink layer timings) first."""
    from tidb_cdc_spark.streaming import Sink

    cls = type(inner).__name__

    class MeasuredSink(Sink):
        def process(self, changes, batch_id, spec):
            if not gate.admit(batch_id):
                return
            tid = f"{spec.table}:{batch_id}"
            tr = run.tracer
            if tr.enabled and batch_id >= run.warmup:
                with run.job_description(f"trace:probe:{tid}"):
                    merge_s = probe(changes, batch_id, spec) if probe else 0.0
                t0 = time.perf_counter()
                with tr.span(f"streaming.sinks.{cls}.process", tid):
                    inner.process(changes, batch_id, spec)
                dt = time.perf_counter() - t0
                written, files = _written(inner, batch_id)
                tr.count(f"streaming.sinks.{cls}.process_s", dt, tid)
                tr.count(f"streaming.sinks.{cls}.commit_s", dt - merge_s, tid)
                tr.count(f"streaming.sinks.{cls}.bytes_written", written, tid)
                tr.count(f"streaming.sinks.{cls}.files_written", files, tid)
                nbytes = change_bytes(batch_id, spec.table) if change_bytes else 0
                tr.count(f"streaming.sinks.{cls}.write_amp", written / nbytes if nbytes else 0.0, tid)
            else:
                inner.process(changes, batch_id, spec)

    return MeasuredSink()


def _written(sink, batch_id) -> tuple[int, int]:
    """Bytes and files of the version a sink just committed."""
    version, _ = read_pointer(sink.path)
    if type(sink).__name__ == "Scd2SplitHistorySink":
        b1, f1 = dir_stats(os.path.join(sink.path, f"head_v={version}"))
        b2, f2 = dir_stats(os.path.join(sink.path, "closed", f"b={batch_id}"))
        return b1 + b2, f1 + f2
    return dir_stats(os.path.join(sink.path, f"v={version}"))


def _progress_end(p: dict) -> tuple[float, float]:
    start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


def drain(run: Run, query) -> list[dict]:
    """Let ``query`` run its warm-up batches, then the measured window,
    then cut it at a batch boundary; return the progress reports of
    every applied batch, in batch order.

    While batches run it waits on the gate's marks only: fetching
    ``recentProgress`` costs CPU in both processes, which would land in
    the batch it overlaps."""
    gate = run.gate

    def progress() -> dict[int, dict]:
        return {p["batchId"]: p for p in (json.loads(x.json) for x in query.recentProgress)}

    def wait_for_mark(batch_id: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while batch_id not in gate.cpu_marks:
            if not query.isActive:
                raise RuntimeError(f"streaming query stopped: {query.exception()}")
            if time.time() > deadline:
                return False
            time.sleep(0.05)
        return True

    if not wait_for_mark(run.warmup, 120):
        raise RuntimeError(f"no batch {run.warmup} within 120 s")
    run.setup_end = _progress_end(progress()[run.warmup - 1])[1]
    run.log("warm-up done")
    time.sleep(max(0.0, run.setup_end + run.seconds - time.time()))
    cutoff = gate.close()
    # the next batch's first (gated) sink call closes the cutoff batch's CPU sample
    wait_for_mark(cutoff + 1, 60)
    reports = progress()
    while cutoff not in reports:  # the input ran out before batch cutoff + 1
        time.sleep(0.1)
        reports = progress()
    query.stop()
    run.log(f"drain cut after batch {cutoff}")
    return [reports[b] for b in range(cutoff + 1)]


def stream_metrics(run: Run, reports: list[dict]) -> dict:
    measured = reports[run.warmup:]
    lat = [p["durationMs"]["triggerExecution"] / 1000.0 for p in measured]
    first, last = _progress_end(measured[0])[0], _progress_end(measured[-1])[1]
    rows = sum(p["numInputRows"] for p in measured)
    run.window = (first, last)
    run.n_measured = len(measured)
    # CPU of batch b: from its first sink call to the next batch's
    marks = run.gate.cpu_marks
    sampled = [b for b in range(run.warmup, len(reports)) if b + 1 in marks]
    cpu = [marks[b + 1] - marks[b] for b in sampled]
    run.log("batch latencies " + " ".join(
        f"{p['durationMs']['triggerExecution'] / 1e3:.2f}" for p in reports) + f" (first {run.warmup} warm-up)")
    run.log("measured batch cpu " + " ".join(f"{x:.2f}" for x in cpu))
    for p in measured:
        s, e = _progress_end(p)
        run.tracer.add_span("streaming.connector.trigger", s, e, str(p["batchId"]))
        d = p["durationMs"]
        run.tracer.count("streaming.connector.trigger_s", d["triggerExecution"] / 1e3, str(p["batchId"]))
        run.tracer.count("streaming.connector.planning_s", d.get("queryPlanning", 0) / 1e3)
        run.tracer.count("streaming.connector.wal_commit_s",
                         (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
    sampled_rows = sum(reports[b]["numInputRows"] for b in sampled)
    return {
        "setup_s": marks[run.warmup] - run.cpu_offset,
        "batch_cpu_s": median(cpu),
        "rows_per_cpu_s": sampled_rows / sum(cpu),
        "setup_wall_s": run.setup_end - run.t_start,
        "rows_per_s": rows / (last - first),
        "batch_p50_s": median(lat),
        "job_cold_s": reports[0]["durationMs"]["triggerExecution"] / 1000.0,
    }


def connector_overhead(run: Run, reports: list[dict]) -> None:
    """Per batch: trigger time minus the time covered by the sinks'
    process spans and the tracer's probes (sinks of different tables
    run concurrently, so covered time is the union of their spans)."""
    tr = run.tracer
    spans: dict[str, list[tuple[float, float]]] = {}
    tables: dict[str, set] = {}
    for s in tr.spans:
        if s["parent"] is None and ":" in s["trace"]:
            table, b = s["trace"].split(":")
            spans.setdefault(b, []).append((s["start"], s["end"]))
            tables.setdefault(b, set()).add(table)
    for p in reports[run.warmup:]:
        b = str(p["batchId"])
        covered, reach = 0.0, float("-inf")
        for start, end in sorted(spans.get(b, ())):
            covered += max(0.0, end - max(start, reach))
            reach = max(reach, end)
        tr.count("streaming.connector.overhead_s", p["durationMs"]["triggerExecution"] / 1e3 - covered)
        tr.count("streaming.connector.tables_live", len(tables.get(b, ())))


def _batch_file(checkpoint: str, batch_id: int) -> str:
    """The file the source read for ``batch_id`` (one file per trigger)."""
    return consumed_files(checkpoint, batch_id)[-1]


def snapshot_merge(run: Run) -> dict:
    from pyspark.sql import functions as F

    from perfbench.specs import orders_spec
    from tidb_cdc_spark.cdc import apply_changes, conflate_latest, parse_cdc
    from tidb_cdc_spark.sources import kafka_shaped_file_stream, maxwell_file_batch
    from tidb_cdc_spark.sources.files import KAFKA_ENVELOPE_SCHEMA
    from tidb_cdc_spark.streaming import Connector, ConnectorConfig, ParquetSnapshotSink

    spark = run.start_spark()
    spec = orders_spec()
    boot_file = os.path.join(run.inputs, "bootstrap.jsonl")
    sink = ParquetSnapshotSink(os.path.join(run.work, "snapshot"))
    initial = parse_cdc(maxwell_file_batch(spark, boot_file), spec).select("after.*")
    sink.bootstrap(initial, spec)
    run.log("bootstrap written")
    ckpt_root = os.path.join(run.work, "ckpt")
    conn = Connector(ConnectorConfig(server_name="bench", checkpoint_root=ckpt_root))
    group = spec.topic("bench")
    checkpoint = os.path.join(ckpt_root, group)
    files = {f["file"]: f for f in run.manifest["files"]}

    def change_bytes(batch_id, table):
        path = _batch_file(checkpoint, batch_id)
        return files[os.path.relpath(path, run.inputs)]["table_bytes"].get(table, 0)

    def probe(changes, batch_id, spec_):
        """Noop-sink timings of source read, parse, conflate and merge
        on this batch's own file; returns the merge time."""
        tid = f"{spec_.table}:{batch_id}"
        path = _batch_file(checkpoint, batch_id)
        with run.tracer.span("trace.probe", tid):
            raw = spark.read.schema(KAFKA_ENVELOPE_SCHEMA).json(path)
            read_s = run.timed("sources.read", tid, _noop(raw))
            parsed = parse_cdc(raw, spec_, seq_col=F.col("offset").cast("long"))
            parse_s = run.timed("cdc.parse", tid, _noop(parsed))
            cached = parsed.persist()
            rows_out = cached.count()
            conflated = conflate_latest(cached, spec_.pk_columns)
            conflate_s = run.timed("cdc.apply.conflate", tid, _noop(conflated))
            keys = conflated.count()
            base = sink.read_current(spark)
            base_rows = base.count()
            merge_s = run.timed("cdc.apply.merge", tid, _noop(apply_changes(base, cached, spec_)))
            cached.unpersist()
        tr = run.tracer
        rows_in = files[os.path.relpath(path, run.inputs)]["rows"]
        tr.count("sources.read_s", read_s, tid)
        tr.count("sources.bytes_in", os.path.getsize(path), tid)
        tr.count("cdc.parse.self_s", parse_s - read_s, tid)
        tr.count("cdc.parse.rows_in", rows_in, tid)
        tr.count("cdc.parse.rows_out", rows_out, tid)
        tr.count("cdc.parse.yield", rows_out / rows_in, tid)
        tr.count("cdc.apply.conflate_self_s", conflate_s, tid)
        tr.count("cdc.apply.conflate_ratio", keys / rows_out, tid)
        tr.count("cdc.apply.merge_self_s", merge_s - conflate_s, tid)
        tr.count("cdc.apply.base_rows", base_rows, tid)
        tr.count("cdc.apply.touched_frac", keys / base_rows, tid)
        return merge_s

    run.gate = Gate()
    conn.register(
        spec,
        [make_measured_sink(run, sink, run.gate, probe, change_bytes)],
        source=kafka_shaped_file_stream(spark, os.path.join(run.inputs, "stream"), 1),
    )
    (query,) = conn.start(spark)
    reports = drain(run, query)
    conn.stop()
    metrics = stream_metrics(run, reports)
    connector_overhead(run, reports)
    run.attempted += len(reports)

    version, watermark = read_pointer(sink.path)
    applied = consumed_files(checkpoint, watermark)
    oracle = Oracle()
    try:
        run.check("snapshot", oracle.check_snapshot(
            spec, os.path.join(sink.path, f"v={version}"), applied,
            kafka=True, bootstrap_files=[boot_file]))
        keys = random.Random(run.seed).sample(range(run.manifest["bootstrap_rows"]), LOOKUP_KEYS)
        expected_hits = oracle.lookup_hits("id", keys)
    finally:
        oracle.close()
    if run.tracer.enabled:
        metrics.update(read_probe(run, lambda: [sink.read_current(spark)], "id", keys, expected_hits))
        run_queries(run)
    return metrics


def read_probe(run: Run, frames, pk: str, keys, expected_hits: int) -> dict:
    """Wall and CPU time, median over the measured ``READ_REPS``, of:
    open the current output, take a full-scan checksum of every frame,
    and look up ``keys`` in the first one. The checksum must agree
    across repetitions and the lookup must find ``expected_hits`` rows."""
    from pyspark.sql import functions as F

    times, cpus, sums = [], [], set()
    for _ in range(READ_REPS):
        t0, c0 = time.perf_counter(), cpu_s()
        dfs = frames()
        sums.add(tuple(
            tuple(df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).bitwiseAND(0xFFFFFFFF))).first()) for df in dfs
        ))
        hits = dfs[0].filter(F.col(pk).isin(list(keys))).collect()
        times.append(time.perf_counter() - t0)
        cpus.append(cpu_s() - c0)
        run.op(len(hits) == expected_hits)
    run.op(len(sums) == 1)
    run.log("read probe done: wall " + " ".join(f"{x:.2f}" for x in times)
            + " cpu " + " ".join(f"{x:.2f}" for x in cpus))
    return {"read_s": median(times[1:]), "read_cpu_s": median(cpus[1:])}


def many_tables(run: Run) -> dict:
    from perfbench.specs import many_spec
    from tidb_cdc_spark.cdc import apply_changes
    from tidb_cdc_spark.cdc.scd import merge_scd2_split
    from tidb_cdc_spark.sources import kafka_shaped_file_stream
    from tidb_cdc_spark.streaming import (
        Connector,
        ConnectorConfig,
        ParquetSnapshotSink,
        Scd2SplitHistorySink,
    )

    spark = run.start_spark()
    tables = run.manifest["tables"]
    specs = {t: many_spec(t) for t in tables}
    history = set(tables[1::4])  # a quarter of the tables keep SCD2 history
    ckpt_root = os.path.join(run.work, "ckpt")
    checkpoint = os.path.join(ckpt_root, "_shared")
    conn = Connector(ConnectorConfig(server_name="bench", checkpoint_root=ckpt_root))
    files = {f["file"]: f for f in run.manifest["files"]}
    run.gate = Gate()

    def change_bytes(batch_id, table):
        path = _batch_file(checkpoint, batch_id)
        return files[os.path.relpath(path, run.inputs)]["table_bytes"].get(table, 0)

    def scd_probe_for(store):
        def probe(changes, batch_id, spec_):
            """Noop-sink timing of the split SCD2 merge on this batch."""
            tid = f"{spec_.table}:{batch_id}"
            with run.tracer.span("trace.probe", tid):
                cached = changes.persist()
                cached.count()
                version, _ = read_pointer(store.path) if os.path.exists(
                    os.path.join(store.path, "_CURRENT")) else (None, None)
                head = (spark.read.parquet(os.path.join(store.path, f"head_v={version}"))
                        if version is not None else None)
                handles = []

                def merge():
                    new_head, closed, hs = merge_scd2_split(head, cached, spec_)
                    handles.extend(hs)
                    _noop(new_head)()
                    _noop(closed)()
                    run.tracer.count("cdc.scd.rows_closed", closed.count(), tid)

                scd_s = run.timed("cdc.scd", tid, merge)
                for h in handles:
                    h.unpersist()
                cached.unpersist()
            run.tracer.count("cdc.scd.self_s", scd_s, tid)
            return scd_s

        return probe

    def merge_probe_for(snap):
        def probe(changes, batch_id, spec_):
            """Noop-sink timing of the snapshot merge on this batch, so
            the sink's commit time can be told apart."""
            tid = f"{spec_.table}:{batch_id}"
            with run.tracer.span("trace.probe", tid):
                base = snap.read_current(spark)
                return run.timed("cdc.apply.merge", tid, _noop(apply_changes(base, changes, spec_)))

        return probe

    snapshots, stores = {}, {}
    for t in tables:
        snap = ParquetSnapshotSink(os.path.join(run.work, "snap", t))
        snapshots[t] = snap
        sinks = [make_measured_sink(run, snap, run.gate, merge_probe_for(snap), change_bytes)]
        if t in history:
            store = Scd2SplitHistorySink(os.path.join(run.work, "hist", t))
            stores[t] = store
            sinks.append(make_measured_sink(run, store, run.gate, scd_probe_for(store), change_bytes))
        conn.register(specs[t], sinks)
    query = conn.start_shared(
        spark, source=kafka_shaped_file_stream(spark, os.path.join(run.inputs, "stream"), 1)
    )
    reports = drain(run, query)
    conn.stop()
    metrics = stream_metrics(run, reports)
    connector_overhead(run, reports)
    run.attempted += len(reports)

    applied = consumed_files(checkpoint, run.gate.cutoff)
    hot = tables[0]  # the hottest table under the Zipf traffic
    keys = random.Random(run.seed).sample(range(20_000), LOOKUP_KEYS)
    expected_hits = 0
    oracle = Oracle()
    try:
        for t in tables:
            if not os.path.exists(os.path.join(snapshots[t].path, "_CURRENT")):
                expected = oracle.expected_snapshot(specs[t], applied, kafka=True)
                n = oracle.con.execute(f"SELECT count(*) FROM ({expected})").fetchone()[0]
                run.check(f"snapshot:{t}", {"ok": n == 0, "expected_rows": n, "actual_rows": 0})
                continue
            version, _ = read_pointer(snapshots[t].path)
            run.check(f"snapshot:{t}", oracle.check_snapshot(
                specs[t], os.path.join(snapshots[t].path, f"v={version}"), applied, kafka=True))
            if t == hot:
                expected_hits = oracle.lookup_hits("id", keys)
        for t, store in stores.items():
            run.check(f"scd2:{t}", oracle.check_scd2_split(specs[t], store.path, applied))
    finally:
        oracle.close()

    def frames():
        return [snapshots[hot].read_current(spark), stores[tables[1]].read_current(spark)]

    if run.tracer.enabled:
        metrics.update(read_probe(run, frames, "id", keys, expected_hits))
    return metrics


def backfill_parse(run: Run) -> dict:
    from tidb_cdc_spark.cdc import conflate_latest, parse_cdc
    from tidb_cdc_spark.cdc.apply import snapshot_from_ops
    from tidb_cdc_spark.cdc.spec import deals_spec
    from tidb_cdc_spark.sources import maxwell_file_batch

    spark = run.start_spark()
    spec = deals_spec()
    chunks = run.manifest["files"]
    outputs: dict[str, str] = {}
    lat, cpu, rows = [], [], 0
    tr = run.tracer
    i = 0
    deadline = None
    window_start = None
    while deadline is None or time.time() < deadline:
        chunk = chunks[i % len(chunks)]
        path = os.path.join(run.inputs, chunk["file"])
        out = os.path.join(run.work, "backfill", f"job{i:04d}")
        tid = f"deals:{i}"
        if tr.enabled and i >= run.warmup:
            with tr.span("trace.probe", tid), run.job_description(f"trace:probe:{tid}"):
                raw = maxwell_file_batch(spark, path)
                read_s = run.timed("sources.read", tid, _noop(raw))
                parsed = parse_cdc(raw, spec)
                parse_s = run.timed("cdc.parse", tid, _noop(parsed))
                cached = parsed.persist()
                rows_out = cached.count()
                conflated = conflate_latest(cached, spec.pk_columns)
                conflate_s = run.timed("cdc.apply.conflate", tid, _noop(conflated))
                keys = conflated.count()
                cached.unpersist()
            tr.count("sources.read_s", read_s, tid)
            tr.count("sources.bytes_in", chunk["bytes"], tid)
            tr.count("cdc.parse.self_s", parse_s - read_s, tid)
            tr.count("cdc.parse.rows_in", chunk["rows"], tid)
            tr.count("cdc.parse.rows_out", rows_out, tid)
            tr.count("cdc.parse.yield", rows_out / chunk["rows"], tid)
            tr.count("cdc.apply.conflate_self_s", conflate_s, tid)
            tr.count("cdc.apply.conflate_ratio", keys / rows_out, tid)
        t0, c0 = time.time(), cpu_s()
        with tr.span("backfill.job", tid):
            snap = snapshot_from_ops(parse_cdc(maxwell_file_batch(spark, path), spec), spec)
            snap.write.parquet(out)
        t1, c1 = time.time(), cpu_s()
        run.op()
        outputs[chunk["file"]] = out
        if i == 0:
            job_cold = t1 - t0
        if i == run.warmup - 1:
            run.setup_end, setup_cpu = t1, c1 - run.cpu_offset
            deadline = t1 + run.seconds
        elif i >= run.warmup:
            window_start = window_start or t0
            lat.append(t1 - t0)
            cpu.append(c1 - c0)
            rows += chunk["rows"]
            run.window = (window_start, t1)
        i += 1
    run.n_measured = len(lat)
    metrics = {
        "setup_s": setup_cpu,
        "batch_cpu_s": median(cpu),
        "rows_per_cpu_s": rows / sum(cpu),
        "setup_wall_s": run.setup_end - run.t_start,
        "rows_per_s": rows / (run.window[1] - run.window[0]),
        "batch_p50_s": median(lat),
        "job_cold_s": job_cold,
    }
    oracle = Oracle()
    try:
        for name, out in sorted(outputs.items()):
            run.check(f"backfill:{name}", oracle.check_snapshot(
                spec, out, [os.path.join(run.inputs, name)], kafka=False))
        # the reader probes the last output checked above
        last_out = out
        keys = [f"{k:018d}" for k in random.Random(run.seed).sample(range(20_000), LOOKUP_KEYS)]
        expected_hits = oracle.lookup_hits("entity_id", keys)
    finally:
        oracle.close()
    if run.tracer.enabled:
        metrics.update(read_probe(
            run, lambda: [spark.read.parquet(last_out)], "entity_id", keys, expected_hits
        ))
    return metrics


QUERY_NAMES = ("dedup_containment_repr", "media_curation_pipeline", "cdc_apply_latest")
QUERY_WARM_REPS = 2
#: Order-independent digest of the rows ``dedup_containment_repr``
#: returns on the fixed corpus (the query has no SQL oracle).
DEDUP_DIGEST = "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"  # empty


def rows_digest(rows) -> str:
    """sha256 over the sorted rows, floats rounded to 6 places."""
    import hashlib

    norm = sorted(
        repr(tuple(round(v, 6) if isinstance(v, float) else v for v in r)) for r in rows
    )
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()


def run_queries(run: Run) -> None:
    """The registry's curation queries in a cache-cleared fresh session
    over the fixed corpus: one cold rep, then warm reps. Records the
    ``queries.*`` counts and checks every rep's output."""
    import duckdb

    from tidb_cdc_spark.queries import ORACLE, QUERIES

    sf = os.path.join(run.inputs, "corpus")
    run.spark.catalog.clearCache()
    spark = run.spark.newSession()  # no per-session envelope cache yet
    sc = spark.sparkContext
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    tr = run.tracer
    totals = {"build_s": 0.0, "catalyst_s": 0.0, "build_jobs": 0.0, "exec_s": 0.0}
    for name in QUERY_NAMES:
        if name in ORACLE:
            expected = rows_digest(con.execute(ORACLE[name]).fetchall())
        else:
            expected = DEDUP_DIGEST
        reps = []
        for rep in range(1 + QUERY_WARM_REPS):
            group = f"perfbench-{name}-{rep}"
            sc.setJobGroup(group, f"query:{name}:build")
            t0 = time.perf_counter()
            with tr.span(f"queries.{name}.build", str(rep)):
                df = QUERIES[name](spark, sf)
            t1 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setJobGroup(group + "-exec", f"query:{name}:exec")
            with tr.span(f"queries.{name}.exec", str(rep)):
                rows = df.collect()
            t2 = time.perf_counter()
            phases = df._jdf.queryExecution().tracker().phases()
            catalyst = sum(
                phases.apply(p).durationMs() / 1e3
                for p in ("analysis", "optimization", "planning") if phases.contains(p)
            )
            got = rows_digest(tuple(r) for r in rows)
            run.check(f"query:{name}:{rep}", {"ok": got == expected, "digest": got, "expected": expected})
            reps.append((t1 - t0, catalyst, jobs, t2 - t1))
        sc.setLocalProperty("spark.jobGroup.id", None)
        cold = reps[0]
        tr.count(f"queries.{name}.cold_s", cold[0] + cold[3])
        tr.count(f"queries.{name}.warm_s", median(b + e for b, _, _, e in reps[1:]))
        totals["build_s"] += cold[0]
        totals["catalyst_s"] += cold[1]
        totals["build_jobs"] += cold[2]
        totals["exec_s"] += median(e for _, _, _, e in reps[1:])
    con.close()
    for k, v in totals.items():
        tr.count(f"queries.{k}", v)


WORKLOADS = {
    "snapshot_merge": snapshot_merge,
    "many_tables": many_tables,
    "backfill_parse": backfill_parse,
}


def spark_layer_metrics(run: Run) -> dict:
    """``spark.*`` per measured operation, engine jobs only."""
    layers = spark_event_metrics(run.event_dir, *run.window)
    run.spark_by_layer = layers
    eng = layers.get("engine", {})
    n = max(1, run.n_measured)
    keys = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", "output_bytes")
    return {f"spark.{k}": eng.get(k, 0.0) / n for k in keys}


def layer_metrics(run: Run) -> dict:
    """Per-layer metrics of a traced run: the median over measured
    operations of every count the tracer recorded."""
    return {name: median(v for _, v in vals) for name, vals in run.tracer.counts.items()}
