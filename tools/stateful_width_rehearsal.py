"""Width rehearsal for STATEFUL sinks under the shared connector —
the r8 verdict's gap: the r7 width rehearsal covered routing, not
stateful per-batch cost. Two questions, measured:

1. **SCD2 at width**: a 24-table shared stream where 6 tables carry
   ``Scd2SplitHistorySink`` — does per-ROUND cost stay flat as history
   accumulates across R sequential availableNow rounds?
2. **NearDupAdmission compaction**: B batches through
   ``NearDupAdmissionSink`` — per-batch screening time with the
   band store growing, with and without periodic ``compact()``.

Run: ``PYTHONPATH=. python3 tools/stateful_width_rehearsal.py
[n_tables] [rounds]``.  Writes ONLY under /tmp; prints one JSON
line per experiment.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

TMP = "/tmp/stateful_width_rehearsal"


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _specs(n: int):
    from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec

    return [
        TableSpec(
            database="d",
            table=f"t{i:03d}",
            columns=(
                ColumnSpec("K", "string", column="k", pk=True),
                ColumnSpec("V", "int"),
                ColumnSpec("TS", "string"),
            ),
        )
        for i in range(n)
    ]


def _write_round(root: str, n_tables: int, per_table: int, rnd: int) -> None:
    """One round of files: every table gets ``per_table`` updates on
    a rolling key window so SCD2 history GROWS every round (new
    versions of existing keys)."""
    os.makedirs(root, exist_ok=True)
    msgs = []
    for i in range(n_tables):
        for j in range(per_table):
            msgs.append(
                json.dumps(
                    {
                        "database": "d",
                        "table": f"t{i:03d}",
                        "type": "insert" if rnd == 0 and j % 7 == 0 else "update",
                        "ts": 1000 + rnd * per_table + j,
                        "data": {
                            "k": f"k{j % 50}",
                            "v": rnd * per_table + j,
                            "ts": "2026-01-01 00:00:00",
                        },
                    }
                )
            )
    tmp = os.path.join(root, f".r{rnd}.jsonl.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(msgs))
    os.replace(tmp, os.path.join(root, f"r{rnd}.jsonl"))


def scd2_width(spark, n_tables: int, rounds: int) -> dict:
    from tidb_cdc_spark.sources.files import maxwell_file_stream
    from tidb_cdc_spark.streaming.connector import Connector, ConnectorConfig
    from tidb_cdc_spark.streaming.sinks import (
        ParquetSnapshotSink,
        Scd2SplitHistorySink,
    )

    root = os.path.join(TMP, "scd2_width")
    shutil.rmtree(root, ignore_errors=True)
    events = os.path.join(root, "in")
    os.makedirs(events, exist_ok=True)  # stream source probes the dir
    specs = _specs(n_tables)
    # every 4th table keeps history (i % 4 == 0 → ceil, not floor)
    n_scd2 = (n_tables + 3) // 4

    conn = Connector(
        ConnectorConfig(
            server_name="srv", checkpoint_root=os.path.join(root, "ckpt")
        )
    )
    scd_sinks = []
    for i, s in enumerate(specs):
        if i % 4 == 0:
            sink = Scd2SplitHistorySink(os.path.join(root, "hist", s.table))
            scd_sinks.append(sink)
        else:
            sink = ParquetSnapshotSink(os.path.join(root, "snap", s.table))
        conn.register(s, [sink], source=maxwell_file_stream(spark, events))

    per_round: list[float] = []
    hist_rows: list[int] = []
    for rnd in range(rounds):
        _write_round(events, n_tables, per_table=200, rnd=rnd)
        t0 = time.perf_counter()
        q = conn.start_shared(
            spark,
            source=maxwell_file_stream(spark, events),
            available_now=True,
        )
        q.awaitTermination()
        per_round.append(round(time.perf_counter() - t0, 2))
        cur = scd_sinks[0].read_current(spark)
        hist_rows.append(0 if cur is None else cur.count())
    return {
        "experiment": "scd2_width",
        "n_tables": n_tables,
        "n_scd2_tables": n_scd2,
        "rounds": rounds,
        "per_round_sec": per_round,
        "scd2_history_rows_t000": hist_rows,
        "last_over_first": round(per_round[-1] / max(per_round[0], 1e-9), 2),
    }


def scd2_compact_cost(spark, batches: int, per_batch: int) -> dict:
    """Price ``Scd2SplitHistorySink.compact()`` on a 12M-row store
    (at the defaults). Fold to
    ``batches × per_batch`` history rows, then ONE compact:
    report wall-time, closed-dir/file counts and history-read time
    before vs after — the listing cost compact() exists to bound."""
    import pandas as pd

    from tidb_cdc_spark.cdc import parse_cdc
    from tidb_cdc_spark.streaming import sinks as SK

    root = os.path.join(TMP, "compact_cost")
    shutil.rmtree(root, ignore_errors=True)
    sink = SK.Scd2SplitHistorySink(os.path.join(root, "split"))
    spec = _specs(1)[0]
    from pyspark.sql import functions as F

    n_keys = 50_000
    for b in range(batches):
        msgs = [
            json.dumps(
                {
                    "database": "d",
                    "table": "t000",
                    "type": "insert" if b == 0 else "update",
                    "ts": b * per_batch + j,
                    "data": {
                        "k": f"k{j % n_keys}",
                        "v": b * per_batch + j,
                        "ts": "2026-01-01 00:00:00",
                    },
                }
            )
            for j in range(per_batch)
        ]
        df = spark.createDataFrame(
            pd.DataFrame({"value": msgs})
        ).repartition(8)
        changes = parse_cdc(
            df.withColumn("_s", F.monotonically_increasing_id()),
            spec,
            seq_col=F.col("_s"),
        )
        sink.process(changes, b, spec)
        if b % 10 == 9:
            print(f"# built batch {b + 1}/{batches}", file=sys.stderr, flush=True)

    def _closed_stats() -> tuple[int, int, float, float, int]:
        croot = sink._closed_root()
        dirs = [d for d in os.listdir(croot) if d.startswith("b=")]
        files = sum(
            len(fs) for _, _, fs in os.walk(croot)
        )
        mb = round(_du(croot) / 1e6, 1)
        t0 = time.perf_counter()
        closed = sink._read_closed(spark)
        rows = 0 if closed is None else closed.count()
        return len(dirs), files, mb, round(time.perf_counter() - t0, 2), rows

    d0, f0, mb0, t_read0, rows0 = _closed_stats()
    t0 = time.perf_counter()
    dirs_before, dirs_after = sink.compact(spark)
    t_compact = round(time.perf_counter() - t0, 2)
    d1, f1, mb1, t_read1, rows1 = _closed_stats()
    return {
        "experiment": "scd2_compact_cost",
        "batches": batches,
        "per_batch_rows": per_batch,
        "history_rows": batches * per_batch,
        "compact_sec": t_compact,
        "closed_dirs_before": d0,
        "closed_dirs_after": d1,
        "closed_files_before": f0,
        "closed_files_after": f1,
        "closed_mb_before": mb0,
        "closed_mb_after": mb1,
        "closed_read_sec_before": t_read0,
        "closed_read_sec_after": t_read1,
        "closed_rows_preserved": rows0 == rows1,
        "compact_reported": [dirs_before, dirs_after],
    }


def digest_admission_batches(
    spark, batches: int, compact_every: int | None
) -> dict:
    """Per-batch cost of ``DigestAdmissionSink`` as the digest index
    grows — the claim under test: screening is ∝ batch size (one
    anti-join against the index), so per-batch time stays FLAT while
    the corpus accumulates. Payloads are unique per row except a 20%
    planted duplicate tail (every 5th row re-sends an earlier
    payload), so the screen filters real work."""
    from tidb_cdc_spark.streaming.enrich import DigestAdmissionSink

    root = os.path.join(
        TMP, f"digadm_{'nc' if compact_every is None else compact_every}"
    )
    shutil.rmtree(root, ignore_errors=True)
    sink = DigestAdmissionSink(os.path.join(root, "store"))
    per_batch: list[float] = []
    n_media = 2000
    for b in range(batches):
        rows = []
        for j in range(n_media):
            mid = b * n_media + j
            # 20% duplicate tail: re-send a payload from ~1 batch ago,
            # targeting a NON-dup row (j+1 is never ≡ 0 mod 5) so the
            # referenced payload was genuinely admitted
            src = mid - n_media + 1 if j % 5 == 0 and b > 0 else mid
            rows.append((mid, "image", bytearray(f"payload-{src}".encode())))
        df = spark.createDataFrame(
            rows, "media_id long, kind string, payload binary"
        ).repartition(8)
        t0 = time.perf_counter()
        sink.process(df, b)
        per_batch.append(round(time.perf_counter() - t0, 2))
        if compact_every and (b + 1) % compact_every == 0:
            sink.compact(spark)
    corpus = sink.read_corpus(spark)
    return {
        "experiment": "digest_admission_batches",
        "batches": batches,
        "media_per_batch": n_media,
        "compact_every": compact_every,
        "per_batch_sec": per_batch,
        "corpus_rows": 0 if corpus is None else corpus.count(),
        "last_over_first": round(per_batch[-1] / max(per_batch[0], 1e-9), 2),
    }


def ivf_index_batches(
    spark, batches: int, per_batch: int, compact_every: int | None
) -> dict:
    """Per-batch cost of ``IvfIndexSink`` as the index grows. The
    claim under test is structural — the sink never reads the store,
    so appends must stay FLAT — plus the honest counterpoint: SEARCH
    cost grows with the probed cells' share of the index (that is
    the n_cells sizing lever: at 100 TB you raise n_cells so
    probed-bytes stays bounded, exactly like the digest sink's
    n_buckets). Vectors are deterministic 16-dim cluster plants."""
    from tidb_cdc_spark.streaming.enrich import IvfIndexSink

    root = os.path.join(TMP, "ivfidx")
    shutil.rmtree(root, ignore_errors=True)
    sink = IvfIndexSink(os.path.join(root, "store"), n_cells=16)
    dim = 16
    per_batch_sec: list[float] = []
    search_sec: list[tuple[int, float]] = []

    def _vec(gid: int) -> list[float]:
        c = gid % 16
        return [
            float((10.0 if d == c else 0.0) + 0.01 * ((gid * 7 + d) % 5))
            for d in range(dim)
        ]

    queries = spark.createDataFrame(
        [(10**9 + i, _vec(i)) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    for b in range(batches):
        rows = [
            (b * per_batch + j, _vec(b * per_batch + j))
            for j in range(per_batch)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).repartition(8)
        t0 = time.perf_counter()
        sink.process(df, b)
        per_batch_sec.append(round(time.perf_counter() - t0, 2))
        if compact_every and (b + 1) % compact_every == 0:
            sink.compact(spark)
        if b in (0, batches // 2, batches - 1):
            t0 = time.perf_counter()
            sink.search(spark, queries, k=10, n_probe=4).count()
            search_sec.append((b, round(time.perf_counter() - t0, 2)))
    idx = sink.read_index(spark)
    return {
        "experiment": "ivf_index_batches",
        "batches": batches,
        "vectors_per_batch": per_batch,
        "compact_every": compact_every,
        "per_batch_sec": per_batch_sec,
        "search_sec_at_batch": search_sec,
        "index_rows": 0 if idx is None else idx.count(),
        "append_last_over_first": round(
            per_batch_sec[-1] / max(per_batch_sec[0], 1e-9), 2
        ),
    }


def _build_digest_index(spark, root: str, n_rows: int, n_buckets: int) -> float:
    """Prebuild a digest index of ``n_rows`` unique payload digests
    in the sink's EXACT on-disk layout (bucket-partitioned parquet +
    _PARAMS) — the fast path to an index orders of magnitude larger
    than any batch, without replaying millions of micro-batches."""
    from pyspark.sql import functions as F

    from tidb_cdc_spark.streaming.enrich import _bucket_expr
    from tidb_cdc_spark.streaming.store import atomic_write

    shutil.rmtree(root, ignore_errors=True)
    t0 = time.perf_counter()
    (
        spark.range(n_rows)
        .select(
            F.expr(
                "unhex(sha2(concat('idx-', cast(id as string)), 256))"
            ).alias("digest"),
            F.col("id").alias("media_id"),
        )
        .withColumn("bucket", _bucket_expr(["digest"], n_buckets))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(os.path.join(root, "digests"))
    )
    atomic_write(
        os.path.join(root, "_PARAMS"),
        {"layout": "bucketed", "n_buckets": n_buckets},
    )
    return round(time.perf_counter() - t0, 2)


def _digest_scale_config(
    spark, name: str, n_rows: int, nb: int, batches: int, per_batch: int
) -> dict:
    """One digest-scale configuration: prebuild the index, drive
    ``batches`` screening batches (20% planted dups), report the
    per-batch series."""
    from tidb_cdc_spark.streaming.enrich import DigestAdmissionSink

    root = os.path.join(TMP, f"digscale_{name}")
    build_sec = _build_digest_index(spark, root, n_rows, nb)
    sink = DigestAdmissionSink(root, n_buckets=nb)
    per_batch_sec: list[float] = []
    for b in range(batches):
        rows = []
        for j in range(per_batch):
            k = b * per_batch + j
            if j % 5 == 0:  # planted dup of an indexed payload
                payload = f"idx-{(k * 7919) % n_rows}".encode()
            else:
                payload = f"new-{name}-{k}".encode()
            rows.append((n_rows + k, "image", bytearray(payload)))
        df = spark.createDataFrame(
            rows, "media_id long, kind string, payload binary"
        ).repartition(8)
        t0 = time.perf_counter()
        sink.process(df, b)
        per_batch_sec.append(round(time.perf_counter() - t0, 2))
    corpus = sink.read_corpus(spark)
    srt = sorted(per_batch_sec)
    return {
        "index_rows": n_rows,
        "n_buckets": nb,
        "index_over_batch": n_rows // per_batch,
        "build_sec": build_sec,
        "per_batch_sec": per_batch_sec,
        "median_sec": srt[len(srt) // 2],
        "last_over_first": round(
            per_batch_sec[-1] / max(per_batch_sec[0], 1e-9), 2
        ),
        "admitted_rows": 0 if corpus is None else corpus.count(),
    }


def audio_window_batches(spark, batches: int, per_batch: int) -> dict:
    """Per-batch cost of AudioWindowAdmissionSink as the index grows
    — 20% of each batch are trim+regain copies of earlier admitted
    clips (must be screened), 80% novel. Expect flat: the screen is
    manifest-pruned + broadcast, the appends are ∝ batch."""
    from tidb_cdc_spark.functions.media_synth import synth_wav_windowed_media
    from tidb_cdc_spark.streaming.enrich import AudioWindowAdmissionSink

    root = os.path.join(TMP, "audiowindow_store")
    shutil.rmtree(root, ignore_errors=True)
    sink = AudioWindowAdmissionSink(root)
    per_batch_sec: list[float] = []
    for b in range(batches):
        rows = []
        for j in range(per_batch):
            k = b * per_batch + j
            if b > 0 and j % 5 == 0:
                # trim+regain copy of an earlier batch's clip
                prev = (k * 7919) % (b * per_batch)
                rows.append((1_000_000 + k, prev, 2, 3))
            else:
                rows.append((k, k, 0, 1))
        ids = spark.createDataFrame(
            rows, "media_id long, base int, skip int, gain int"
        ).repartition(8)
        df = synth_wav_windowed_media(ids, "media_id")
        t0 = time.perf_counter()
        sink.process(df, b)
        per_batch_sec.append(round(time.perf_counter() - t0, 2))
    corpus = sink.read_corpus(spark)
    srt = sorted(per_batch_sec)
    return {
        "experiment": "audio_window_batches",
        "batches": batches,
        "clips_per_batch": per_batch,
        "per_batch_sec": per_batch_sec,
        "median_sec": srt[len(srt) // 2],
        "last_over_first": round(
            per_batch_sec[-1] / max(per_batch_sec[0], 1e-9), 2
        ),
        "corpus_rows": 0 if corpus is None else corpus.count(),
        "index_rows": spark.read.parquet(
            os.path.join(root, "windows")
        ).count(),
    }


def digest_prune(spark, batches: int, per_batch: int) -> dict:
    """The PRUNED regime (n_buckets > batch), r12's separate
    measurement re-run to price the r13 manifest: at nb=1024 and
    batch 500, the pre-manifest screen paid a constant partition-
    discovery term (listing all 1024 bucket dirs per batch — r12
    medians 12.59 s at 2M rows, 13.28 s at 20M). With the manifest,
    touched buckets resolve to explicit files and the read path
    lists NOTHING; the first batch pays the one-time full rebuild
    (legacy index migration), so the series' first value is the
    migration cost, the rest is the steady state. Expect: constant
    term down, 2M -> 20M flatness preserved."""
    out: dict = {
        "experiment": "digest_prune",
        "batches": batches,
        "per_batch_rows": per_batch,
        "configs": {},
    }
    for name, (n_rows, nb) in {
        "P_2M_nb1024": (2_000_000, 1024),
        "P_20M_nb1024": (20_000_000, 1024),
    }.items():
        out["configs"][name] = _digest_scale_config(
            spark, name, n_rows, nb, batches, per_batch
        )
    a = out["configs"]["P_2M_nb1024"]["median_sec"]
    b_ = out["configs"]["P_20M_nb1024"]["median_sec"]
    out["flat_10x_ratio"] = round(b_ / max(a, 1e-9), 2)
    out["r12_pre_manifest_medians"] = {"2M": 12.59, "20M": 13.28}
    return out


def digest_scale(spark, batches: int, per_batch: int) -> dict:
    """The r11 verdict's 'done' bar for the admission-sink scale
    claim, measured: per-batch screen cost with the index ≥100× the
    batch, FLAT as the index grows ANOTHER 10× — provided
    ``n_buckets`` scales with the index so bucket size stays bounded
    (the ``compact(n_buckets=...)`` lever). Three configurations:

    - A: index 2M digests,  n_buckets 64 (the sink default)
    - B: index 20M digests, n_buckets 64 — 10× A's index, same
         bucketing ⇒ per-batch = fixed dir/commit overhead + a
         shuffle-free pruned scan; expect ~flat while the scan term
         is small against the overhead term (it is at this scale)
    - C: index 20M digests, n_buckets 640 — the re-bucketing lever:
         bucket size held at A's, so the scan term stays bounded as
         the index grows, at the price of a 10× directory-listing /
         commit term. On a plain local filesystem the listing term
         dominates at these sizes (measured r12: per-dir overhead is
         the binding cost locally), so C quantifies the crossover:
         re-bucketing pays off once bucket-scan time exceeds per-dir
         overhead — true for multi-GB buckets at 100 TB, false for
         an 800 MB local index. At 100 TB a manifest-based table
         format (Delta/Iceberg) removes the listing term entirely.

    Every batch carries 20% planted duplicates of indexed payloads
    (must be screened out) and 80% novel payloads (admitted)."""
    from tidb_cdc_spark.streaming.enrich import DigestAdmissionSink

    out: dict = {
        "experiment": "digest_scale",
        "batches": batches,
        "per_batch_rows": per_batch,
        "configs": {},
    }
    for name, (n_rows, nb) in {
        "A_2M_nb64": (2_000_000, 64),
        "B_20M_nb64": (20_000_000, 64),
        "C_20M_nb640": (20_000_000, 640),
    }.items():
        out["configs"][name] = _digest_scale_config(
            spark, name, n_rows, nb, batches, per_batch
        )
    a = out["configs"]["A_2M_nb64"]["median_sec"]
    b_ = out["configs"]["B_20M_nb64"]["median_sec"]
    c = out["configs"]["C_20M_nb640"]["median_sec"]
    out["flat_10x_ratio_B_over_A"] = round(b_ / max(a, 1e-9), 2)
    out["rebucket_cost_C_over_B"] = round(c / max(b_, 1e-9), 2)
    return out


def admission_batches(spark, batches: int, compact_every: int | None) -> dict:
    from tidb_cdc_spark.streaming.enrich import NearDupAdmissionSink

    root = os.path.join(
        TMP, f"admit_{'nc' if compact_every is None else compact_every}"
    )
    shutil.rmtree(root, ignore_errors=True)
    sink = NearDupAdmissionSink(os.path.join(root, "store"))
    per_batch: list[float] = []
    n_docs = 400
    for b in range(batches):
        rows = [
            (
                b * n_docs + j,
                " ".join(
                    f"w{(b * n_docs + j) * 13 % 997}x{k}" for k in range(60)
                ),
            )
            for j in range(n_docs)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
        t0 = time.perf_counter()
        sink.process(df, b)
        per_batch.append(round(time.perf_counter() - t0, 2))
        if compact_every and (b + 1) % compact_every == 0:
            sink.compact(spark)
    corpus = sink.read_corpus(spark)
    return {
        "experiment": "admission_batches",
        "batches": batches,
        "docs_per_batch": n_docs,
        "compact_every": compact_every,
        "per_batch_sec": per_batch,
        "corpus_rows": 0 if corpus is None else corpus.count(),
        "last_over_first": round(per_batch[-1] / max(per_batch[0], 1e-9), 2),
    }


def main() -> None:
    # digest-admission mode (r11): per-batch cost of the exact-digest
    # admission sink as the index grows — must stay flat (∝ batch).
    # Run: PYTHONPATH=. python3 tools/stateful_width_rehearsal.py \
    #   digest [batches=30] [compact_every|'nc']
    if len(sys.argv) > 1 and sys.argv[1] == "digest":
        batches = int(sys.argv[2]) if len(sys.argv) > 2 else 30
        ce = sys.argv[3] if len(sys.argv) > 3 else "10"
        compact_every = None if ce == "nc" else int(ce)
        from tidb_cdc_spark import get_spark

        spark = get_spark("digest-admission")
        spark.sparkContext.setLogLevel("ERROR")
        print(
            json.dumps(digest_admission_batches(spark, batches, compact_every)),
            flush=True,
        )
        spark.stop()
        return

    # digest-scale mode (r12, r11 verdict #1): per-batch screen cost
    # with a prebuilt index ≥100× the batch, flat across a 10× index
    # growth when n_buckets scales with it (A vs B), plus the
    # re-bucketing-lever contrast (C).
    # Run: PYTHONPATH=. python3 tools/stateful_width_rehearsal.py \
    #   digestscale [batches=12] [per_batch=500]
    if len(sys.argv) > 1 and sys.argv[1] == "digestscale":
        batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
        per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 500
        from tidb_cdc_spark import get_spark

        spark = get_spark("digest-scale")
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(digest_scale(spark, batches, per_batch)), flush=True)
        spark.stop()
        return

    # digest-prune mode (r13): the pruned regime at nb=1024 with the
    # manifest screen — compare against the r12 pre-manifest medians.
    # Run: PYTHONPATH=. python3 tools/stateful_width_rehearsal.py \
    #   digestprune [batches=12] [per_batch=500]
    if len(sys.argv) > 1 and sys.argv[1] == "digestprune":
        batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
        per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 500
        from tidb_cdc_spark import get_spark

        spark = get_spark("digest-prune")
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(digest_prune(spark, batches, per_batch)), flush=True)
        spark.stop()
        return

    # audio-window mode (r13): per-batch cost of the trim-robust
    # audio admission sink. Run: PYTHONPATH=. python3 \
    #   tools/stateful_width_rehearsal.py audiowindow [batches=10] [per_batch=400]
    if len(sys.argv) > 1 and sys.argv[1] == "audiowindow":
        batches = int(sys.argv[2]) if len(sys.argv) > 2 else 10
        per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 400
        from tidb_cdc_spark import get_spark

        spark = get_spark("audio-window")
        spark.sparkContext.setLogLevel("ERROR")
        print(
            json.dumps(audio_window_batches(spark, batches, per_batch)),
            flush=True,
        )
        spark.stop()
        return

    # ivf mode (late r12): per-batch append cost of IvfIndexSink as
    # the index grows (must be flat — append-only by construction)
    # plus live-search latency at three index sizes.
    # Run: PYTHONPATH=. python3 tools/stateful_width_rehearsal.py \
    #   ivf [batches=12] [per_batch=2000] [compact_every|'nc']
    if len(sys.argv) > 1 and sys.argv[1] == "ivf":
        batches = int(sys.argv[2]) if len(sys.argv) > 2 else 12
        per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 2000
        ce = sys.argv[4] if len(sys.argv) > 4 else "6"
        compact_every = None if ce == "nc" else int(ce)
        from tidb_cdc_spark import get_spark

        spark = get_spark("ivf-index")
        spark.sparkContext.setLogLevel("ERROR")
        print(
            json.dumps(ivf_index_batches(spark, batches, per_batch, compact_every)),
            flush=True,
        )
        spark.stop()
        return

    # compact-cost mode (r10 verdict #7): price the split store's
    # maintenance at a 12M-row history.
    # Run: PYTHONPATH=. python3 tools/stateful_width_rehearsal.py \
    #   compact [batches=40] [per_batch=300000]
    if len(sys.argv) > 1 and sys.argv[1] == "compact":
        batches = int(sys.argv[2]) if len(sys.argv) > 2 else 40
        per_batch = int(sys.argv[3]) if len(sys.argv) > 3 else 300_000
        from tidb_cdc_spark import get_spark

        spark = get_spark("scd2-compact")
        spark.sparkContext.setLogLevel("ERROR")
        print(
            json.dumps(scd2_compact_cost(spark, batches, per_batch)),
            flush=True,
        )
        spark.stop()
        return

    n_tables = int(sys.argv[1]) if len(sys.argv) > 1 else 24
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from tidb_cdc_spark import get_spark

    spark = get_spark("stateful-width")
    spark.sparkContext.setLogLevel("ERROR")

    print(json.dumps(scd2_width(spark, n_tables, rounds)), flush=True)
    print(json.dumps(admission_batches(spark, 8, None)), flush=True)
    print(json.dumps(admission_batches(spark, 8, 4)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
