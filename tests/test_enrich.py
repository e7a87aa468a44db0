"""Tests for stream-static enrichment and incremental corpus
ingestion (streaming/enrich.py)."""

import json
import os

import pytest

# r15 tiered gate: streaming admission-sink e2e battery (~6 min); the Connector/sink families keep default-tier coverage in test_streaming/test_stream_join/test_kafka_e2e
pytestmark = pytest.mark.slow

from tidb_cdc_spark.streaming.enrich import (
    enrich_stream,
    ingest_new_documents,
    snapshot_fingerprints,
)


def _doc_stream(spark, tmp_path, rows):
    d = tmp_path / "docs_in"
    os.makedirs(d, exist_ok=True)
    with open(d / "1.jsonl", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    return (
        spark.readStream.format("json")
        .schema("doc_id long, text string, source string, ingest_ts timestamp")
        .load(str(d))
    )


class TestEnrichStream:
    def test_left_join_attaches_dim(self, spark, tmp_path):
        stream = _doc_stream(
            spark,
            tmp_path,
            [
                {"doc_id": 1, "text": "a", "source": "web", "ingest_ts": "2024-01-01 00:00:00"},
                {"doc_id": 2, "text": "b", "source": "unknown", "ingest_ts": "2024-01-01 00:00:00"},
            ],
        )
        dim = spark.createDataFrame(
            [("web", 500_000)], "source string, mix_ppm long"
        )
        out = enrich_stream(stream, dim, on="source")
        q = (
            out.writeStream.format("memory")
            .queryName("enriched")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck_e"))
            .start()
        )
        q.awaitTermination()
        rows = {r.doc_id: r.mix_ppm for r in spark.sql("select * from enriched").collect()}
        assert rows == {1: 500_000, 2: None}

    def test_illegal_how_rejected(self, spark):
        df = spark.createDataFrame([(1,)], "a long")
        with pytest.raises(ValueError, match="stream-static"):
            enrich_stream(df, df, on="a", how="full")

    def test_dim_is_broadcast(self, spark, tmp_path):
        stream = _doc_stream(
            spark,
            tmp_path,
            [{"doc_id": 1, "text": "a", "source": "web", "ingest_ts": "2024-01-01 00:00:00"}],
        )
        dim = spark.createDataFrame([("web", 1)], "source string, x long")
        q = (
            enrich_stream(stream, dim, on="source")
            .writeStream.format("memory")
            .queryName("enrich_plan")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck_p"))
            .start()
        )
        q.awaitTermination()
        # the last-executed micro-batch plan must hash-join against a
        # broadcast dim — no stream-side Exchange
        plan = q._jsq.explainInternal(False)
        assert "BroadcastHashJoin" in plan


class TestIngestNewDocuments:
    def test_snapshot_and_in_stream_dedup(self, spark, tmp_path):
        snapshot_docs = spark.createDataFrame(
            [(100, "already shipped")], "doc_id long, text string"
        )
        snap = snapshot_fingerprints(snapshot_docs)
        stream = _doc_stream(
            spark,
            tmp_path,
            [
                # dup of the snapshot — dropped
                {"doc_id": 1, "text": "already shipped", "source": "web", "ingest_ts": "2024-01-01 00:00:00"},
                # fresh — kept
                {"doc_id": 2, "text": "brand new", "source": "web", "ingest_ts": "2024-01-01 00:01:00"},
                # in-stream repeat of the fresh doc — dropped
                {"doc_id": 3, "text": "brand new", "source": "books", "ingest_ts": "2024-01-01 00:02:00"},
                # another fresh one — kept
                {"doc_id": 4, "text": "also new", "source": "web", "ingest_ts": "2024-01-01 00:03:00"},
            ],
        )
        out = ingest_new_documents(stream, snap, broadcast_snapshot=True)
        q = (
            out.writeStream.format("memory")
            .queryName("ingested")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ck_i"))
            .start()
        )
        q.awaitTermination()
        kept = sorted(
            r.doc_id for r in spark.sql("select * from ingested").collect()
        )
        assert kept == [2, 4]

    def test_emits_fp_for_snapshot_append(self, spark, tmp_path):
        snap = snapshot_fingerprints(
            spark.createDataFrame([(1, "x")], "doc_id long, text string")
        )
        stream = _doc_stream(
            spark,
            tmp_path,
            [{"doc_id": 2, "text": "y", "source": "web", "ingest_ts": "2024-01-01 00:00:00"}],
        )
        out = ingest_new_documents(stream, snap)
        assert "fp" in out.columns


class TestNearDupAdmissionSink:
    """Streaming composition of near_dup_ingest: two micro-batches
    through foreachBatch with the band store persisted between them."""

    def test_two_batch_admission(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import NearDupAdmissionSink

        words = [f"w{i}" for i in range(30)]
        sink = NearDupAdmissionSink(str(tmp_path / "store"))

        def run_batch(name, rows):
            d = tmp_path / "adm_in"
            os.makedirs(d, exist_ok=True)
            tmp = d / f".{name}.tmp"
            with open(tmp, "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows))
            os.replace(tmp, d / name)
            stream = (
                spark.readStream.format("json")
                .schema("doc_id long, text string")
                .load(str(d))
            )
            q = (
                stream.writeStream.foreachBatch(sink.process)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        # batch 1: 1 and 2 are token-identical (intra-batch pair),
        # 3 is unique
        run_batch("b1.jsonl", [
            {"doc_id": 1, "text": " ".join(words)},
            {"doc_id": 2, "text": "  ".join(words)},
            {"doc_id": 3, "text": " ".join(f"x{i}" for i in range(30))},
        ])
        corpus = {r.doc_id for r in sink.read_corpus(spark).collect()}
        assert corpus == {1, 3}  # smaller id admitted from the pair

        # batch 2: 10 duplicates the ADMITTED doc 1 (cross-batch,
        # caught by the persisted band store), 11 is fresh
        run_batch("b2.jsonl", [
            {"doc_id": 10, "text": " ".join(words)},
            {"doc_id": 11, "text": " ".join(f"y{i}" for i in range(30))},
        ])
        corpus = {r.doc_id for r in sink.read_corpus(spark).collect()}
        assert corpus == {1, 3, 11}
        # band store holds admitted docs only
        bands = spark.read.parquet(str(tmp_path / "store" / "bands"))
        assert {r.doc_id for r in bands.collect()} == {1, 3, 11}
        # audit trail: candidate pairs name both collision kinds
        cand = spark.read.parquet(str(tmp_path / "store" / "candidates"))
        pairs = {(r.new_id, r.corpus_id, r.src) for r in cand.collect()}
        assert (2, 1, "batch") in pairs
        assert (10, 1, "store") in pairs

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import NearDupAdmissionSink

        sink = NearDupAdmissionSink(str(tmp_path / "store"))
        batch = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        sink.process(batch, 0)
        sink.process(batch, 0)  # re-delivery
        assert sink.read_corpus(spark).count() == 1
        sink.process(batch.selectExpr("doc_id + 5 AS doc_id", "text"), 1)
        # the new batch's doc collides with the stored doc -> rejected
        assert sink.read_corpus(spark).count() == 1

    def test_fresh_checkpoint_against_existing_store_fails_loudly(
        self, spark, tmp_path
    ):
        """Batch ids behind the watermark mean a NEW checkpoint is
        writing into an old store root — that must raise, not silently
        no-op every batch until ids catch up (silent data loss)."""
        from tidb_cdc_spark.streaming import NearDupAdmissionSink

        sink = NearDupAdmissionSink(str(tmp_path / "store"))
        batch = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(30)))],
            "doc_id long, text string",
        )
        sink.process(batch, 5)
        sink.process(batch, 5)  # re-delivery of the SAME id: no-op
        assert sink.read_corpus(spark).count() == 1
        with pytest.raises(RuntimeError, match="behind the stored watermark"):
            sink.process(batch, 0)  # fresh-checkpoint ids restart at 0


class TestBandStoreCompaction:
    def _run_batch(self, spark, tmp_path, sink, name, rows):
        d = tmp_path / "cmp_in"
        os.makedirs(d, exist_ok=True)
        tmp = d / f".{name}.tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.replace(tmp, d / name)
        q = (
            spark.readStream.format("json")
            .schema("doc_id long, text string")
            .load(str(d))
            .writeStream.foreachBatch(sink.process)
            .option("checkpointLocation", str(tmp_path / "cmp_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def test_compact_shrinks_files_preserves_data(self, spark, tmp_path):
        import glob

        from tidb_cdc_spark.streaming import NearDupAdmissionSink

        sink = NearDupAdmissionSink(str(tmp_path / "store"))
        # several appended batches → several file sets per table
        for b in range(3):
            self._run_batch(spark, tmp_path, sink, f"c{b}.jsonl", [
                {"doc_id": 100 * b + i,
                 "text": " ".join(f"t{b}_{i}_{j}" for j in range(30))}
                for i in range(3)
            ])
        bands_dir = str(tmp_path / "store" / "bands")
        # bucketed layout: files live under bucket=*/ directories
        before_files = len(
            glob.glob(f"{bands_dir}/**/*.parquet", recursive=True)
        )
        assert before_files > 1
        before_corpus = {r.doc_id for r in sink.read_corpus(spark).collect()}
        before_bands = spark.read.parquet(bands_dir).count()
        touched_buckets = len(glob.glob(f"{bands_dir}/bucket=*"))

        stats = sink.compact(spark, files_per_table=1)
        assert stats["bands"][0] == before_files
        # one file per touched bucket after clustering on the key
        assert stats["bands"][1] == touched_buckets
        assert {r.doc_id for r in sink.read_corpus(spark).collect()} == before_corpus
        assert spark.read.parquet(bands_dir).count() == before_bands

        # the stream continues against the compacted store: a dup of
        # an admitted doc is still screened out
        admitted = sorted(before_corpus)[0]
        dup_text = " ".join(
            f"t0_{admitted % 100}_{j}" for j in range(30))
        self._run_batch(spark, tmp_path, sink, "c9.jsonl", [
            {"doc_id": 999, "text": dup_text},
            {"doc_id": 998, "text": " ".join(f"z{j}" for j in range(30))},
        ])
        after = {r.doc_id for r in sink.read_corpus(spark).collect()}
        assert 998 in after and 999 not in after

    def test_torn_compaction_recovers(self, spark, tmp_path):
        """Matrix case: compact() crashed between the two renames of
        the band table's swap (live dir gone, ``bands.swap.old``
        intact); the restarted compact equals the uninterrupted one."""
        from fault_matrix import rows, run_matrix

        from tidb_cdc_spark.streaming import NearDupAdmissionSink

        def prepare(root):
            NearDupAdmissionSink(root).process(
                spark.createDataFrame(
                    [(1, " ".join(f"a{j}" for j in range(30)))],
                    "doc_id long, text string",
                ),
                0,
            )

        def observe(root):
            corpus = NearDupAdmissionSink(root).read_corpus(spark)
            return rows(corpus), rows(spark.read.parquet(os.path.join(root, "bands")))

        run_matrix(
            spark,
            tmp_path,
            prepare,
            lambda root: NearDupAdmissionSink(root).compact(spark, files_per_table=1),
            observe,
            only=lambda step: step == "_replace(bands)",
        )


class TestDigestAdmissionSink:
    """Content-addressable exact dedup at ingest: the foreachBatch
    contract driven directly (process(df, batch_id)) — intra-batch
    representative, cross-batch anti-join, replay no-op, compaction."""

    SCHEMA = "media_id long, kind string, payload binary"

    def _batch(self, spark, rows):
        return spark.createDataFrame(
            [(i, k, bytearray(p)) for i, k, p in rows], self.SCHEMA
        )

    def test_two_batches_admit_novel_payloads_only(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import DigestAdmissionSink

        sink = DigestAdmissionSink(str(tmp_path / "store"))
        sink.process(
            self._batch(spark, [
                (2, "image", b"payload-A"),   # intra-batch pair: 1 wins
                (1, "image", b"payload-A"),
                (3, "audio", b"payload-B"),
            ]),
            0,
        )
        assert {r.media_id for r in sink.read_corpus(spark).collect()} == {1, 3}
        sink.process(
            self._batch(spark, [
                (10, "image", b"payload-A"),  # cross-batch dup of 1
                (11, "video", b"payload-C"),
            ]),
            1,
        )
        corpus = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert corpus == {1, 3, 11}
        digests = spark.read.parquet(str(tmp_path / "store" / "digests"))
        assert digests.count() == 3  # one index row per unique payload
        # the corpus keeps the raw columns, not the screening digest
        assert "digest" not in sink.read_corpus(spark).columns

    def test_replay_of_applied_batch_is_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import DigestAdmissionSink

        sink = DigestAdmissionSink(str(tmp_path / "store"))
        b = self._batch(spark, [(1, "image", b"X")])
        sink.process(b, 0)
        sink.process(b, 0)  # at-least-once re-delivery
        assert sink.read_corpus(spark).count() == 1

    def test_compact_preserves_data_and_screening(self, spark, tmp_path):
        import glob

        from tidb_cdc_spark.streaming import DigestAdmissionSink

        sink = DigestAdmissionSink(str(tmp_path / "store"))
        for b in range(3):
            sink.process(
                self._batch(spark, [
                    (100 * b + i, "image", f"p{b}-{i}".encode())
                    for i in range(3)
                ]),
                b,
            )
        dig_dir = str(tmp_path / "store" / "digests")
        # bucketed layout: files live under bucket=*/ directories
        before_files = len(
            glob.glob(f"{dig_dir}/**/*.parquet", recursive=True)
        )
        assert before_files > 1
        before = {r.media_id for r in sink.read_corpus(spark).collect()}
        touched_buckets = len(glob.glob(f"{dig_dir}/bucket=*"))
        stats = sink.compact(spark, files_per_table=1)
        assert stats["digests"] == (before_files, touched_buckets)
        assert {r.media_id for r in sink.read_corpus(spark).collect()} == before
        # still screens against the compacted index
        sink.process(
            self._batch(spark, [
                (999, "image", b"p0-0"),   # dup of an admitted payload
                (998, "image", b"fresh"),
            ]),
            3,
        )
        after = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert 998 in after and 999 not in after

    def test_torn_compaction_recovers(self, spark, tmp_path):
        """Matrix case: compact() crashed between the two renames of
        the digest table's swap; the restarted compact equals the
        uninterrupted one and the index still screens."""
        from fault_matrix import run_matrix

        from tidb_cdc_spark.streaming import DigestAdmissionSink

        def observe(root):
            sink = DigestAdmissionSink(root)
            sink.process(self._batch(spark, [(2, "image", b"X")]), 1)
            return sorted(r.media_id for r in sink.read_corpus(spark).collect())

        run_matrix(
            spark,
            tmp_path,
            lambda root: DigestAdmissionSink(root).process(
                self._batch(spark, [(1, "image", b"X")]), 0
            ),
            lambda root: DigestAdmissionSink(root).compact(spark, files_per_table=1),
            observe,
            only=lambda step: step == "_replace(digests)",
        )


class TestWinnowOverlapSink:
    def _run(self, spark, tmp_path, name, rows):
        from tidb_cdc_spark.streaming import WinnowOverlapSink

        d = tmp_path / "win_in"
        os.makedirs(d, exist_ok=True)
        tmp = d / f".{name}.tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.replace(tmp, d / name)
        sink = WinnowOverlapSink(str(tmp_path / "store"), k=4, w=2)
        stream = (
            spark.readStream.format("json")
            .schema("doc_id long, text string")
            .load(str(d))
        )
        q = (
            stream.writeStream.foreachBatch(sink.process)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sink

    def test_cross_batch_overlap_reported(self, spark, tmp_path):
        run = " ".join(f"s{i}" for i in range(8))
        self._run(spark, tmp_path, "b1.jsonl", [
            {"doc_id": 1, "text": "a1 a2 " + run},
            {"doc_id": 2, "text": " ".join(f"b{i}" for i in range(12))},
        ])
        sink = self._run(spark, tmp_path, "b2.jsonl", [
            # doc 10 quotes doc 1's run (>= w+k-1 = 5 tokens shared)
            {"doc_id": 10, "text": run + " c1 c2 c3"},
            {"doc_id": 11, "text": " ".join(f"d{i}" for i in range(12))},
        ])
        ov = sink.read_overlaps(spark).collect()
        pairs = {(r.new_id, r.corpus_id) for r in ov}
        assert (10, 1) in pairs
        assert not any(n == 11 for n, _ in pairs)

    def test_replay_is_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import WinnowOverlapSink

        sink = WinnowOverlapSink(str(tmp_path / "store"), k=4, w=2)
        b = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(10)))],
            "doc_id long, text string",
        )
        sink.process(b, 0)
        sink.process(b, 0)  # re-delivery
        fps = spark.read.parquet(str(tmp_path / "store" / "fps"))
        # fingerprints appended once, not twice
        assert fps.count() == fps.distinct().count()


class TestWinnowSinkRegressions:
    def test_intra_batch_overlap_reported_once(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import WinnowOverlapSink

        sink = WinnowOverlapSink(str(tmp_path / "store"), k=4, w=2)
        run = " ".join(f"s{i}" for i in range(8))
        b = spark.createDataFrame(
            [
                (1, "x1 x2 " + run),
                (2, run + " y1 y2"),  # same-batch partner
                (3, " ".join(f"z{i}" for i in range(10))),
            ],
            "doc_id long, text string",
        )
        sink.process(b, 0)
        ov = sink.read_overlaps(spark).collect()
        pairs = {(r.new_id, r.corpus_id) for r in ov}
        assert (2, 1) in pairs  # reported once, smaller id = corpus
        assert (1, 2) not in pairs
        assert not any(3 in p for p in pairs)

    def test_redelivered_doc_id_no_self_pair(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import WinnowOverlapSink

        sink = WinnowOverlapSink(str(tmp_path / "store"), k=4, w=2)
        text = " ".join(f"w{i}" for i in range(10))
        sink.process(
            spark.createDataFrame([(5, text)], "doc_id long, text string"), 0
        )
        # batch 1 carries an UPDATE of doc 5 (same id, similar text)
        sink.process(
            spark.createDataFrame(
                [(5, text + " tail")], "doc_id long, text string"
            ),
            1,
        )
        ov = sink.read_overlaps(spark)
        if ov is not None:
            assert not any(
                r.new_id == r.corpus_id for r in ov.collect()
            )


class TestPcaMomentSinkRegression:
    def test_empty_first_batch_fit_returns_none(self, spark, tmp_path):
        import numpy as np

        from tidb_cdc_spark.streaming import PcaMomentSink

        sink = PcaMomentSink(str(tmp_path / "store"))
        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        sink.process(empty, 0)  # commits a zero-row moment table
        assert sink.fit(spark) is None
        # a later real batch recovers normally
        X = np.eye(3)
        rows = [(int(i), [float(v) for v in X[i]]) for i in range(3)]
        sink.process(
            spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
            1,
        )
        assert sink.fit(spark, k=3) is not None


class TestPcaMomentSinkParamGuard:
    def test_mismatched_dim_refuses_merge(self, spark, tmp_path):
        import pytest

        from tidb_cdc_spark.streaming import PcaMomentSink

        sink = PcaMomentSink(str(tmp_path / "store"))
        sink.process(
            spark.createDataFrame(
                [(0, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
            ),
            0,
        )
        with pytest.raises(ValueError, match="different parameters"):
            sink.process(
                spark.createDataFrame(
                    [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
                ),
                1,
            )
        # an empty batch carries no dim and must not trip the guard
        sink.process(
            spark.createDataFrame(
                [], "vec_id long, embedding array<double>"
            ),
            1,
        )
        # nor reset the stored dim: the mismatch still raises after it
        with pytest.raises(ValueError, match="different parameters"):
            sink.process(
                spark.createDataFrame(
                    [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
                ),
                2,
            )


class TestWinnowSinkTornBatchRedelivery:
    def test_crash_between_fps_and_watermark_no_double_pairs(
        self, spark, tmp_path
    ):
        """The r6-advice scenario: fps/overlaps written, crash before
        the watermark — redelivery must not pair the batch against
        its own torn fingerprints (doubled + reversed intra-batch
        pairs) nor leave two copies of the batch's fps rows."""
        import os

        from tidb_cdc_spark.streaming import WinnowOverlapSink

        root = str(tmp_path / "store")
        sink = WinnowOverlapSink(root, k=4, w=2)
        run = " ".join(f"s{i}" for i in range(8))
        b0 = spark.createDataFrame(
            [(1, "x1 x2 " + run), (2, run + " y1 y2")],
            "doc_id long, text string",
        )
        sink.process(b0, 0)
        # simulate the crash: drop the watermark, keep fps/overlaps
        os.remove(os.path.join(root, "_BATCH"))
        sink.process(b0, 0)  # redelivery re-runs the batch
        ov = sink.read_overlaps(spark).collect()
        pairs = [(r.new_id, r.corpus_id) for r in ov]
        assert pairs == [(2, 1)]  # once, small id as corpus, no reverse
        fps = spark.read.parquet(os.path.join(root, "fps"))
        assert fps.count() == fps.distinct().count()


class TestSharedSinkSerialization:
    def test_one_sink_instance_across_registrations_is_safe(
        self, spark, tmp_path
    ):
        """One sink object registered for several tables must not be
        entered concurrently by the shared router's threads."""
        import json
        import os
        import threading

        from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec
        from tidb_cdc_spark.sources.files import maxwell_file_stream
        from tidb_cdc_spark.streaming.connector import (
            Connector,
            ConnectorConfig,
        )

        class ConcurrencyProbe:
            def __init__(self):
                self.active = 0
                self.max_active = 0
                self.calls = 0
                self._m = threading.Lock()

            def process(self, changes, batch_id, spec):
                with self._m:
                    self.active += 1
                    self.max_active = max(self.max_active, self.active)
                changes.count()  # do real work while "inside"
                with self._m:
                    self.active -= 1
                    self.calls += 1

        probe = ConcurrencyProbe()
        specs = [
            TableSpec(
                database="d",
                table=f"s{i}",
                columns=(
                    ColumnSpec("K", "string", column="k", pk=True),
                    ColumnSpec("V", "int"),
                ),
            )
            for i in range(6)
        ]
        events_dir = tmp_path / "in"
        os.makedirs(events_dir, exist_ok=True)
        msgs = [
            json.dumps(
                {
                    "database": "d",
                    "table": f"s{i}",
                    "type": "insert",
                    "ts": 1,
                    "data": {"k": "a", "v": i},
                }
            )
            for i in range(6)
        ]
        with open(events_dir / "b1.jsonl", "w") as f:
            f.write("\n".join(msgs))
        conn = Connector(
            ConnectorConfig(
                server_name="srv", checkpoint_root=str(tmp_path / "ck")
            )
        )
        for s in specs:
            conn.register(s, [probe])
        q = conn.start_shared(
            spark,
            source=maxwell_file_stream(spark, str(events_dir)),
            available_now=True,
        )
        q.awaitTermination()
        assert probe.calls == 6
        assert probe.max_active == 1  # never entered concurrently


class TestBucketedIndexScale:
    """R12 layout: the admission indexes are directory-partitioned on
    a key-hash bucket, the screen streams the index against the
    broadcast batch, and the scan prunes to the batch's touched
    buckets — the properties behind 'per-batch cost ∝ batch' (the
    r11 verdict's finding was that the flat layout re-shuffled the
    whole index every micro-batch)."""

    SCHEMA = "media_id long, kind string, payload binary"

    def _batch(self, spark, rows):
        return spark.createDataFrame(
            [(i, k, bytearray(p)) for i, k, p in rows], self.SCHEMA
        )

    def test_store_params_win_over_constructor(self, spark, tmp_path):
        """A restart with a different n_buckets default must keep the
        live store's bucketing (reads and writes stay consistent)."""
        from tidb_cdc_spark.streaming import DigestAdmissionSink

        root = str(tmp_path / "store")
        DigestAdmissionSink(root, n_buckets=8).process(
            self._batch(spark, [(1, "image", b"A")]), 0
        )
        sink2 = DigestAdmissionSink(root, n_buckets=32)
        assert sink2._params()["n_buckets"] == 8
        sink2.process(
            self._batch(spark, [(2, "image", b"A"), (3, "image", b"B")]), 1
        )
        corpus = {r.media_id for r in sink2.read_corpus(spark).collect()}
        assert corpus == {1, 3}

    def test_rebucket_via_compact(self, spark, tmp_path):
        """compact(n_buckets=...) re-buckets the index (the lever
        that bounds bucket size as the index grows) and screening
        continues against the new layout."""
        import glob

        from tidb_cdc_spark.streaming import DigestAdmissionSink
        from tidb_cdc_spark.streaming.store import read_json

        root = str(tmp_path / "store")
        sink = DigestAdmissionSink(root, n_buckets=4)
        for b in range(2):
            sink.process(
                self._batch(
                    spark,
                    [(10 * b + i, "image", f"p{b}-{i}".encode()) for i in range(4)],
                ),
                b,
            )
        sink.compact(spark, n_buckets=16)
        assert read_json(os.path.join(root, "_PARAMS"))["n_buckets"] == 16
        buckets = glob.glob(str(tmp_path / "store" / "digests" / "bucket=*"))
        assert 0 < len(buckets) <= 16
        sink.process(
            self._batch(
                spark, [(99, "image", b"p0-0"), (98, "image", b"fresh")]
            ),
            2,
        )
        after = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert 98 in after and 99 not in after
        assert spark.read.parquet(str(tmp_path / "store" / "digests")).count() == 9

    def test_screen_plan_prunes_and_broadcasts(self, spark, tmp_path):
        """The physical screen: the index scan carries a bucket
        PartitionFilter and the join is a BroadcastHashJoin with the
        index streamed — never a SortMergeJoin (which would shuffle
        and sort the whole index per batch)."""
        from pyspark.sql import functions as F

        from tidb_cdc_spark.streaming import DigestAdmissionSink
        from tidb_cdc_spark.streaming.enrich import _bucket_expr

        root = str(tmp_path / "store")
        sink = DigestAdmissionSink(root)
        sink.process(
            self._batch(
                spark, [(i, "image", f"p{i}".encode()) for i in range(20)]
            ),
            0,
        )
        probe = self._batch(
            spark, [(100, "image", b"p3"), (101, "image", b"novel")]
        ).select(
            F.unhex(F.sha2("payload", 256)).alias("_digest")
        ).withColumn("_bucket", _bucket_expr(["_digest"], sink._params()["n_buckets"]))
        touched = [r[0] for r in probe.select("_bucket").distinct().collect()]
        store = sink._index_scan(spark, probe, touched).select(
            F.col("digest").alias("_digest")
        )
        seen = store.join(
            F.broadcast(probe.select("_digest")), "_digest", "left_semi"
        )
        plan = seen._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # r13 manifest screen: pruning happens BEFORE the plan — the
        # scan's input files are exactly the touched buckets' files
        # from the manifest, with zero directory listing (stronger
        # than the old PartitionFilters pin)
        assert os.path.exists(os.path.join(root, "digests.manifest"))
        in_buckets = {
            int(f.split("bucket=")[1].split("/")[0])
            for f in store.inputFiles()
        }
        assert in_buckets <= set(touched), (in_buckets, touched)
        assert seen.count() == 1  # exactly the planted dup

    def test_bucketed_store_without_params_refuses(self, spark, tmp_path):
        """A bucketed index whose _PARAMS went missing must refuse
        loudly — guessing a bucket count against unknown on-disk
        bucketing would silently stop screening some buckets."""
        import pytest as _pytest

        from tidb_cdc_spark.streaming import DigestAdmissionSink

        root = str(tmp_path / "store")
        sink = DigestAdmissionSink(root)
        sink.process(
            self._batch(spark, [(1, "image", b"A"), (2, "image", b"B")]), 0
        )
        os.remove(os.path.join(root, "_PARAMS"))
        with _pytest.raises(ValueError, match="_PARAMS"):
            DigestAdmissionSink(root).process(
                self._batch(spark, [(3, "image", b"C")]), 1
            )

    def test_band_store_screen_is_broadcast_pruned(self, spark, tmp_path):
        """The near-dup sink's store join must also stream the band
        index against the broadcast batch bands with a bucket
        partition filter — same pinned shape as the digest screen."""
        from pyspark.sql import functions as F

        from tidb_cdc_spark.functions.dedup import (
            minhash_band_rows,
            near_dup_ingest,
        )
        from tidb_cdc_spark.streaming import NearDupAdmissionSink
        from tidb_cdc_spark.streaming.enrich import _bucket_expr

        root = str(tmp_path / "store")
        sink = NearDupAdmissionSink(root)
        b0 = spark.createDataFrame(
            [(i, " ".join(f"w{i}_{j}" for j in range(30))) for i in range(6)],
            "doc_id long, text string",
        )
        sink.process(b0, 0)
        b1 = spark.createDataFrame(
            [(10, " ".join(f"w3_{j}" for j in range(30)))],
            "doc_id long, text string",
        )
        nb = sink._params()["n_buckets"]
        bands = minhash_band_rows(b1)
        touched = [
            r[0]
            for r in bands.select(
                _bucket_expr(["band", "bhash"], nb).alias("_b")
            )
            .distinct()
            .collect()
        ]
        store = sink._index_scan(spark, b1, touched)
        _, candidates, _ = near_dup_ingest(b1, store, batch_bands=bands)
        plan = (
            candidates._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # r13 manifest screen (see the digest sink's plan test)
        in_buckets = {
            int(f.split("bucket=")[1].split("/")[0])
            for f in store.inputFiles()
        }
        assert in_buckets <= set(touched), (in_buckets, touched)
        pairs = {(r.new_id, r.corpus_id) for r in candidates.collect()}
        assert (10, 3) in pairs  # the planted cross-batch near-dup


class TestPhashAdmissionSink:
    """Perceptual near-dup admission: the fuzzy twin of the digest
    sink, driven directly through the foreachBatch contract. Plants
    use synth_bmp_pixel_media (real pixel payloads); a shifted copy
    has DIFFERENT bytes but the same aHash — exactly the case exact
    digest dedup cannot catch."""

    def _media(self, spark, rows):
        """rows: (media_id, pattern, shift) → real BMP batch."""
        from tidb_cdc_spark.functions.media_synth import synth_bmp_pixel_media

        df = spark.createDataFrame(
            rows, "media_id long, pattern int, shift int"
        )
        return synth_bmp_pixel_media(df, "media_id")

    def test_four_scenarios(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from tidb_cdc_spark.streaming import PhashAdmissionSink

        root = str(tmp_path / "store")
        sink = PhashAdmissionSink(root)
        # batch 0: 1 and 2 are pixel-identical twins (intra-batch:
        # min id admitted), 3 is a distinct pattern
        sink.process(
            self._media(spark, [(1, 5, 0), (2, 5, 0), (3, 9, 0)]), 0
        )
        assert {r.media_id for r in sink.read_corpus(spark).collect()} == {1, 3}
        # batch 1: 10 is a BRIGHTNESS-SHIFTED copy of the admitted 1
        # (different bytes — exact dedup would admit it — same
        # aHash ⇒ cross-batch perceptual reject); 11 is novel;
        # 12 is undecodable (NULL hash ⇒ admitted unscreened)
        shifted = self._media(spark, [(10, 5, 20), (11, 77, 0)])
        base_payload = bytes(
            self._media(spark, [(1, 5, 0)]).collect()[0].payload
        )
        shifted_payload = bytes(
            shifted.filter(F.col("media_id") == 10).collect()[0].payload
        )
        assert shifted_payload != base_payload  # bytes DO differ
        junk = spark.createDataFrame(
            [(12, "image", None, None, None, None, bytearray(b"not-a-bmp"))],
            shifted.schema,
        )
        sink.process(shifted.unionByName(junk), 1)
        corpus = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert corpus == {1, 3, 11, 12}
        # index holds admitted DECODABLE media only
        idx = spark.read.parquet(f"{root}/phashes")
        assert {r.media_id for r in idx.collect()} == {1, 3, 11}

    def test_replay_is_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import PhashAdmissionSink

        sink = PhashAdmissionSink(str(tmp_path / "store"))
        b = self._media(spark, [(1, 7, 0)])
        sink.process(b, 0)
        sink.process(b, 0)
        assert sink.read_corpus(spark).count() == 1

    def test_cross_codec_reencode_screened_at_ingest(self, spark, tmp_path):
        """r13: the decode_pixels boundary now inflates PNG and
        GIF, so a COMPRESSED re-encode of an admitted BMP — byte-
        disjoint, exact-digest-invisible — is perceptually screened
        at ingest with no sink change."""
        from tidb_cdc_spark.functions.media_synth import (
            synth_codec_pixel_media,
        )
        from tidb_cdc_spark.streaming import PhashAdmissionSink

        sink = PhashAdmissionSink(str(tmp_path / "store"))
        sink.process(self._media(spark, [(1, 5, 0)]), 0)  # BMP admitted
        legs = spark.createDataFrame(
            [
                (20, 5, 0, "png"),  # zlib re-encode of pattern 5
                (21, 5, 20, "png_pal"),  # palette + brightness shift
                (22, 5, 0, "gif_i"),  # interlaced LZW re-encode
                (23, 123, 0, "png"),  # novel pattern → admitted
            ],
            "media_id long, pattern int, shift int, codec string",
        )
        sink.process(synth_codec_pixel_media(legs), 1)
        corpus = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert corpus == {1, 23}

    def test_compact_preserves_screening(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import PhashAdmissionSink

        sink = PhashAdmissionSink(str(tmp_path / "store"))
        for b in range(3):
            sink.process(
                self._media(spark, [(10 * b + i, 30 + 3 * b + i, 0) for i in range(3)]),
                b,
            )
        before = {r.media_id for r in sink.read_corpus(spark).collect()}
        sink.compact(spark, files_per_table=1)
        assert {r.media_id for r in sink.read_corpus(spark).collect()} == before
        # a shifted copy of an admitted pattern is still rejected
        sink.process(self._media(spark, [(99, 30, 20), (98, 200, 0)]), 3)
        after = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert 98 in after and 99 not in after

    def test_layout_mismatch_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from tidb_cdc_spark.streaming import PhashAdmissionSink

        root = str(tmp_path / "store")
        PhashAdmissionSink(root).process(self._media(spark, [(1, 5, 0)]), 0)
        with _pytest.raises(ValueError, match="blocks"):
            PhashAdmissionSink(root, blocks=4).process(
                self._media(spark, [(2, 9, 0)]), 1
            )

    def test_screen_is_broadcast_not_sort_merge(self, spark, tmp_path):
        """The cross-batch candidate join streams the index against
        the broadcast batch keys — same pinned shape as the digest
        sink's screen."""
        from pyspark.sql import functions as F

        from tidb_cdc_spark.functions.dedup import manku_table_keys
        from tidb_cdc_spark.streaming import PhashAdmissionSink
        from tidb_cdc_spark.streaming.enrich import _bucket_expr

        root = str(tmp_path / "store")
        sink = PhashAdmissionSink(root)
        sink.process(
            self._media(spark, [(i, 1 + i, 0) for i in range(10)]), 0
        )
        from tidb_cdc_spark.functions.media_hash import perceptual_hashes

        probe = self._media(spark, [(100, 3, 20)])
        sig = perceptual_hashes(probe).select(
            F.col("media_id").alias("_id"), F.col("ahash").alias("_sh")
        )
        keyed = manku_table_keys(sig).withColumn(
            "_bucket", _bucket_expr(["_table", "_key"], 64)
        )
        touched = [r[0] for r in keyed.select("_bucket").distinct().collect()]
        store = sink._index_scan(spark, probe, touched)
        cand = store.join(
            F.broadcast(
                keyed.select(
                    F.col("_table").alias("tbl"),
                    F.col("_key").alias("key"),
                    "_id",
                    "_sh",
                )
            ),
            ["tbl", "key"],
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # r13 manifest screen (see the digest sink's plan test)
        in_buckets = {
            int(f.split("bucket=")[1].split("/")[0])
            for f in store.inputFiles()
        }
        assert in_buckets <= set(touched), (in_buckets, touched)



class TestIvfIndexSink:
    """Streaming IVF index maintenance: the batch ANN layout
    (``ivf_write_index``) kept live under micro-batch appends, served
    by the unchanged ``ivf_probe_index`` plan."""

    DIM = 4

    def _vecs(self, ids, cluster):
        import numpy as np

        base = {
            0: [10.0, 0.0, 0.0, 0.0],
            1: [0.0, 10.0, 0.0, 0.0],
            2: [0.0, 0.0, 10.0, 0.0],
        }[cluster]
        out = []
        for i in ids:
            out.append(
                (
                    i,
                    [
                        float(b + 0.01 * ((i * 7 + d) % 5))
                        for d, b in enumerate(base)
                    ],
                )
            )
        return out

    def _batch(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def _corpus(self):
        return (
            self._vecs(range(0, 10), 0)
            + self._vecs(range(10, 20), 1)
            + self._vecs(range(20, 30), 2)
        )

    def test_appends_assign_to_fixed_centroids(self, spark, tmp_path):
        """Three batches build the full index; every row's cell is
        the numpy argmin against the PERSISTED centroids (fit once,
        fixed thereafter) — including batches processed by a FRESH
        sink instance with a different constructor default (the
        store's _PARAMS is authoritative on restart)."""
        import numpy as np

        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        root = str(tmp_path / "ivf")
        corpus = self._corpus()
        sink = IvfIndexSink(root, n_cells=3, seed=7)
        sink.process(self._batch(spark, corpus[:10]), 0)
        sink.process(self._batch(spark, corpus[10:20]), 1)
        # restart: new instance, wrong default — store params must win
        sink2 = IvfIndexSink(root, n_cells=99, seed=123)
        sink2.process(self._batch(spark, corpus[20:]), 2)

        idx = sink2.read_index(spark)
        assert idx.count() == 30
        centers = np.stack(
            [
                np.asarray(r.center)
                for r in spark.read.parquet(f"{root}/centroids")
                .orderBy("cell")
                .collect()
            ]
        )
        assert centers.shape[0] == 3  # fit k, not the restart default
        got = {r.vec_id: r.cell for r in idx.collect()}
        for vid, vec in corpus:
            d2 = ((np.asarray(vec) - centers) ** 2).sum(axis=1)
            assert got[vid] == int(np.argmin(d2)), vid

    def test_replay_is_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        root = str(tmp_path / "ivf")
        sink = IvfIndexSink(root, n_cells=3)
        corpus = self._corpus()
        sink.process(self._batch(spark, corpus[:15]), 0)
        sink.process(self._batch(spark, corpus[15:]), 1)
        n = sink.read_index(spark).count()
        sink.process(self._batch(spark, corpus[15:]), 1)  # re-delivery
        assert sink.read_index(spark).count() == n

    def test_empty_first_batch_defers_fit(self, spark, tmp_path):
        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        root = str(tmp_path / "ivf")
        sink = IvfIndexSink(root, n_cells=3)
        sink.process(self._batch(spark, []), 0)
        import os

        assert not os.path.exists(f"{root}/centroids")  # nothing to fit
        sink.process(self._batch(spark, self._corpus()), 1)
        assert sink.read_index(spark).count() == 30

    def test_search_parity_with_batch_layout(self, spark, tmp_path):
        """The serving path is IDENTICAL to the batch index's: an
        index directory hand-built from the sink's own centroids +
        the same rows probes to row-identical top-k."""
        import numpy as np

        from tidb_cdc_spark.functions.similarity import ivf_probe_index
        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        root = str(tmp_path / "stream")
        corpus = self._corpus()
        sink = IvfIndexSink(root, n_cells=3, seed=7)
        for b, lo in enumerate(range(0, 30, 10)):
            sink.process(self._batch(spark, corpus[lo : lo + 10]), b)

        # batch twin: same centroids, same rows, written in one shot
        batch_root = str(tmp_path / "batch")
        centers = np.stack(
            [
                np.asarray(r.center)
                for r in spark.read.parquet(f"{root}/centroids")
                .orderBy("cell")
                .collect()
            ]
        )
        rows = [
            (vid, vec, int(((np.asarray(vec) - centers) ** 2).sum(1).argmin()))
            for vid, vec in corpus
        ]
        (
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>, cell int"
            )
            .repartition("cell")
            .write.partitionBy("cell")
            .parquet(f"{batch_root}/index")
        )
        import shutil

        shutil.copytree(f"{root}/centroids", f"{batch_root}/centroids")

        queries = self._batch(spark, self._vecs(range(100, 103), 1))
        a = sink.search(spark, queries, k=5, n_probe=2).collect()
        b = ivf_probe_index(
            spark, batch_root, queries, k=5, n_probe=2
        ).collect()
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        assert sorted(a, key=key) == sorted(b, key=key)
        # and the near cluster's members are what comes back
        assert all(10 <= r.neighbor_id < 20 for r in a)

    def test_torn_append_healed_by_search_and_compact(self, spark, tmp_path):
        """ADVICE r12: a crash AFTER the index append but BEFORE the
        watermark commit duplicates the batch on re-delivery. The
        raw store then really holds duplicate (vec_id, cell) rows —
        but search() dedupes candidates (no neighbor consumes two
        top-k slots) and compact() removes them permanently."""
        import os

        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        root = str(tmp_path / "ivf")
        corpus = self._corpus()
        sink = IvfIndexSink(root, n_cells=3, seed=7)
        sink.process(self._batch(spark, corpus[:20]), 0)
        sink.process(self._batch(spark, corpus[20:]), 1)
        # simulate the torn window: append of batch 1 landed, its
        # watermark commit did not
        os.remove(os.path.join(root, "_BATCH"))
        # hack: restore watermark to batch 0 (the last COMMITTED one)
        from tidb_cdc_spark.streaming.store import commit_watermark

        commit_watermark(root, 0)
        sink.process(self._batch(spark, corpus[20:]), 1)  # re-delivery
        raw = sink.read_index(spark)
        assert raw.count() == 40  # duplicates really exist on disk
        assert raw.select("vec_id").distinct().count() == 30

        queries = self._batch(spark, self._vecs(range(100, 103), 2))
        res = sink.search(spark, queries, k=8, n_probe=3).collect()
        for qid in {r.query_id for r in res}:
            ns = [r.neighbor_id for r in res if r.query_id == qid]
            assert len(ns) == len(set(ns)), "duplicate neighbor in top-k"
        # the duplicated cluster's ten members all make top-8's pool:
        # a duplicate consuming two slots would push one out
        assert {r.neighbor_id for r in res} >= set(range(20, 28))

        sink.compact(spark)
        healed = sink.read_index(spark)
        assert healed.count() == 30  # permanent heal
        res2 = sink.search(spark, queries, k=8, n_probe=3).collect()
        key = lambda r: (r.query_id, r.rank)  # noqa: E731
        assert sorted(res, key=key) == sorted(res2, key=key)

    def test_compact_collapses_files_preserves_search(self, spark, tmp_path):
        import glob

        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        root = str(tmp_path / "ivf")
        corpus = self._corpus()
        sink = IvfIndexSink(root, n_cells=3, seed=7)
        for b, lo in enumerate(range(0, 30, 6)):
            sink.process(self._batch(spark, corpus[lo : lo + 6]), b)
        queries = self._batch(spark, self._vecs(range(100, 102), 2))
        before = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in sink.search(spark, queries, k=4).collect()
        )
        files_before = len(
            glob.glob(f"{root}/index/**/*.parquet", recursive=True)
        )
        stats = sink.compact(spark)
        files_after = len(
            glob.glob(f"{root}/index/**/*.parquet", recursive=True)
        )
        assert files_after < files_before
        assert stats["index"][1] == files_after
        after = sorted(
            (r.query_id, r.rank, r.neighbor_id)
            for r in sink.search(spark, queries, k=4).collect()
        )
        assert before == after

    def test_file_stream_e2e(self, spark, tmp_path):
        """Real readStream → foreachBatch(sink.process) → live
        search, two availableNow triggers with a checkpoint (the
        deployment shape, not just direct process() calls)."""
        from tidb_cdc_spark.streaming import IvfIndexSink

        sink = IvfIndexSink(str(tmp_path / "store"), n_cells=3, seed=7)
        corpus = self._corpus()
        d = tmp_path / "vec_in"
        os.makedirs(d, exist_ok=True)

        def run_batch(name, rows):
            tmp = d / f".{name}.tmp"
            with open(tmp, "w") as f:
                f.write(
                    "\n".join(
                        json.dumps({"vec_id": i, "embedding": v})
                        for i, v in rows
                    )
                )
            os.replace(tmp, d / name)
            q = (
                spark.readStream.format("json")
                .schema("vec_id long, embedding array<double>")
                .load(str(d))
                .writeStream.foreachBatch(sink.process)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_batch("b1.jsonl", corpus[:15])
        run_batch("b2.jsonl", corpus[15:])
        assert sink.read_index(spark).count() == 30
        queries = self._batch(spark, self._vecs(range(200, 202), 0))
        hits = sink.search(spark, queries, k=3, n_probe=1).collect()
        assert hits and all(0 <= r.neighbor_id < 10 for r in hits)

    # -------------------------------------------- rebuild (r14)

    def _drifted_store(self, spark, tmp_path):
        """Fit on cluster 0 ONLY (all centroids in one ball), then
        append the drifted clusters 1 and 2 — the centroid-drift
        shape rebuild() exists for."""
        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        root = str(tmp_path / "ivf")
        sink = IvfIndexSink(root, n_cells=3, seed=7)
        sink.process(self._batch(spark, self._vecs(range(0, 10), 0)), 0)
        sink.process(self._batch(spark, self._vecs(range(10, 20), 1)), 1)
        sink.process(self._batch(spark, self._vecs(range(20, 30), 2)), 2)
        return sink, root

    def test_rebuild_recovers_recall_after_drift(self, spark, tmp_path):
        import json
        import os

        import numpy as np

        sink, root = self._drifted_store(spark, tmp_path)
        queries = self._batch(
            spark,
            self._vecs([100], 0)
            + self._vecs([101], 1)
            + self._vecs([102], 2),
        )

        def recall_at_1probe():
            res = sink.search(spark, queries, k=5, n_probe=1).collect()
            want = {100: range(0, 10), 101: range(10, 20), 102: range(20, 30)}
            hit = sum(
                1
                for r in res
                if r.neighbor_id in want[r.query_id]
            )
            return hit / 15.0

        before = recall_at_1probe()
        stats = sink.rebuild(spark)
        assert stats["n_cells"] == 3 and stats["rows"] == 30
        assert stats["version"] == 2
        with open(os.path.join(root, "_PARAMS")) as f:
            params = json.load(f)
        assert params["version"] == 2 and params["n_cells"] == 3
        after = recall_at_1probe()
        assert after == 1.0  # three true clusters → three cells
        assert after >= before
        # every stored row's cell is argmin against the NEW centroids
        cent = {
            r.cell: np.asarray(r.center)
            for r in spark.read.parquet(f"{root}/centroids").collect()
        }
        for r in sink.read_index(spark).collect():
            v = np.asarray(r.embedding)
            d = {c: float(((v - ctr) ** 2).sum()) for c, ctr in cent.items()}
            assert r.cell == min(d, key=d.get)
        # appends keep working against the new generation
        sink.process(self._batch(spark, self._vecs(range(30, 33), 1)), 3)
        res = sink.search(
            spark, self._batch(spark, self._vecs([103], 1)), k=13, n_probe=1
        ).collect()
        assert {r.neighbor_id for r in res} == set(range(10, 20)) | {
            30, 31, 32,
        }
        # rebuild folds the torn-append dedupe in permanently
        assert sink.read_index(spark).count() == 33

    def test_rebuild_dedupes_torn_appends(self, spark, tmp_path):
        import os

        from tidb_cdc_spark.streaming.store import commit_watermark

        sink, root = self._drifted_store(spark, tmp_path)
        os.remove(os.path.join(root, "_BATCH"))
        commit_watermark(root, 1)
        sink.process(self._batch(spark, self._vecs(range(20, 30), 2)), 2)
        assert sink.read_index(spark).count() == 40  # torn duplicates
        stats = sink.rebuild(spark)
        assert stats["rows"] == 30
        assert sink.read_index(spark).count() == 30  # permanent heal

    def test_rebuild_crash_windows_all_heal(self, spark, tmp_path):
        """Matrix over every step of rebuild() (including the
        dangerous index-swapped/centroids-not window): a restarted
        sink's search must equal the original generation's before the
        journal commit and the completed rebuild's after it, with no
        staging left behind."""
        import shutil

        from fault_matrix import run_matrix

        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        _, root0 = self._drifted_store(spark, tmp_path / "drifted")
        queries = self._batch(spark, self._vecs([102], 2))

        def results(root):
            s = IvfIndexSink(root, n_cells=3, seed=7)
            found = sorted(
                (r.query_id, r.rank, r.neighbor_id)
                for r in s.search(spark, queries, k=5, n_probe=3).collect()
            )
            leftovers = [d for d in os.listdir(root) if ".swap." in d or d == "_REBUILD"]
            return leftovers, found

        original = results(root0)

        def check(expected, got, k, steps):
            committed = k > steps.index("_replace(_REBUILD)")
            assert got == (expected if committed else original)

        run_matrix(
            spark,
            tmp_path,
            lambda root: shutil.copytree(root0, root),
            lambda root: IvfIndexSink(root, n_cells=3, seed=7).rebuild(spark),
            results,
            check=check,
            replay=lambda root: None,  # the restarted sink's search heals
        )

    def test_rebuild_requires_live_index(self, spark, tmp_path):
        from tidb_cdc_spark.streaming.enrich import IvfIndexSink

        sink = IvfIndexSink(str(tmp_path / "empty"), n_cells=3)
        with pytest.raises(ValueError, match="live fitted index"):
            sink.rebuild(spark)


class TestAudioWindowAdmissionSink:
    """Trim-robust audio admission: the ingest twin of
    multimodal_audio_trim_audit. Plants use synth_wav_windowed_media
    (real PCM payloads); a trim(2 windows)+regain(x3) copy has
    DIFFERENT bytes and a different clip fingerprint but shares 6
    window hashes — exactly the transform the exact-digest and
    clip-fingerprint screens structurally cannot catch."""

    def _media(self, spark, rows):
        """rows: (media_id, base, skip, gain) → real WAV batch."""
        from tidb_cdc_spark.functions.media_synth import (
            synth_wav_windowed_media,
        )

        ids = spark.createDataFrame(
            rows, "media_id long, base int, skip int, gain int"
        )
        return synth_wav_windowed_media(ids, "media_id")

    def test_trimmed_copy_screened_novel_admitted(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import AudioWindowAdmissionSink

        root = str(tmp_path / "store")
        sink = AudioWindowAdmissionSink(root)
        sink.process(self._media(spark, [(1, 5, 0, 1), (2, 9, 0, 1)]), 0)
        # 10 = trim+regain of stored clip 1 (different bytes, shares
        # 6 >= 4 window hashes); 11 = novel
        sink.process(self._media(spark, [(10, 5, 2, 3), (11, 42, 0, 1)]), 1)
        got = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert got == {1, 2, 11}
        # index holds only admitted clips' windows
        idx = spark.read.parquet(f"{root}/windows")
        assert set(r.media_id for r in idx.collect()) == {1, 2, 11}
        # manifest-backed screen store
        assert os.path.exists(f"{root}/windows.manifest")

    def test_intra_batch_chain_rule(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import AudioWindowAdmissionSink

        root = str(tmp_path / "store")
        sink = AudioWindowAdmissionSink(root)
        # full clip + its trimmed copy in the SAME batch: smallest
        # id admitted, the copy rejected
        sink.process(self._media(spark, [(3, 7, 0, 1), (8, 7, 2, 3)]), 0)
        got = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert got == {3}

    def test_replay_is_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import AudioWindowAdmissionSink

        root = str(tmp_path / "store")
        sink = AudioWindowAdmissionSink(root)
        sink.process(self._media(spark, [(1, 5, 0, 1)]), 0)
        sink.process(self._media(spark, [(2, 6, 0, 1)]), 1)
        n = sink.read_corpus(spark).count()
        ni = spark.read.parquet(f"{root}/windows").count()
        sink.process(self._media(spark, [(2, 6, 0, 1)]), 1)  # re-delivery
        assert sink.read_corpus(spark).count() == n
        assert spark.read.parquet(f"{root}/windows").count() == ni

    def test_compaction_preserves_screen(self, spark, tmp_path):
        import glob

        from tidb_cdc_spark.streaming import AudioWindowAdmissionSink

        root = str(tmp_path / "store")
        sink = AudioWindowAdmissionSink(root)
        for b in range(4):
            sink.process(self._media(spark, [(b, b, 0, 1)]), b)
        before = len(glob.glob(f"{root}/windows/**/*.parquet", recursive=True))
        stats = sink.compact(spark)
        after = len(glob.glob(f"{root}/windows/**/*.parquet", recursive=True))
        assert after < before and stats["windows"][1] == after
        # screen still catches a trimmed copy of a pre-compact clip
        sink.process(self._media(spark, [(50, 2, 2, 3), (51, 77, 0, 1)]), 4)
        got = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert 51 in got and 50 not in got

    def test_layout_guards(self, spark, tmp_path):
        import pytest as _pytest

        from tidb_cdc_spark.streaming import AudioWindowAdmissionSink

        root = str(tmp_path / "store")
        sink = AudioWindowAdmissionSink(root)
        sink.process(self._media(spark, [(1, 5, 0, 1)]), 0)
        # mismatched window layout refuses
        with _pytest.raises(ValueError, match="window_samples"):
            AudioWindowAdmissionSink(root, window_samples=256).process(
                self._media(spark, [(2, 6, 0, 1)]), 1
            )
        # mismatched threshold refuses
        with _pytest.raises(ValueError, match="min_shared_windows"):
            AudioWindowAdmissionSink(root, min_shared_windows=2).process(
                self._media(spark, [(2, 6, 0, 1)]), 1
            )
        # lost _PARAMS with an existing index refuses
        os.remove(os.path.join(root, "_PARAMS"))
        with _pytest.raises(ValueError, match="_PARAMS"):
            AudioWindowAdmissionSink(root).process(
                self._media(spark, [(2, 6, 0, 1)]), 1
            )

    def test_null_sample_path_admitted_unscreened(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import AudioWindowAdmissionSink

        root = str(tmp_path / "store")
        sink = AudioWindowAdmissionSink(root)
        sink.process(self._media(spark, [(1, 5, 0, 1)]), 0)
        # a payload with no decodable PCM: admitted, not indexed
        undecodable = spark.createDataFrame(
            [(9, "audio", None, None, None, None, bytearray(b"not-a-wav"))],
            "media_id long, kind string, mime string, width int, "
            "height int, duration_ms long, payload binary",
        )
        sink.process(undecodable, 1)
        got = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert 9 in got
        idx_ids = {
            r.media_id
            for r in spark.read.parquet(f"{root}/windows").collect()
        }
        assert 9 not in idx_ids

    def test_file_stream_e2e(self, spark, tmp_path):
        """Real readStream(parquet, binary payloads) →
        foreachBatch(sink.process) across two checkpointed stream
        batches: the second batch's trim+regain copy of a
        first-batch clip is screened, the novel clip admitted."""
        from tidb_cdc_spark.streaming import AudioWindowAdmissionSink

        d = tmp_path / "media_in"
        os.makedirs(d, exist_ok=True)

        def drop(name, rows):
            df = self._media(spark, rows)
            df.coalesce(1).write.parquet(str(tmp_path / ("stage_" + name)))
            import glob
            import shutil

            src = glob.glob(str(tmp_path / ("stage_" + name) / "*.parquet"))[0]
            shutil.move(src, str(d / name))
            return df.schema

        schema = drop("b1.parquet", [(1, 5, 0, 1), (2, 9, 0, 1)])
        sink = AudioWindowAdmissionSink(str(tmp_path / "store"))

        def run():
            q = (
                spark.readStream.format("parquet")
                .schema(schema)
                .load(str(d))
                .writeStream.foreachBatch(sink.process)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run()
        assert {r.media_id for r in sink.read_corpus(spark).collect()} == {1, 2}
        drop("b2.parquet", [(10, 5, 2, 3), (11, 42, 0, 1)])
        run()
        got = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert got == {1, 2, 11}
