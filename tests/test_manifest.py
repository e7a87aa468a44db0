"""Store-manifest mechanics: the listing-free screen path for
the bucketed admission/index stores — unit roundtrips, the two crash
windows, and end-to-end screen correctness under each."""

import os

import pytest


def _write_parquet(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"x": pa.array(rows, type=pa.int64())}), path)


class TestManifestUnit:
    def test_roundtrip_update_rebuild(self, tmp_path):
        from tidb_cdc_spark.manifest import (
            _manifest_read,
            _manifest_rebuild,
            _manifest_update,
            _manifest_write,
        )

        t = str(tmp_path / "tbl")
        for b, fn in [(0, "a.parquet"), (0, "b.parquet"), (3, "c.parquet")]:
            _write_parquet(os.path.join(t, f"bucket={b}", fn), [b])
        assert _manifest_read(t) is None  # no manifest yet
        # first update with no manifest => full rebuild (a partial
        # manifest would hide bucket 3 from the screen)
        _manifest_update(t, "bucket", [0])
        m = _manifest_read(t)
        assert set(m) == {0, 3}
        assert sorted(m[0]) == ["bucket=0/a.parquet", "bucket=0/b.parquet"]
        # append a file to bucket 3, refresh only that bucket
        _write_parquet(os.path.join(t, "bucket=3", "d.parquet"), [3])
        _manifest_update(t, "bucket", [3])
        m = _manifest_read(t)
        assert sorted(m[3]) == ["bucket=3/c.parquet", "bucket=3/d.parquet"]
        # atomic swap: a tmp file never lingers
        assert not os.path.exists(t + ".manifest.tmp")
        _manifest_rebuild(t, "bucket")
        assert _manifest_read(t) == m

    def test_pruned_scan_reads_exactly_touched_files(self, spark, tmp_path):
        from tidb_cdc_spark.manifest import (
            _manifest_pruned_scan,
            _manifest_rebuild,
        )

        t = str(tmp_path / "tbl")
        for b in range(6):
            _write_parquet(
                os.path.join(t, f"bucket={b}", "f.parquet"), [b, b]
            )
        _manifest_rebuild(t, "bucket")
        df = _manifest_pruned_scan(spark, t, "bucket", [1, 4])
        assert df is not None
        assert sorted(r.bucket for r in df.collect()) == [1, 1, 4, 4]
        got = {f.split("bucket=")[1].split("/")[0] for f in df.inputFiles()}
        assert got == {"1", "4"}

    def test_pruned_scan_missing_file_triggers_rebuild(self, spark, tmp_path):
        """Crash window A: compact swapped the directory but died
        before its manifest rebuild — an entry's file is gone. The
        touched-file existence probe detects it and rebuilds; the
        scan then serves the LIVE files."""
        from tidb_cdc_spark.manifest import (
            _manifest_pruned_scan,
            _manifest_read,
            _manifest_rebuild,
            _manifest_write,
        )

        t = str(tmp_path / "tbl")
        for b in range(3):
            _write_parquet(os.path.join(t, f"bucket={b}", "f.parquet"), [b])
        _manifest_rebuild(t, "bucket")
        stale = _manifest_read(t)
        # 'compact': replace bucket 1's file under a new name
        os.remove(os.path.join(t, "bucket=1", "f.parquet"))
        _write_parquet(os.path.join(t, "bucket=1", "g.parquet"), [1])
        _manifest_write(t, stale)  # manifest still names f.parquet
        df = _manifest_pruned_scan(spark, t, "bucket", [1])
        assert [r.bucket for r in df.collect()] == [1]
        assert _manifest_read(t)[1] == ["bucket=1/g.parquet"]  # healed

    def test_pruned_scan_empty_touched_entries(self, spark, tmp_path):
        """Touched buckets with no admitted rows yet: an empty
        same-schema frame, still zero listing."""
        from tidb_cdc_spark.manifest import (
            _manifest_pruned_scan,
            _manifest_rebuild,
        )

        t = str(tmp_path / "tbl")
        _write_parquet(os.path.join(t, "bucket=0", "f.parquet"), [0])
        _manifest_rebuild(t, "bucket")
        df = _manifest_pruned_scan(spark, t, "bucket", [5, 9])
        assert df is not None and df.count() == 0
        assert set(df.columns) == {"x", "bucket"}

    def test_no_manifest_returns_none(self, spark, tmp_path):
        from tidb_cdc_spark.manifest import _manifest_pruned_scan

        t = str(tmp_path / "tbl")
        _write_parquet(os.path.join(t, "bucket=0", "f.parquet"), [0])
        assert _manifest_pruned_scan(spark, t, "bucket", [0]) is None


class TestManifestCrashWindows:
    """The two crash windows driven end-to-end through the digest
    sink (the mechanics are shared by all four manifested stores)."""

    def _batch(self, spark, rows):
        return spark.createDataFrame(
            rows, "media_id long, kind string, payload binary"
        )

    def test_compact_swap_crash_heals_lazily(self, spark, tmp_path):
        """Crash window A as a matrix case: compact() swapped the
        rewritten digests dir in but died before the manifest rebuild,
        so every file the manifest names is gone. The restarted
        process's next batch must still catch a duplicate — via the
        lazy rebuild — not silently admit it."""
        from fault_matrix import run_matrix

        from tidb_cdc_spark.streaming import DigestAdmissionSink

        def observe(root):
            sink = DigestAdmissionSink(root)
            sink.process(
                self._batch(
                    spark, [(100, "image", b"p3"), (101, "image", b"novel")]
                ),
                1,
            )
            return sorted(r.media_id for r in sink.read_corpus(spark).collect())

        run_matrix(
            spark,
            tmp_path,
            lambda root: DigestAdmissionSink(root).process(
                self._batch(
                    spark, [(i, "image", f"p{i}".encode()) for i in range(10)]
                ),
                0,
            ),
            lambda root: DigestAdmissionSink(root).compact(spark),
            observe,
            only=lambda step: step == "_write_file(digests.manifest.tmp)",
            replay=lambda root: None,
        )

    def test_unmanifested_append_healed_by_replay(self, spark, tmp_path):
        """Crash window B end-to-end: the batch-1 index append landed
        but neither the manifest refresh nor the watermark did. The
        replayed batch re-admits (duplication, never loss) and its
        relist re-covers BOTH file sets — afterwards the screen is
        complete again."""
        import shutil

        from tidb_cdc_spark.streaming import DigestAdmissionSink
        from tidb_cdc_spark.streaming.store import commit_watermark

        root = str(tmp_path / "store")
        sink = DigestAdmissionSink(root)
        sink.process(
            self._batch(
                spark, [(i, "image", f"p{i}".encode()) for i in range(5)]
            ),
            0,
        )
        mf = os.path.join(root, "digests.manifest")
        shutil.copy(mf, str(tmp_path / "pre.manifest"))
        sink.process(
            self._batch(spark, [(10, "image", b"NEW-A"), (11, "image", b"NEW-B")]),
            1,
        )
        # crash: batch 1's append survived, manifest + watermark did not
        shutil.copy(str(tmp_path / "pre.manifest"), mf)
        commit_watermark(root, 0)
        sink.process(  # re-delivery
            self._batch(spark, [(10, "image", b"NEW-A"), (11, "image", b"NEW-B")]),
            1,
        )
        corpus = sink.read_corpus(spark)
        # duplication, never loss: both copies of the replayed batch
        assert corpus.count() == 9
        assert corpus.select("media_id").distinct().count() == 7
        # and the screen is COMPLETE again: a later dup of NEW-A is
        # caught, a novel payload admitted
        sink.process(
            self._batch(spark, [(20, "image", b"NEW-A"), (21, "image", b"fresh")]),
            2,
        )
        final = {r.media_id for r in sink.read_corpus(spark).collect()}
        assert 21 in final and 20 not in final
