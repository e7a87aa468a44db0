"""Tests for corpus output layout (functions/io.py)."""

import glob
import os

from tidb_cdc_spark.functions import io as IO


def _corpus(spark, n=200):
    return spark.createDataFrame(
        [(i, f"doc {i}", ["web", "books", "code"][i % 3], i * 37 % 1000) for i in range(n)],
        "doc_id long, text string, source string, quality long",
    )


class TestWriteCorpus:
    def test_one_file_per_partition_not_one_per_task(self, spark, tmp_path):
        path = str(tmp_path / "corpus")
        IO.write_corpus(_corpus(spark), path, partition_by=("source",))
        stats = {
            r.source: (r.n_files, r.n_rows)
            for r in IO.corpus_layout_stats(spark, path).collect()
        }
        assert set(stats) == {"web", "books", "code"}
        # 200 rows over 32 shuffle partitions: without the repartition
        # each source dir would hold up to 32 files; with it, data for
        # one source is clustered into few tasks
        for src, (n_files, n_rows) in stats.items():
            assert n_files <= 2, stats
            assert n_rows in (66, 67)

    def test_max_records_per_file_splits(self, spark, tmp_path):
        path = str(tmp_path / "split")
        IO.write_corpus(
            _corpus(spark, 90),
            path,
            partition_by=("source",),
            max_records_per_file=10,
        )
        stats = {r.source: r for r in IO.corpus_layout_stats(spark, path).collect()}
        for src, r in stats.items():
            assert r.rows_per_file_max <= 10
            assert r.n_files >= 3

    def test_roundtrip_preserves_data(self, spark, tmp_path):
        path = str(tmp_path / "rt")
        df = _corpus(spark, 50)
        IO.write_corpus(df, path, sort_within=("quality",))
        back = spark.read.parquet(path)
        assert sorted(
            (r.doc_id, r.text, r.source, r.quality) for r in back.collect()
        ) == sorted((r.doc_id, r.text, r.source, r.quality) for r in df.collect())

    def test_sort_within_orders_rows_in_files(self, spark, tmp_path):
        path = str(tmp_path / "sorted")
        IO.write_corpus(_corpus(spark), path, sort_within=("quality",))
        import pyarrow.parquet as pq

        for f in glob.glob(os.path.join(path, "source=*", "*.parquet")):
            q = pq.read_table(f, columns=["quality"])["quality"].to_pylist()
            assert q == sorted(q), f


class TestZorder:
    def test_morton_code_matches_python(self, spark):
        from pyspark.sql import functions as F

        def py_morton(x, y):
            z = 0
            for i in range(16):
                z |= ((x >> i) & 1) << (2 * i) | ((y >> i) & 1) << (2 * i + 1)
            return z

        rows = (
            spark.createDataFrame(
                [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 3, 128, 65535)],
                "x long, y long",
            )
            .select("x", "y", IO.morton_z2(F.col("x"), F.col("y")).alias("z"))
            .collect()
        )
        for r in rows:
            assert r.z == py_morton(r.x, r.y), (r.x, r.y)


class TestTrainingShards:
    def _docs(self, spark, n=120):
        # skewed lengths: doc i has (i % 17) * 50 tokens
        return spark.createDataFrame(
            [(i, f"d{i}", (i % 17) * 50) for i in range(n)],
            "doc_id long, text string, n_tokens long",
        )

    def test_shards_partition_pruned_and_ordered(self, spark, tmp_path):
        from pyspark.sql import functions as F

        path = str(tmp_path / "shards")
        IO.write_training_shards(
            self._docs(spark), path, budget=512, n_shards=4
        )
        # partitioned layout: one directory per shard
        dirs = {os.path.basename(p) for p in glob.glob(f"{path}/shard=*")}
        assert dirs == {f"shard={i}" for i in range(4)}
        # a single-shard read prunes to that directory (the loader's
        # contract): plan carries the partition filter
        df = spark.read.parquet(path).filter(F.col("shard") == 2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "shard" in plan
        rows = df.orderBy("start_tok").collect()
        assert len(rows) > 0
        # within the shard, file order == stream order (sorted write)
        got = [r.doc_id for r in rows]
        assert got == [r.doc_id for r in sorted(rows, key=lambda r: r.start_tok)]

    def test_shard_token_mass_balanced(self, spark, tmp_path):
        path = str(tmp_path / "shards2")
        IO.write_training_shards(
            self._docs(spark, n=300), path, budget=256, n_shards=4
        )
        back = spark.read.parquet(path)
        mass = {
            r.shard: r.t
            for r in back.groupBy("shard")
            .agg(IO.F.sum("n_tokens").alias("t"))
            .collect()
        }
        tot = sum(mass.values())
        # round-robin chunk striping: no shard should dwarf the rest
        # despite 0..800-token doc skew
        assert max(mass.values()) < 0.5 * tot

    def test_deterministic_rerun(self, spark, tmp_path):
        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        IO.write_training_shards(self._docs(spark), a, budget=512, n_shards=4)
        IO.write_training_shards(self._docs(spark), b, budget=512, n_shards=4)
        da = spark.read.parquet(a).orderBy("doc_id").collect()
        db = spark.read.parquet(b).orderBy("doc_id").collect()
        assert da == db


    def test_systematic_lengths_no_empty_shards(self, spark, tmp_path):
        # regression: every doc exactly 2*budget tokens ⇒ plain
        # chunk_first mod n left half the shards empty; hash-striped
        # assignment must populate all of them
        docs = spark.createDataFrame(
            [(i, f"d{i}", 1024) for i in range(200)],
            "doc_id long, text string, n_tokens long",
        )
        path = str(tmp_path / "shards3")
        IO.write_training_shards(docs, path, budget=512, n_shards=4)
        dirs = {os.path.basename(p) for p in glob.glob(f"{path}/shard=*")}
        assert dirs == {f"shard={i}" for i in range(4)}

    def test_zero_token_docs_land_in_shard_zero(self, spark, tmp_path):
        # regression: xxhash64(NULL) is NOT NULL (it returns the
        # seed-derived value), so the old coalesce fallback was dead
        # code and zero-token docs landed in an arbitrary shard;
        # the explicit isNull branch pins them to shard 0
        docs = spark.createDataFrame(
            [(0, "a", 100), (1, "", 0), (2, "b", 100), (3, "", 0)],
            "doc_id long, text string, n_tokens long",
        )
        from pyspark.sql import functions as F

        path = str(tmp_path / "shards4")
        IO.write_training_shards(docs, path, budget=64, n_shards=8)
        out = spark.read.parquet(path)
        zeros = out.filter(F.col("doc_id").isin(1, 3)).select("shard")
        assert {r.shard for r in zeros.collect()} == {0}
