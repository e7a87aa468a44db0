"""Count-Min sketch (functions/sketch.py): the never-under-count
invariant, mergeability, and the screen+verify heavy-hitter
pipeline's exactness under forced collisions."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import sketch as SK


def _skewed(spark, n_keys=50, heavy=3, heavy_n=200, light_n=5):
    rows = []
    for k in range(n_keys):
        n = heavy_n if k < heavy else light_n
        rows += [(k,)] * n
    return spark.createDataFrame(rows, "k long")


class TestCountMin:
    def test_never_undercounts(self, spark):
        df = _skewed(spark)
        # deliberately tiny width → guaranteed collisions
        sk = SK.count_min_table(df, "k", depth=3, width=16)
        est = SK.count_min_estimates(
            sk, df.select("k").distinct(), "k", depth=3, width=16
        )
        exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        j = est.join(exact, "k").toPandas()
        assert len(j) == 50
        assert (j.cms_est >= j.n).all()

    def test_table_bounded_and_mass_preserved(self, spark):
        df = _skewed(spark)
        sk = SK.count_min_table(df, "k", depth=3, width=16).toPandas()
        assert len(sk) <= 3 * 16
        n = df.count()
        # each depth row partitions the full mass
        assert (sk.groupby("row").cnt.sum() == n).all()

    def test_merge_equals_single_build(self, spark):
        a = _skewed(spark, n_keys=20)
        b = _skewed(spark, n_keys=35)
        whole = SK.count_min_table(a.unionAll(b), "k", depth=4, width=32)
        merged = (
            SK.count_min_table(a, "k", depth=4, width=32)
            .unionAll(SK.count_min_table(b, "k", depth=4, width=32))
            .groupBy("row", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        wp = whole.toPandas().sort_values(["row", "bucket"], ignore_index=True)
        mp = merged.toPandas().sort_values(["row", "bucket"], ignore_index=True)
        pd.testing.assert_frame_equal(wp, mp)

    def test_heavy_hitters_exact_under_collisions(self, spark):
        df = _skewed(spark, n_keys=200, heavy=4, heavy_n=100, light_n=2)
        # width 8: light keys collide into heavy-looking buckets, so
        # the screen WILL produce false positives — the verify pass
        # must still return exactly the true heavy set
        hh = (
            SK.heavy_hitters(df, "k", min_count=50, depth=3, width=8)
            .orderBy("k")
            .collect()
        )
        assert [(r.k, r.n_events) for r in hh] == [
            (0, 100), (1, 100), (2, 100), (3, 100)
        ]

    def test_absent_key_estimate_nonnegative(self, spark):
        df = _skewed(spark)
        sk = SK.count_min_table(df, "k", depth=4, width=64)
        probe = spark.createDataFrame([(999999,)], "k long")
        est = SK.count_min_estimates(sk, probe, "k", depth=4, width=64)
        assert est.collect()[0].cms_est >= 0


class TestCountMinSink:
    def _run_batch(self, spark, tmp_path, name, rows):
        import json
        import os

        from tidb_cdc_spark.streaming import CountMinSink

        d = tmp_path / "cms_in"
        os.makedirs(d, exist_ok=True)
        tmp = d / f".{name}.tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        os.replace(tmp, d / name)
        sink = CountMinSink(str(tmp_path / "store"), "k", depth=3, width=32)
        stream = spark.readStream.format("json").schema("k long").load(str(d))
        q = (
            stream.writeStream.foreachBatch(sink.process)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sink

    def test_stream_matches_one_shot_and_never_undercounts(
        self, spark, tmp_path
    ):
        from tidb_cdc_spark.functions import sketch as SK

        b1 = [{"k": i % 5} for i in range(40)]
        b2 = [{"k": i % 7} for i in range(35)]
        self._run_batch(spark, tmp_path, "b1.jsonl", b1)
        sink = self._run_batch(spark, tmp_path, "b2.jsonl", b2)
        whole = spark.createDataFrame(
            [(r["k"],) for r in b1 + b2], "k long"
        )
        one_shot = (
            SK.count_min_table(whole, "k", depth=3, width=32)
            .toPandas()
            .sort_values(["row", "bucket"], ignore_index=True)
        )
        streamed = (
            sink.read_table(spark)
            .toPandas()
            .sort_values(["row", "bucket"], ignore_index=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(one_shot, streamed)
        est = sink.estimates(spark, whole.distinct()).toPandas()
        exact = whole.groupBy("k").count().toPandas()
        j = est.merge(exact, on="k")
        assert (j.cms_est >= j["count"]).all()

    def test_replay_is_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import CountMinSink

        sink = CountMinSink(str(tmp_path / "store"), "k", depth=3, width=32)
        batch = spark.createDataFrame([(1,), (1,), (2,)], "k long")
        sink.process(batch, 0)
        sink.process(batch, 0)  # at-least-once re-delivery
        est = sink.estimates(
            spark, spark.createDataFrame([(1,)], "k long")
        ).collect()
        assert est[0].cms_est == 2  # not doubled

    def test_empty_store_estimates_zero(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import CountMinSink

        sink = CountMinSink(str(tmp_path / "store"), "k")
        est = sink.estimates(
            spark, spark.createDataFrame([(7,)], "k long")
        ).collect()
        assert est[0].cms_est == 0

    def test_torn_swap_recovers(self, spark, tmp_path):
        """Matrix case: a crash between the swap's two renames (live
        dir gone, ``cells.swap.old`` intact); the restarted sink's
        replay equals the uninterrupted run."""
        from fault_matrix import rows, run_matrix

        from tidb_cdc_spark.streaming import CountMinSink

        def run(keys, batch_id):
            def op(root):
                batch = spark.createDataFrame([(k,) for k in keys], "k long")
                CountMinSink(root, "k", depth=3, width=32).process(batch, batch_id)

            return op

        def observe(root):
            sink = CountMinSink(root, "k", depth=3, width=32)
            return rows(sink.read_table(spark)), sink._last_batch_id()

        run_matrix(
            spark,
            tmp_path,
            run([1, 2], 0),
            run([3], 1),
            observe,
            only=lambda step: step == "_replace(cells)",
        )


class TestReviewRegressions:
    def test_null_key_heavy_hitter_kept(self, spark):
        # SQL's GROUP BY/HAVING includes the NULL group — so must we
        rows = [(None,)] * 60 + [(1,)] * 60 + [(2,)] * 3
        df = spark.createDataFrame(rows, "k long")
        hh = SK.heavy_hitters(df, "k", min_count=50, depth=3, width=32)
        got = {(r.k, r.n_events) for r in hh.collect()}
        assert got == {(None, 60), (1, 60)}

    def test_estimates_preserve_duplicate_rows(self, spark):
        df = _skewed(spark, n_keys=10)
        sk = SK.count_min_table(df, "k", depth=3, width=32)
        dup_keys = spark.createDataFrame([(0,), (0,), (1,)], "k long")
        est = SK.count_min_estimates(sk, dup_keys, "k", depth=3, width=32)
        assert est.count() == 3  # row-preserving, no grouping

    def test_watermark_commits_atomically_with_table(self, spark, tmp_path):
        """Matrix case over every step of a batch: the watermark lives
        inside the swapped directory, so a restarted sink (before any
        replay) sees the table and watermark of batch 0 or of batch 1,
        never a mix."""
        import os
        import shutil

        from fault_matrix import rows, run_matrix

        from tidb_cdc_spark.streaming import CountMinSink

        def observe(root):
            sink = CountMinSink(root, "k", depth=3, width=32)
            return rows(sink.read_table(spark)), sink._last_batch_id()

        base = str(tmp_path / "batch0")
        CountMinSink(base, "k", depth=3, width=32).process(
            spark.createDataFrame([(1,), (1,)], "k long"), 0
        )
        assert os.path.exists(os.path.join(base, "cells", "_BATCH"))
        committed = [observe(base)]

        def check(expected, got, k, steps):
            assert got in committed + [expected]

        run_matrix(
            spark,
            tmp_path,
            lambda root: shutil.copytree(base, root),
            lambda root: CountMinSink(root, "k", depth=3, width=32).process(
                spark.createDataFrame([(2,)], "k long"), 1
            ),
            observe,
            check=check,
            replay=lambda root: None,
        )


class TestCountMinSinkParamGuard:
    def test_mismatched_params_refuse_merge(self, spark, tmp_path):
        import pytest

        from tidb_cdc_spark.streaming import CountMinSink

        b = spark.createDataFrame([(1,), (2,)], "k long")
        CountMinSink(str(tmp_path / "store"), "k", depth=3, width=32).process(
            b, 0
        )
        # same root, different width: the cell tables would union
        # without any schema error but every estimate would be junk
        bad = CountMinSink(str(tmp_path / "store"), "k", depth=3, width=64)
        with pytest.raises(ValueError, match="different parameters"):
            bad.process(b, 1)
        # matching params continue fine
        CountMinSink(str(tmp_path / "store"), "k", depth=3, width=32).process(
            b, 1
        )


class TestHllDistinctSink:
    def test_stream_matches_exact_and_replay_noop(self, spark, tmp_path):
        from tidb_cdc_spark.streaming import HllDistinctSink

        sink = HllDistinctSink(
            str(tmp_path / "store"), "user_id", ["event_type"]
        )
        b1 = spark.createDataFrame(
            [(i % 7, "click") for i in range(30)]
            + [(i % 3, "view") for i in range(9)],
            "user_id long, event_type string",
        )
        b2 = spark.createDataFrame(
            [(100 + (i % 5), "click") for i in range(20)],
            "user_id long, event_type string",
        )
        sink.process(b1, 0)
        sink.process(b2, 1)
        est = {
            r.event_type: r.distinct_est
            for r in sink.estimates(spark).collect()
        }
        # sparse-mode HLL is exact at these cardinalities
        assert est == {"click": 12, "view": 3}
        sink.process(b2, 1)  # re-delivery: no double-merge
        est2 = {
            r.event_type: r.distinct_est
            for r in sink.estimates(spark).collect()
        }
        assert est2 == est

    def test_mismatched_params_refuse_merge(self, spark, tmp_path):
        import pytest

        from tidb_cdc_spark.streaming import HllDistinctSink

        b = spark.createDataFrame(
            [(1, "click")], "user_id long, event_type string"
        )
        HllDistinctSink(
            str(tmp_path / "store"), "user_id", ["event_type"], lgk=12
        ).process(b, 0)
        bad = HllDistinctSink(
            str(tmp_path / "store"), "user_id", ["event_type"], lgk=14
        )
        with pytest.raises(ValueError, match="different parameters"):
            bad.process(b, 1)
