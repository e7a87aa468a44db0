"""Tests for budget-constrained selection (functions/selection.py)
and corpus snapshot diff (functions/versioning.py)."""

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.functions import selection as SEL
from tidb_cdc_spark.functions import versioning as VER


def _q_df(spark, rows):
    return spark.createDataFrame(
        [(i, int(q), int(n)) for i, (q, n) in enumerate(rows)],
        "doc_id long, quality_ppm long, n_tokens long",
    )


class TestBudgetHead:
    def test_matches_naive_prefix_across_shards(self, spark):
        # qualities spread over the full µ-range so n_shards=4 forces
        # multiple quality bands (the cross-band offset path)
        rows = [
            (990_000, 5),
            (10_000, 7),
            (500_000, 3),
            (750_000, 11),
            (250_000, 2),
            (990_000, 9),  # tie with doc 0 → doc_id breaks it
            (0, 1),
            (1_000_000, 4),
        ]
        got = {
            r.doc_id: (r.cum_tokens, r.selected)
            for r in SEL.budget_head(_q_df(spark, rows), n_shards=4).collect()
        }
        order = sorted(range(len(rows)), key=lambda i: (-rows[i][0], i))
        total = sum(n for _, n in rows)
        cum = 0
        for i in order:
            cum += rows[i][1]
            assert got[i] == (cum, cum * 2 <= total), f"doc {i}"

    def test_shard_count_does_not_change_result(self, spark):
        rows = [(q * 37 % 1_000_001, q % 13) for q in range(50)]
        a = SEL.budget_head(_q_df(spark, rows), n_shards=2)
        b = SEL.budget_head(_q_df(spark, rows), n_shards=64)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    def test_out_of_range_quality_raises(self, spark):
        from py4j.protocol import Py4JJavaError

        df = spark.createDataFrame(
            [(1, 2_000_000, 5)], "doc_id long, quality_ppm long, n_tokens long"
        )
        with pytest.raises(Exception) as ei:
            SEL.budget_head(df).collect()
        assert "µ-units" in str(ei.value)

    def test_windows_are_shard_partitioned(self, spark):
        plan = (
            SEL.budget_head(_q_df(spark, [(5, 1), (10, 2)]))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the corpus-sized window must be partitioned by _shard; the
        # only unpartitioned window runs over the #shards-row totals
        for line in plan.splitlines():
            if "Window" in line and "_tot" not in line and "windowspecdefinition" in line:
                assert "_shard" in line, line


class TestSnapshotDiff:
    def test_all_four_statuses(self, spark):
        old = spark.createDataFrame(
            [(1, "same"), (2, "will change"), (3, "will vanish")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, "same"), (2, "changed!"), (4, "brand new")],
            "doc_id long, text string",
        )
        got = {
            r.id: r.status for r in VER.snapshot_diff(old, new).collect()
        }
        assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}

    def test_join_ships_fingerprints_not_bodies(self, spark):
        old = spark.createDataFrame([(1, "x" * 1000)], "doc_id long, text string")
        new = spark.createDataFrame([(1, "x" * 1000)], "doc_id long, text string")
        plan = (
            VER.snapshot_diff(old, new)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the md5 projection must sit BELOW each exchange, so the
        # shuffle ships (id, fp) — never document bodies
        lines = plan.splitlines()
        exch = [i for i, l in enumerate(lines) if "Exchange" in l]
        assert len(exch) == 2
        for i in exch:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "md5" in below, below
        top_project = next(l for l in lines if "Project" in l)
        assert "old_fp" in top_project and "text#" not in top_project
