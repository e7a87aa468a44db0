"""Unit tests of the composite relational operators against naive
reference implementations computed in Python."""

import datetime

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.operators import asof_join, range_join, sessionize, topk_per_group


def ts(m):
    return datetime.datetime(2024, 1, 1, 0, m)


class TestAsofJoin:
    def _data(self, spark):
        left = spark.createDataFrame(
            [(1, ts(10), "p1"), (1, ts(30), "p2"), (2, ts(5), "p3"), (3, ts(1), "p4")],
            "uid int, pts timestamp, pid string",
        )
        right = spark.createDataFrame(
            [(1, ts(9), "c1"), (1, ts(10), "c2"), (1, ts(25), "c3"), (2, ts(6), "c4")],
            "uid int, cts timestamp, cid string",
        )
        return left, right

    def test_latest_at_or_before(self, spark):
        left, right = self._data(spark)
        out = asof_join(left, right, on=["uid"], left_ts="pts", right_ts="cts",
                        right_value_cols=["cid"])
        got = {r.pid: r.cid for r in out.collect()}
        # p1@10: c2@10 matches (<=); p2@30: c3@25; p3@5: nothing ≤5; p4: no rows
        assert got == {"p1": "c2", "p2": "c3", "p3": None, "p4": None}

    def test_strict_excludes_equal_ts(self, spark):
        left, right = self._data(spark)
        out = asof_join(left, right, on=["uid"], left_ts="pts", right_ts="cts",
                        right_value_cols=["cid"], strict=True)
        got = {r.pid: r.cid for r in out.collect()}
        assert got["p1"] == "c1"  # c2@10 excluded under strict <

    def test_matches_naive_quadratic(self, spark):
        import random

        rng = random.Random(7)
        lrows = [(rng.randrange(5), ts(rng.randrange(59)), f"p{i}") for i in range(80)]
        rrows = [(rng.randrange(5), ts(rng.randrange(59)), f"c{i}") for i in range(80)]
        left = spark.createDataFrame(lrows, "uid int, pts timestamp, pid string")
        right = spark.createDataFrame(rrows, "uid int, cts timestamp, cid string")
        out = asof_join(left, right, on=["uid"], left_ts="pts", right_ts="cts",
                        right_value_cols=["cts"])
        got = {r.pid: r[-1] for r in out.collect()}
        for uid, pts_, pid in lrows:
            cands = [c for (u, c, _) in rrows if u == uid and c <= pts_]
            want = max(cands) if cands else None
            assert got[pid] == want, pid


class TestRangeJoin:
    def test_points_in_intervals(self, spark):
        pts = spark.createDataFrame(
            [(1, 5, "a"), (1, 15, "b"), (2, 5, "c")], "k int, t int, name string"
        )
        iv = spark.createDataFrame(
            [(1, 0, 10, "w1"), (1, 10, 20, "w2"), (2, 6, 9, "w3")],
            "k int, lo int, hi int, wname string",
        )
        out = range_join(pts, iv, on=["k"], left_ts="t", right_lo="lo", right_hi="hi")
        got = {(r.name, r.wname) for r in out.collect()}
        assert got == {("a", "w1"), ("b", "w2")}


class TestTopK:
    def test_topk_with_ties(self, spark):
        df = spark.createDataFrame(
            [("g1", 10, 1), ("g1", 10, 2), ("g1", 5, 3), ("g2", 1, 4)],
            "g string, score int, id int",
        )
        out = topk_per_group(df, ["g"], [F.col("score").desc(), F.col("id")], 2)
        got = {(r.g, r.id, r.rk) for r in out.collect()}
        assert got == {("g1", 1, 1), ("g1", 2, 2), ("g2", 4, 1)}


class TestSessionize:
    def test_gap_splits_sessions(self, spark):
        df = spark.createDataFrame(
            [(1, ts(0), 1), (1, ts(10), 2), (1, ts(50), 3), (2, ts(0), 4)],
            "uid int, t timestamp, eid int",
        )
        out = sessionize(df, ["uid"], "t", gap_seconds=1200, tiebreak_cols=["eid"])
        got = {r.eid: r.session_id for r in out.collect()}
        assert got[1] == 1 and got[2] == 1  # 10-min gap < 20-min threshold
        assert got[3] == 2  # 40-min gap → new session
        assert got[4] == 1

    def test_fractional_gap_survives_microsecond_conversion(self, spark):
        # gap_seconds=0.5 must become 500_000 µs, not int-truncate to 0
        import datetime

        epoch = datetime.datetime(2024, 1, 1)
        us = datetime.timedelta(microseconds=1)
        df = spark.createDataFrame(
            [
                (1, epoch, 1),
                (1, epoch + 400_000 * us, 2),  # 0.4 s gap ≤ 0.5 s → same
                (1, epoch + 1_000_001 * us, 3),  # 0.6 s gap > 0.5 s → new
            ],
            "uid int, t timestamp, eid int",
        )
        out = sessionize(df, ["uid"], "t", gap_seconds=0.5, tiebreak_cols=["eid"])
        got = {r.eid: r.session_id for r in out.collect()}
        assert got == {1: 1, 2: 1, 3: 2}

    def test_random_streams_match_bruteforce(self, spark):
        """Seeded random event streams vs a Python brute-force
        sessionizer: boundary semantics (gap strictly greater than
        the threshold starts a session), microsecond precision,
        equal-ts tiebreaks by event id."""
        import datetime
        import random

        rng = random.Random(42)
        gap = 600
        rows = []
        for uid in range(8):
            t_us = 0
            for _ in range(rng.randint(1, 40)):
                # cluster of micro-steps with occasional exact-gap and
                # gap+1µs jumps to probe the boundary
                step = rng.choice(
                    [0, 1, 500_000, gap * 1_000_000, gap * 1_000_000 + 1]
                )
                t_us += step
                rows.append((uid, t_us, len(rows)))
        epoch = datetime.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [
                (u, epoch + datetime.timedelta(microseconds=t), e)
                for u, t, e in rows
            ],
            "uid int, t timestamp, eid int",
        )
        out = sessionize(df, ["uid"], "t", gap_seconds=gap, tiebreak_cols=["eid"])
        got = {r.eid: (r.uid, r.session_id) for r in out.collect()}

        expect = {}
        by_uid = {}
        for u, t, e in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
            prev = by_uid.get(u)
            if prev is None or t - prev[0] > gap * 1_000_000:
                sid = (prev[1] + 1) if prev else 1
            else:
                sid = prev[1]
            by_uid[u] = (t, sid)
            expect[e] = (u, sid)
        assert got == expect


class TestBucketedJoin:
    def test_colocated_join_has_zero_exchanges(self, spark):
        from tidb_cdc_spark.operators.bucketing import colocated_join, write_bucketed
        from tidb_cdc_spark.plans.inspect import num_exchanges
        from tidb_cdc_spark.session import read_table

        sf = "/root/testdata/sf0.001"
        li = read_table(spark, sf, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice"
        )
        orders = read_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
        write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
        try:
            joined = colocated_join(
                spark, "b_lineitem", "b_orders", [("l_orderkey", "o_orderkey")]
            )
            # the whole point: both scans are bucket-partitioned on the
            # join key, so EnsureRequirements inserts NO shuffle
            assert num_exchanges(joined) == 0, joined._jdf.queryExecution().toString()
            expect = li.join(
                orders, li.l_orderkey == orders.o_orderkey
            ).count()
            assert joined.count() == expect
        finally:
            spark.sql("DROP TABLE IF EXISTS b_lineitem")
            spark.sql("DROP TABLE IF EXISTS b_orders")


class TestSketches:
    def test_approx_within_tolerance_of_exact(self, spark):
        # sketch_approx computes approx AND exact in one plan and emits
        # the error-bound verdict per group (its oracle is TRUE rows).
        from tidb_cdc_spark.queries.tpch import sketch_approx, sketch_percentiles

        sf = "/root/testdata/sf0.01"
        exact = {r.o_orderstatus for r in sketch_percentiles(spark, sf).collect()}
        approx = {r.o_orderstatus: r for r in sketch_approx(spark, sf).collect()}
        assert exact == approx.keys()
        for k, a in approx.items():
            assert a.cust_within_bound, k
            assert a.p50_within_bound, k
            assert a.p90_within_bound, k


class TestSkewSalting:
    def test_salted_sum_equals_plain_sum(self, spark):
        from tidb_cdc_spark.operators.skew import salted_sum
        from tidb_cdc_spark.session import read_table

        li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
        plain = {
            r.l_returnflag: (r.q, r.n)
            for r in li.groupBy("l_returnflag")
            .agg(
                F.sum("l_quantity").alias("q"),
                F.sum(F.lit(1)).alias("n"),
            )
            .collect()
        }
        salted = {
            r.l_returnflag: (r.q, r.n)
            for r in salted_sum(
                li.withColumn("_one", F.lit(1)),
                ["l_returnflag"],
                {"l_quantity": "q", "_one": "n"},
                n_salts=16,
            ).collect()
        }
        assert salted == plain

    def test_salted_join_equals_plain_join(self, spark):
        from tidb_cdc_spark.operators.skew import salted_join

        # hot key: 10k rows of key=1 on the big side
        big = spark.range(0, 10000).select(
            F.when(F.col("id") < 9000, F.lit(1)).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.createDataFrame(
            [(1, "hot"), (9500, "cold")], "k long, label string"
        )
        got = salted_join(big, small, on="k", n_salts=8)
        assert got.count() == big.join(small, "k").count()
        assert got.filter(F.col("label") == "hot").count() == 9000

    def test_salted_join_rejects_small_side_preserving_outer(self, spark):
        from tidb_cdc_spark.operators.skew import salted_join

        a = spark.createDataFrame([(1, "x")], "k long, v string")
        b = spark.createDataFrame([(2, "y")], "k long, w string")
        for how in ("right", "full", "full_outer", "right_outer"):
            with pytest.raises(ValueError, match="salted_join"):
                salted_join(a, b, on="k", how=how)
