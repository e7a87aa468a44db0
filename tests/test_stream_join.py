"""Stream-stream interval join tests (streaming/joins.py): click ↔
purchase attribution with watermarked, time-bounded state."""

import json
import os

import pytest

from tidb_cdc_spark.streaming.joins import interval_join

SCHEMA = "user_id long, ev string, ts timestamp"


def _stream(spark, tmp_path, name, rows):
    d = tmp_path / name
    os.makedirs(d, exist_ok=True)
    with open(d / "1.jsonl", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    return spark.readStream.format("json").schema(SCHEMA).load(str(d))


def _run(spark, tmp_path, joined, qname):
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / f"ck_{qname}"))
        .start()
    )
    q.awaitTermination()
    return q


CLICKS = [
    {"user_id": 1, "ev": "click", "ts": "2024-01-01 10:00:00"},
    {"user_id": 2, "ev": "click", "ts": "2024-01-01 10:05:00"},
    {"user_id": 3, "ev": "click", "ts": "2024-01-01 10:10:00"},
]
PURCHASES = [
    # in-window for user 1 (+4 min)
    {"user_id": 1, "ev": "purchase", "ts": "2024-01-01 10:04:00"},
    # OUT of window for user 2 (+20 min > upper)
    {"user_id": 2, "ev": "purchase", "ts": "2024-01-01 10:25:00"},
    # BEFORE the click for user 3 (negative offset, < lower)
    {"user_id": 3, "ev": "purchase", "ts": "2024-01-01 10:01:00"},
]


@pytest.mark.slow  # slow tier: stateful interval-join e2e battery
class TestIntervalJoin:
    def test_inner_matches_only_in_window(self, spark, tmp_path):
        joined = interval_join(
            _stream(spark, tmp_path, "clicks", CLICKS),
            _stream(spark, tmp_path, "purchases", PURCHASES),
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            lower="0 seconds",
            upper="10 minutes",
        )
        _run(spark, tmp_path, joined, "ssj_inner")
        rows = spark.sql("select * from ssj_inner").collect()
        assert [(r.user_id, r.ev, r.r_ev) for r in rows] == [
            (1, "click", "purchase")
        ]

    def test_state_is_keyed_and_co_partitioned(self, spark, tmp_path):
        joined = interval_join(
            _stream(spark, tmp_path, "c2", CLICKS),
            _stream(spark, tmp_path, "p2", PURCHASES),
            key="user_id",
        )
        q = _run(spark, tmp_path, joined, "ssj_plan")
        plan = q._jsq.explainInternal(False)
        # the stateful symmetric-hash join with watermarked state —
        # not a broadcast (state must be partitioned by key)
        assert "StreamingSymmetricHashJoin" in plan
        assert "BroadcastHashJoin" not in plan

    def test_illegal_how_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="interval join supports"):
            interval_join(
                _stream(spark, tmp_path, "c3", CLICKS),
                _stream(spark, tmp_path, "p3", PURCHASES),
                key="user_id",
                how="full_outer",
            )

    def test_left_outer_contains_matches(self, spark, tmp_path):
        # left-outer emits unmatched lefts only once the watermark
        # closes their window; with availableNow the matched subset
        # is the deterministic part — pin that, and schema width
        joined = interval_join(
            _stream(spark, tmp_path, "c4", CLICKS),
            _stream(spark, tmp_path, "p4", PURCHASES),
            key="user_id",
            how="left_outer",
        )
        _run(spark, tmp_path, joined, "ssj_lo")
        rows = spark.sql("select * from ssj_lo").collect()
        matched = [(r.user_id, r.r_ev) for r in rows if r.r_ev is not None]
        assert matched == [(1, "purchase")]
        assert set(rows[0].asDict()) == {
            "user_id", "ev", "ts", "r_user_id", "r_ev", "r_ts",
        }
