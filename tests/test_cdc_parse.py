"""Golden-message + coercion-matrix tests of the parse layer
(FIXTURES F1/F2/F4; reference behavior per SURVEY §1.1-1.2)."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.cdc import parse_cdc, parse_envelope
from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec, deals_spec, snake_case

# the reference's captured Maxwell insert (FIXTURES.md §F1/§F2)
GOLDEN = open(
    os.path.join(os.path.dirname(__file__), "fixtures", "fff.json"),
    encoding="utf-8",
).read()


def _df(spark, msgs):
    return spark.createDataFrame([(m,) for m in msgs], "value string")


class TestGoldenMessage:
    def test_golden_insert_parses(self, spark):
        out = parse_cdc(_df(spark, [GOLDEN]), deals_spec()).collect()
        assert len(out) == 1
        row = out[0]
        assert row.op == "insert"
        assert row.ts == 1645154405
        a = row.after
        assert a.entity_id == "030610000000000299"  # leading zeros preserved
        assert a.entity_name == "大元金库 A1111"  # UTF-8 + column: rename
        assert a.entity_type == 0
        assert a.financiers_type == 1
        assert a.financiers_entity_id is None  # null skip
        assert a.status == 1
        # "2022-02-14 15:03:37.423" parsed as UTC+8 wall clock
        # (tag.go:47-55) with millis kept (divergence: reference
        # truncates to seconds)
        assert a.created_at == datetime.datetime(2022, 2, 14, 7, 3, 37, 423000)
        assert a.deleted_at is None
        assert row.before is None  # inserts carry no before-image

    def test_update_reconstructs_full_before_image(self, spark):
        upd = {
            "database": "deal_test",
            "table": "deals",
            "type": "update",
            "ts": 1645154500,
            "data": {"entity_id": "e1", "entity_name": "new", "status": 0,
                     "entity_type": 7},
            "old": {"entity_name": "old", "status": 1},
        }
        row = parse_cdc(_df(spark, [json.dumps(upd)]), deals_spec()).collect()[0]
        # changed columns take old's values...
        assert row.before.entity_name == "old"
        assert row.before.status == 1
        # ...unchanged columns carried from data (the reference NEVER
        # did this — its merge is commented out, cdc_manager.go:263-274)
        assert row.before.entity_id == "e1"
        assert row.before.entity_type == 7
        assert row.after.entity_name == "new"

    def test_update_old_null_value_vs_absent_key(self, spark):
        upd = {
            "database": "deal_test", "table": "deals", "type": "update", "ts": 1,
            "data": {"entity_id": "e1", "entity_name": "now-set", "deal_type": "A"},
            "old": {"entity_name": None},
        }
        row = parse_cdc(_df(spark, [json.dumps(upd)]), deals_spec()).collect()[0]
        assert row.before.entity_name is None  # key PRESENT with null → null before
        assert row.before.deal_type == "A"  # key ABSENT → carried from data

    def test_delete_carries_row_as_before_image(self, spark):
        dele = {
            "database": "deal_test", "table": "deals", "type": "delete", "ts": 2,
            "data": {"entity_id": "e9", "entity_name": "bye"},
        }
        row = parse_cdc(_df(spark, [json.dumps(dele)]), deals_spec()).collect()[0]
        assert row.after is None
        assert row.before.entity_id == "e9"

    def test_other_tables_filtered_out(self, spark):
        other = {"database": "deal_test", "table": "other", "type": "insert",
                 "ts": 1, "data": {"entity_id": "x"}}
        assert parse_cdc(_df(spark, [json.dumps(other)]), deals_spec()).count() == 0


class TestEnvelope:
    def test_malformed_dead_letter_not_crash(self, spark):
        # divergence #2: reference panics the consumer (cdc_manager.go:164)
        out = parse_envelope(_df(spark, ["not json", '{"type":null}', GOLDEN]))
        rows = out.collect()
        assert len(rows) == 3
        corrupt = [r for r in rows if r._corrupt is not None]
        assert len(corrupt) == 2

    def test_null_messages_dropped(self, spark):
        # tombstone skip, cdc_manager.go:209-211
        out = parse_envelope(_df(spark, [None, GOLDEN]))
        assert out.count() == 1

    def test_empty_event_dropped(self, spark):
        # drop-empty guard, cdc_manager.go:258-261: unknown type →
        # neither image materializes
        weird = {"database": "deal_test", "table": "deals", "type": "truncate",
                 "ts": 1, "data": {"entity_id": "x"}}
        assert parse_cdc(_df(spark, [json.dumps(weird)]), deals_spec()).count() == 0


COERCE_SPEC = TableSpec(
    database="d",
    table="t",
    columns=(
        ColumnSpec("ID", "string", column="id", pk=True),
        ColumnSpec("I", "int"),
        ColumnSpec("SmallI", "smallint"),
        ColumnSpec("B", "boolean", bool01=True),
        ColumnSpec("S", "string"),
        ColumnSpec("F", "double"),
        ColumnSpec("T", "timestamp", column="t_col"),
        ColumnSpec("Arr", "array<double>"),
    ),
)


def _coerce(spark, data: dict):
    msg = {"database": "d", "table": "t", "type": "insert", "ts": 1, "data": data}
    return parse_cdc(_df(spark, [json.dumps(msg)]), COERCE_SPEC).collect()[0].after


class TestCoercionMatrix:
    """SURVEY §1.2 matrix (cdc_utils.go:49-124) + divergence fixes."""

    def test_timestamp_epoch_millis(self, spark):
        a = _coerce(spark, {"id": "1", "t_col": 1644822217423})
        assert a.t_col == datetime.datetime(2022, 2, 14, 7, 3, 37, 423000)

    def test_timestamp_wall_clock_utc8(self, spark):
        a = _coerce(spark, {"id": "1", "t_col": "2022-02-14 15:03:37"})
        assert a.t_col == datetime.datetime(2022, 2, 14, 7, 3, 37)

    def test_timestamp_fractional(self, spark):
        a = _coerce(spark, {"id": "1", "t_col": "2022-02-14 15:03:37.423"})
        assert a.t_col == datetime.datetime(2022, 2, 14, 7, 3, 37, 423000)

    def test_bool_0_1_2(self, spark):
        # float64==1 → true (cdc_utils.go:98-101); reference maps
        # everything else to false — we keep 0→false, and !=1 → false
        assert _coerce(spark, {"id": "1", "b": 1}).b is True
        assert _coerce(spark, {"id": "1", "b": 0}).b is False
        assert _coerce(spark, {"id": "1", "b": 2}).b is False

    def test_bool_json_true(self, spark):
        # divergence: reference panics-and-skips on JSON true
        assert _coerce(spark, {"id": "1", "b": True}).b is True

    def test_int_truncation(self, spark):
        assert _coerce(spark, {"id": "1", "i": 3.9}).i == 3

    def test_smallint_supported(self, spark):
        # reference gap: int16 missing from its switch (cdc_utils.go:104)
        assert _coerce(spark, {"id": "1", "small_i": 123}).small_i == 123

    def test_string_field_numeric_input(self, spark):
        # reference recover-skips (cdc_utils.go:50-54); we cast
        assert _coerce(spark, {"id": "1", "s": 42}).s == "42"

    def test_uncoercible_yields_null(self, spark):
        assert _coerce(spark, {"id": "1", "i": "not-a-number"}).i is None

    def test_missing_and_extra_columns(self, spark):
        a = _coerce(spark, {"id": "1", "unknown_col": "zzz"})
        assert a.i is None and a.s is None

    def test_null_input_stays_null(self, spark):
        assert _coerce(spark, {"id": "1", "f": None}).f is None

    def test_array_column(self, spark):
        # free capability upgrade over the reference (silently skips
        # slices, cdc_utils.go:96-123)
        a = _coerce(spark, {"id": "1", "arr": [1.5, 2.5]})
        assert a.arr == [1.5, 2.5]


class TestSpec:
    def test_snake_case(self):
        assert snake_case("EntityID") == "entity_id"
        assert snake_case("CreatedAt") == "created_at"
        assert snake_case("HTTPCode") == "http_code"
        assert snake_case("Name") == "name"

    def test_column_override_and_exclude(self):
        cols = {c.source for c in deals_spec().resolved_columns()}
        assert "entity_name" in cols  # column: tag override
        assert "internal" not in cols  # gorm:"-" parity

    def test_duplicate_column_rejected(self):
        with pytest.raises(ValueError, match="duplicate"):
            TableSpec("d", "t", (ColumnSpec("A", "int"), ColumnSpec("A", "int")))

    def test_bad_dtype_rejected(self):
        with pytest.raises(ValueError, match="unsupported"):
            TableSpec("d", "t", (ColumnSpec("A", "varchar2"),))

    def test_nested_spec_flattening(self):
        # embedded-struct flattening parity (cdc_utils.go:137-141)
        inner = TableSpec("d", "t", (ColumnSpec("CreatedAt", "timestamp"),))
        outer = TableSpec(
            "d", "t", (ColumnSpec("ID", "string", pk=True),), nested=(inner,)
        )
        assert [c.source for c in outer.resolved_columns()] == ["id", "created_at"]

    def test_topic_name(self):
        assert deals_spec().topic("srv") == "srv.deal_test.deals"
