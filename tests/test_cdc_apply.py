"""Apply-semantics tests (FIXTURES F3): final state = ops in order,
idempotence under replay, last-write-wins tie-breaks — the contract
the reference never tests (SURVEY §5)."""

import pytest
import json
import os
import random

from pyspark.sql import functions as F

from tidb_cdc_spark.cdc import parse_cdc
from tidb_cdc_spark.cdc.apply import (
    align_to_spec,
    apply_changes,
    batch_keys,
    conflate_latest,
    snapshot_from_ops,
)
from tidb_cdc_spark.cdc.schema import CDCType
from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec

SPEC = TableSpec(
    database="d",
    table="t",
    columns=(
        ColumnSpec("K", "string", column="k", pk=True),
        ColumnSpec("V", "int"),
    ),
)


def _msg(op, k, v, ts):
    m = {"database": "d", "table": "t", "type": op, "ts": ts,
         "data": {"k": k, "v": v}}
    if op == "update":
        m["old"] = {"v": v - 1}
    return json.dumps(m)


def _parse(spark, msgs, spec=SPEC):
    df = spark.createDataFrame([(m,) for m in msgs], "value string")
    # file-order seq: zip with index so ties on ts resolve by arrival
    df = df.withColumn("_file_seq", F.monotonically_increasing_id())
    return parse_cdc(df, spec, seq_col=F.col("_file_seq"))


def _state(snapshot):
    return {r.k: r.v for r in snapshot.collect()}


class TestApply:
    def test_insert_update_delete_lifecycle(self, spark):
        ops = [
            _msg("insert", "a", 1, 10),
            _msg("update", "a", 2, 20),
            _msg("update", "a", 3, 30),
            _msg("delete", "a", 3, 40),
            _msg("insert", "b", 9, 15),
        ]
        snap = snapshot_from_ops(_parse(spark, ops), SPEC)
        assert _state(snap) == {"b": 9}

    def test_reinsert_after_delete(self, spark):
        ops = [
            _msg("insert", "a", 1, 10),
            _msg("delete", "a", 1, 20),
            _msg("insert", "a", 5, 30),
        ]
        assert _state(snapshot_from_ops(_parse(spark, ops), SPEC)) == {"a": 5}

    def test_same_ts_resolved_by_seq(self, spark):
        # two updates with identical ts: Kafka/file order wins
        ops = [
            _msg("insert", "a", 1, 10),
            _msg("update", "a", 2, 50),
            _msg("update", "a", 3, 50),
        ]
        assert _state(snapshot_from_ops(_parse(spark, ops), SPEC)) == {"a": 3}

    def test_replayed_duplicate_is_idempotent(self, spark):
        ops = [_msg("insert", "a", 1, 10), _msg("update", "a", 2, 20)]
        once = _state(snapshot_from_ops(_parse(spark, ops), SPEC))
        twice = _state(snapshot_from_ops(_parse(spark, ops + ops), SPEC))
        assert once == twice == {"a": 2}

    def test_incremental_merge_equals_full_rebuild(self, spark):
        batch1 = [_msg("insert", "a", 1, 10), _msg("insert", "b", 2, 11)]
        batch2 = [_msg("update", "a", 5, 20), _msg("delete", "b", 2, 21),
                  _msg("insert", "c", 7, 22)]
        base = snapshot_from_ops(_parse(spark, batch1), SPEC)
        merged = apply_changes(base, _parse(spark, batch2), SPEC)
        rebuilt = snapshot_from_ops(_parse(spark, batch1 + batch2), SPEC)
        assert _state(merged) == _state(rebuilt) == {"a": 5, "c": 7}

    def test_incremental_agg_delta_merge(self, spark):
        # base aggregate updated by a parsed CDC batch: insert adds,
        # update applies (after − before) via the old-map overlay
        # (_msg sets old.v = v−1), delete subtracts and drops the key
        # once its count reaches 0.
        from decimal import Decimal

        from tidb_cdc_spark.cdc.incremental import agg_delta, merge_agg

        base = spark.createDataFrame(
            [("a", 2, Decimal("30.00")), ("b", 1, Decimal("5.00"))],
            "k string, n long, total decimal(18,2)",
        )
        ops = [
            _msg("insert", "a", 10, 1),
            _msg("update", "a", 7, 2),  # before.v = 6 → delta +1
            _msg("delete", "b", 5, 3),  # b count → 0 → dropped
            _msg("insert", "c", 4, 4),  # key absent from base
        ]
        delta = agg_delta(_parse(spark, ops), key="k", value_field="v")
        merged = merge_agg(base, delta, key="k")
        rows = {r.k: (r.n, float(r.total)) for r in merged.collect()}
        assert rows == {"a": (3, 41.0), "c": (1, 4.0)}

    def test_incremental_agg_matches_rebuild(self, spark):
        # property check: base(batch1) ⊕ delta(batch2) == agg(batch1+batch2)
        # for an insert-only base and a mixed delta
        from tidb_cdc_spark.cdc.incremental import agg_delta, merge_agg

        rng = random.Random(7)
        batch1, batch2, ts = [], [], 0
        for i in range(60):
            ts += 1
            batch1.append(_msg("insert", f"k{i % 5}", rng.randrange(100), ts))
        live = {f"k{i % 5}" for i in range(60)}
        for _ in range(40):
            ts += 1
            k = f"k{rng.randrange(5)}"
            batch2.append(_msg(rng.choice(["insert", "update"]), k, rng.randrange(100), ts))
        base = (
            agg_delta(_parse(spark, batch1), key="k", value_field="v")
            .selectExpr("k", "d_count AS n", "d_sum AS total")
        )
        delta = agg_delta(_parse(spark, batch2), key="k", value_field="v")
        merged = merge_agg(base, delta, key="k")
        full = (
            agg_delta(_parse(spark, batch1 + batch2), key="k", value_field="v")
            .selectExpr("k", "d_count AS n", "d_sum AS total")
        )
        got = {r.k: (r.n, float(r.total)) for r in merged.collect()}
        want = {r.k: (r.n, float(r.total)) for r in full.collect()}
        assert got == want and set(got) == live

    def test_random_op_sequences_last_write_wins(self, spark):
        # property-ish test (FIXTURES F3): final state = sequential
        # dict interpretation of the op log
        rng = random.Random(42)
        keys = [f"k{i}" for i in range(8)]
        msgs, expected, ts = [], {}, 0
        for _ in range(200):
            ts += 1
            k = rng.choice(keys)
            op = rng.choice(["insert", "update", "delete"])
            v = rng.randrange(1000) + 1
            msgs.append(_msg(op, k, v, ts))
            if op == "delete":
                expected.pop(k, None)
            else:
                expected[k] = v
        got = _state(snapshot_from_ops(_parse(spark, msgs), SPEC))
        assert got == expected


def _random_log(seed, n, keys):
    rng = random.Random(seed)
    ops, ts = [], 0
    for _ in range(n):
        ts += rng.randint(1, 5)
        op = rng.choice(["insert", "update", "update", "delete"])
        ops.append(_msg(op, rng.choice(keys), rng.randint(0, 99) + 1, ts))
    return ops


_RANDOM = _random_log(11, 80, "abcde")

#: name → (batches of messages, optional (as_of, seeded rows))
FOLD_CASES = {
    # random log, uneven batch cuts (one of a single change)
    "random": (
        [
            _RANDOM[lo:hi]
            for lo, hi in ((0, 7), (7, 30), (30, 31), (31, 60), (60, 80))
        ],
        None,
    ),
    # a batch of deletes only closes heads in place
    "delete_only_batch": (
        [
            [_msg("insert", "a", 1, 10), _msg("insert", "b", 2, 11)],
            [_msg("delete", "a", 1, 20), _msg("delete", "b", 2, 21)],
            [_msg("update", "c", 3, 30)],
        ],
        None,
    ),
    # a key's first event is a delete: in the first batch, and in a
    # later batch whose head does not hold the key
    "first_event_delete": (
        [
            [_msg("delete", "a", 1, 10), _msg("insert", "a", 2, 11)],
            [_msg("delete", "c", 5, 20), _msg("update", "a", 3, 21)],
            [_msg("insert", "c", 6, 30)],
        ],
        None,
    ),
    # re-insert over a head a delete closed: that head keeps its
    # valid_to (the delete ts) and moves to the closed store
    "reinsert_after_closed_head": (
        [
            [_msg("insert", "a", 1, 10), _msg("update", "a", 2, 20)],
            [_msg("delete", "a", 2, 30)],
            [_msg("insert", "a", 3, 40), _msg("update", "a", 4, 50)],
            [_msg("delete", "a", 4, 60), _msg("insert", "a", 5, 70)],
        ],
        None,
    ),
    # equal ts inside a batch and across a cut: _seq, then the head,
    # orders them
    "ts_tie_by_seq": (
        [
            [
                _msg("insert", "a", 1, 10),
                _msg("update", "a", 2, 10),
                _msg("update", "a", 3, 20),
            ],
            [
                _msg("update", "a", 4, 20),
                _msg("delete", "a", 4, 20),
                _msg("insert", "a", 5, 20),
            ],
        ],
        None,
    ),
    # head seeded by bootstrap(as_of=5); one change lands exactly at
    # as_of, one key is never touched
    "bootstrap_seed": (
        [
            [_msg("update", "a", 7, 5), _msg("delete", "b", 2, 8)],
            [_msg("insert", "b", 9, 12), _msg("insert", "d", 4, 13)],
        ],
        (5, [("a", 1), ("b", 2), ("c", 3)]),
    ),
}


#: two-column primary key, for the key-set comparisons
CSPEC = TableSpec(
    database="d",
    table="t",
    columns=(
        ColumnSpec("K", "string", column="k", pk=True),
        ColumnSpec("N", "int", column="n", pk=True),
        ColumnSpec("V", "int"),
    ),
)


def _cmsg(op, k, n, v, ts):
    m = {"database": "d", "table": "t", "type": op, "ts": ts,
         "data": {"k": k, "n": n, "v": v}}
    if op == "update":
        m["old"] = {"v": v - 1}
    return json.dumps(m)


def _conflated_key_merge(base, changes, spec):
    """``apply_changes`` with the anti-join's key side taken from the
    conflated frame (``conflate_latest(...).select("_pk.*")``), as it
    was before the merge read the batch's own keys."""
    pk = spec.pk_columns
    latest = conflate_latest(changes, pk)
    upserts = latest.filter(F.col("op") != CDCType.DELETE).select("after.*")
    survivors = align_to_spec(base, spec).join(
        latest.select("_pk.*"), on=pk, how="left_anti"
    )
    return survivors.unionByName(upserts)


_KV = "k string, v int"
#: name → (spec, base rows, base DDL, batch messages)
KEY_CASES = {
    **{
        f"random_seed{seed}": (
            SPEC,
            [(k, i) for i, k in enumerate("abcdef")],
            _KV,
            _random_log(seed, 40, "abcdefghij"),
        )
        for seed in (3, 17, 29)
    },
    "delete_only": (
        SPEC,
        [("a", 1), ("b", 2), ("c", 3)],
        _KV,
        [_msg("delete", "a", 1, 10), _msg("delete", "c", 3, 11)],
    ),
    "insert_delete_reinsert": (
        SPEC,
        [("b", 2)],
        _KV,
        [
            _msg("insert", "a", 1, 10),
            _msg("delete", "a", 1, 11),
            _msg("insert", "a", 7, 12),
            _msg("update", "b", 3, 12),
        ],
    ),
    "composite_pk": (
        CSPEC,
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)],
        "k string, n int, v int",
        [
            _cmsg("update", "a", 1, 11, 10),
            _cmsg("delete", "a", 2, 20, 11),
            _cmsg("insert", "b", 2, 40, 12),
            _cmsg("insert", "a", 3, 50, 13),
            _cmsg("update", "a", 3, 51, 14),
        ],
    ),
    "no_existing_key": (
        SPEC,
        [("a", 1), ("b", 2)],
        _KV,
        [
            _msg("insert", "x", 1, 10),
            _msg("update", "x", 2, 11),
            _msg("insert", "y", 5, 12),
            _msg("delete", "z", 9, 13),
        ],
    ),
}


class TestBatchKeyAntiJoin:
    """The merge anti-joins the base against ``batch_keys`` (the
    batch's own PKs, duplicates kept) instead of the conflated
    frame's keys: the same key set, so the same merged rows."""

    @staticmethod
    def _same_rows(a, b):
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    @pytest.mark.parametrize("case", sorted(KEY_CASES))
    def test_same_keys_and_rows_as_conflated_keys(self, spark, case):
        spec, rows, ddl, msgs = KEY_CASES[case]
        changes = _parse(spark, msgs, spec)
        base = spark.createDataFrame(rows, ddl)
        pk = spec.pk_columns
        self._same_rows(
            batch_keys(changes, pk).distinct(),
            conflate_latest(changes, pk).select("_pk.*"),
        )
        merged = apply_changes(base, changes, spec)
        self._same_rows(merged, _conflated_key_merge(base, changes, spec))
        # a key is never dropped or doubled by the merge
        assert merged.count() == merged.select(*pk).distinct().count()


#: the spec after ``TableSpec.evolve``: one added column, ``v`` widened
ESPEC = SPEC.evolve(add=(ColumnSpec("Added", "string"),), widen={"v": "bigint"})


def _emsg(op, k, v, added, ts):
    return json.dumps({"database": "d", "table": "t", "type": op, "ts": ts,
                       "data": {"k": k, "v": v, "added": added}})


#: bootstrap keys: enough rows that every one of 4 bootstrap files, and
#: every base partition Spark reads from them, stays non-empty
_KEYS = [f"k{i:02d}" for i in range(40)]

#: name → (spec, bootstrap rows, their DDL, batches as (spec, messages))
SINK_CASES = {
    "random": (
        SPEC,
        [(k, i) for i, k in enumerate(_KEYS)],
        _KV,
        [
            (SPEC, _random_log(seed, 30, _KEYS[::3] + ["n0", "n1", "n2"]))
            for seed in (5, 23, 41)
        ],
    ),
    "all_delete": (
        SPEC,
        [(k, i) for i, k in enumerate(_KEYS)],
        _KV,
        [
            (SPEC, [_msg("update", "k00", 7, 5)]),
            (SPEC, [_msg("delete", k, i, 10 + i) for i, k in enumerate(_KEYS)]),
            (SPEC, [_msg("insert", "e", 5, 50)]),
        ],
    ),
    "composite_pk": (
        CSPEC,
        [(f"k{i % 8}", i, 10 * i) for i in range(40)],
        "k string, n int, v int",
        [(CSPEC, [
            _cmsg("update", "k1", 1, 11, 10),
            _cmsg("delete", "k2", 2, 20, 11),
            _cmsg("insert", "k2", 41, 40, 12),
            _cmsg("insert", "k1", 2, 50, 13),
            _cmsg("update", "k1", 2, 51, 14),
        ])],
    ),
    "evolve": (
        SPEC,
        [(k, i) for i, k in enumerate(_KEYS)],
        _KV,
        [
            (SPEC, [_msg("update", "k00", 7, 10), _msg("insert", "g", 1, 11)]),
            (ESPEC, [
                _emsg("update", "k01", 2**40, "x", 20),
                _emsg("insert", "h", 3, None, 21),
                _emsg("delete", "k02", 2, None, 22),
            ]),
        ],
    ),
}


class TestCoalescedBaseMerge:
    """``ParquetSnapshotSink.process`` reads its base in as many
    partitions as its bytes need: the same rows as merging the
    version ``spark.read.parquet`` reads, and a small version written
    as at most two files (base side and upserts), however many files
    the version before it had."""

    @staticmethod
    def _parts(directory):
        return len([n for n in os.listdir(directory) if n.startswith("part-")])

    @pytest.mark.parametrize("case", sorted(SINK_CASES))
    def test_same_rows_as_a_merge_of_the_parquet_read(self, spark, tmp_path, case):
        from tidb_cdc_spark.streaming import ParquetSnapshotSink, store

        spec, rows, ddl, batches = SINK_CASES[case]
        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        initial = spark.sparkContext.parallelize(rows, 4)  # 4 non-empty slices
        sink.bootstrap(spark.createDataFrame(initial, ddl), spec)

        def current():
            version, _ = store.read_pointer(sink.path)
            return os.path.join(sink.path, f"{sink.PREFIX}{version}")

        assert self._parts(current()) == 4
        for batch_id, (batch_spec, msgs) in enumerate(batches):
            # cached and counted, so the planner sizes the batch as it
            # sizes a streamed micro-batch, whose source scan it knows
            changes = _parse(spark, msgs, batch_spec).persist()
            try:
                changes.count()
                # the version read here is kept as the previous one
                base = spark.read.parquet(current())
                want = apply_changes(base, changes, batch_spec)
                sink.process(changes, batch_id, batch_spec)
                got = sink.read_current(spark)
                assert got.exceptAll(want).count() == 0
                assert want.exceptAll(got).count() == 0
            finally:
                changes.unpersist()
            assert self._parts(current()) <= 2, os.listdir(current())


class TestScd2History:
    def test_delete_closes_interval_without_opening(self, spark):
        from tidb_cdc_spark.cdc.scd import scd2_history

        msgs = [
            _msg("insert", "a", 1, 100),
            _msg("update", "a", 2, 200),
            _msg("delete", "a", 2, 300),
            _msg("insert", "a", 3, 400),
            _msg("insert", "b", 9, 150),
        ]
        hist = scd2_history(_parse(spark, msgs), SPEC)
        rows = {(r.k, r.version): r for r in hist.collect()}
        # version = ordinal among EMITTED versions (deletes close
        # intervals but consume no ordinal): a has versions 1,2,3
        assert set(rows) == {("a", 1), ("a", 2), ("a", 3), ("b", 1)}
        assert (rows[("a", 1)].valid_from, rows[("a", 1)].valid_to) == (100, 200)
        assert (rows[("a", 2)].valid_from, rows[("a", 2)].valid_to) == (200, 300)
        # the post-delete re-insert is the open current version
        assert rows[("a", 3)].valid_to is None and rows[("a", 3)].is_current
        assert not rows[("a", 2)].is_current
        assert rows[("b", 1)].is_current and rows[("b", 1)].v == 9

    def test_replay_is_idempotent(self, spark):
        from tidb_cdc_spark.cdc.scd import scd2_history

        msgs = [_msg("insert", "a", 1, 100), _msg("update", "a", 2, 200)]
        once = scd2_history(_parse(spark, msgs), SPEC)
        twice = scd2_history(_parse(spark, msgs), SPEC)
        assert sorted(map(tuple, once.collect())) == sorted(
            map(tuple, twice.collect())
        )

    def test_incremental_merge_equals_one_shot(self, spark):
        import random

        from tidb_cdc_spark.cdc.scd import merge_scd2_split, scd2_history

        rng = random.Random(7)
        ops, ts = [], 0
        for _ in range(60):
            ts += rng.randint(1, 5)
            k = rng.choice("abcd")
            op = rng.choice(["insert", "update", "update", "delete"])
            ops.append(_msg(op, k, rng.randint(0, 99) + 1, ts))
        one_shot = scd2_history(_parse(spark, ops), SPEC)
        # fold the same log in three ts-ordered batches
        head, closed_all = None, []
        for lo, hi in ((0, 20), (20, 45), (45, 60)):
            head, closed, _ = merge_scd2_split(head, _parse(spark, ops[lo:hi]), SPEC)
            closed_all.append(closed)
        hist = head
        for closed in closed_all:
            hist = hist.unionByName(closed)
        assert sorted(map(tuple, one_shot.collect())) == sorted(
            map(tuple, hist.collect())
        )

    @pytest.mark.parametrize("case", sorted(FOLD_CASES))
    def test_split_merge_fold_equals_one_shot(self, spark, tmp_path, case):
        """merge_scd2_split contract: head ∪ (all emitted closed
        rows) after a fold equals scd2_history over the whole log.
        A case with seeded rows starts from a head written by the
        sink's ``bootstrap(as_of=…)``, which the one-shot replay sees
        as inserts at ``as_of`` ahead of the log."""
        from tidb_cdc_spark.cdc.scd import merge_scd2_split, scd2_history
        from tidb_cdc_spark.streaming import Scd2SplitHistorySink

        batches, seed = FOLD_CASES[case]
        head, log = None, []
        if seed:
            as_of, rows = seed
            sink = Scd2SplitHistorySink(str(tmp_path / "seeded"))
            sink.bootstrap(spark.createDataFrame(rows, "k string, v int"), SPEC, as_of)
            head = sink.read_current(spark)
            log = [_msg("insert", k, v, as_of) for k, v in rows]
        got = []
        for ops in batches:
            head, closed, handles = merge_scd2_split(head, _parse(spark, ops), SPEC)
            assert handles == []
            got.append(closed)
            log += ops
        for c in got:
            head = head.unionByName(c)
        one_shot = scd2_history(_parse(spark, log), SPEC)
        assert sorted(map(tuple, one_shot.collect())) == sorted(
            map(tuple, head.collect())
        )

    def test_split_merge_head_invariant(self, spark):
        """head holds exactly one row per key ever seen — its LATEST
        version — including delete-closed keys (which must keep
        carrying the version counter for a later re-insert)."""
        from tidb_cdc_spark.cdc.scd import merge_scd2_split

        b1 = [
            _msg("insert", "a", 1, 100),
            _msg("update", "a", 2, 200),
            _msg("insert", "b", 9, 150),
        ]
        head, closed, _h1 = merge_scd2_split(None, _parse(spark, b1), SPEC)
        h = {r.k: r for r in head.collect()}
        assert set(h) == {"a", "b"}
        assert h["a"].version == 2 and h["a"].is_current
        assert {(r.k, r.version) for r in closed.collect()} == {("a", 1)}

        # delete-only batch: a's head row closes IN PLACE, no closed
        # row is emitted, the version counter stays on the head
        head = spark.createDataFrame(head.collect(), head.schema)
        b2 = [_msg("delete", "a", 2, 300)]
        head, closed, _h2 = merge_scd2_split(head, _parse(spark, b2), SPEC)
        h = {r.k: r for r in head.collect()}
        assert set(h) == {"a", "b"}
        assert h["a"].version == 2 and not h["a"].is_current
        assert h["a"].valid_to == 300
        assert closed.count() == 0

        # re-insert after delete: version numbering continues (3);
        # the delete-closed head row is superseded and moves to the
        # closed store with its ORIGINAL valid_to (the delete ts)
        head = spark.createDataFrame(head.collect(), head.schema)
        b3 = [_msg("insert", "a", 7, 400)]
        head, closed, _h3 = merge_scd2_split(head, _parse(spark, b3), SPEC)
        h = {r.k: r for r in head.collect()}
        assert h["a"].version == 3 and h["a"].is_current and h["a"].v == 7
        c = {(r.k, r.version): r for r in closed.collect()}
        assert set(c) == {("a", 2)}
        assert c[("a", 2)].valid_to == 300  # NOT re-closed at 400


GSPEC = TableSpec(
    database="d",
    table="t",
    columns=(
        ColumnSpec("K", "string", column="k", pk=True),
        ColumnSpec("G", "string", column="g"),
        ColumnSpec("V", "int"),
    ),
)


class TestCrossConsumerConsistency:
    """ONE semantically-valid change feed through all three CDC
    consumers (current-state snapshot, SCD2 history, incremental
    aggregate) — the consumers must agree with each other, not just
    each with its own oracle."""

    @staticmethod
    def _feed(rng, n_ops, n_keys):
        """Stateful generator: ops are valid transitions (insert only
        when absent, update/delete only when present) and update
        before-images carry the TRUE previous value — required for
        delta-aggregate consistency."""

        def msg(op, k, g, v, ts, old_v=None):
            m = {"database": "d", "table": "t", "type": op, "ts": ts,
                 "data": {"k": k, "g": g, "v": v}}
            if op == "update":
                m["old"] = {"v": old_v}
            return json.dumps(m)

        msgs, state, ts = [], {}, 0
        for _ in range(n_ops):
            ts += 1
            ki = rng.randrange(n_keys)
            k, g = f"k{ki}", f"g{ki % 3}"
            if k not in state:
                v = rng.randrange(1, 100)
                msgs.append(msg("insert", k, g, v, ts))
                state[k] = v
            elif rng.random() < 0.25:
                msgs.append(msg("delete", k, g, state[k], ts))
                del state[k]
            else:
                nv = rng.randrange(1, 100)
                msgs.append(msg("update", k, g, nv, ts, old_v=state[k]))
                state[k] = nv
        return msgs, state

    @staticmethod
    def _parse_g(spark, msgs):
        df = spark.createDataFrame([(m,) for m in msgs], "value string")
        df = df.withColumn("_file_seq", F.monotonically_increasing_id())
        return parse_cdc(df, GSPEC, seq_col=F.col("_file_seq"))

    def test_one_feed_three_consumers_agree(self, spark):
        from tidb_cdc_spark.cdc.incremental import agg_delta, merge_agg
        from tidb_cdc_spark.cdc.scd import scd2_history

        rng = random.Random(13)
        msgs, state = self._feed(rng, 250, 10)
        parsed = self._parse_g(spark, msgs)

        # consumer 1: current-state snapshot == sequential interpretation
        snap = snapshot_from_ops(parsed, GSPEC)
        assert {r.k: r.v for r in snap.collect()} == state

        # consumer 2: SCD2 open intervals == the snapshot, row for row
        hist = scd2_history(parsed, GSPEC)
        open_rows = {
            r.k: (r.g, r.v) for r in hist.filter(F.col("is_current")).collect()
        }
        assert open_rows == {r.k: (r.g, r.v) for r in snap.collect()}

        # consumer 3: base aggregate ⊕ delta == rebuild from final state
        cut = 150
        base_snap = snapshot_from_ops(self._parse_g(spark, msgs[:cut]), GSPEC)
        base_agg = base_snap.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total"),
        )
        delta = agg_delta(self._parse_g(spark, msgs[cut:]), key="g", value_field="v")
        merged = merge_agg(base_agg, delta, key="g")
        rebuilt = snap.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("total"),
        )
        got = {r.g: (r.n, float(r.total)) for r in merged.collect()}
        want = {r.g: (r.n, float(r.total)) for r in rebuilt.collect()}
        assert got == want
