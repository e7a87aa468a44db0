"""Benchmark self-tests: the generator is deterministic and the oracle
computes the right answer on a hand-built op sequence (FIXTURES.md §F3).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from perfbench import gen  # noqa: E402
from perfbench.oracle import Oracle  # noqa: E402


def _tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload, monkeypatch):
    # shrink the backlog so the test stays fast; determinism does not depend on size
    for name in ("SNAPSHOT_BASE_ROWS", "SNAPSHOT_BATCHES", "MANY_BATCHES", "BACKFILL_CHUNK_EVENTS"):
        monkeypatch.setattr(gen, name, max(2, getattr(gen, name) // 20))
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.generate(workload, 5, str(a))
    gen.generate(workload, 5, str(b))
    gen.generate(workload, 6, str(c))
    files = _tree(a)
    assert files == _tree(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert differ, "another seed must give other inputs"


def _spec():
    from perfbench.specs import many_spec

    return many_spec("t00")


def _ev(offset, op, ts, key, name, old=None):
    data = {"id": key, "name": name, "val": offset, "score": 1.5, "seen_at": 1645154405000 + offset}
    env = {"database": "multi", "table": "t00", "type": op, "ts": ts, "data": data}
    if old is not None:
        env["old"] = old
    return {"topic": "bench", "partition": 0, "offset": offset, "value": json.dumps(env)}


#: FIXTURES.md §F3: insert→update→update→delete (key 1),
#: insert→delete→insert (key 2), two updates with the same ts ordered
#: by offset (key 3), a replayed duplicate event (key 4), plus noise:
#: a malformed line and another table's event.
F3 = [
    _ev(0, "insert", 10, 1, "a"),
    _ev(1, "update", 11, 1, "b", {"name": "a"}),
    _ev(2, "update", 12, 1, "c", {"name": "b"}),
    _ev(3, "delete", 13, 1, "c"),
    _ev(4, "insert", 10, 2, "x"),
    _ev(5, "delete", 11, 2, "x"),
    _ev(6, "insert", 12, 2, "y"),
    _ev(7, "insert", 10, 3, "p"),
    _ev(8, "update", 11, 3, "q", {"name": "p"}),
    _ev(9, "update", 11, 3, "r", {"name": "q"}),
    _ev(10, "insert", 10, 4, "d"),
]
F3_LINES = [json.dumps(e) for e in F3] + [
    json.dumps(F3[-1]),  # replayed duplicate: same offset, same event
    json.dumps({"topic": "bench", "partition": 0, "offset": 11, "value": '{"database":"multi","tab'}),
    json.dumps({"topic": "bench", "partition": 0, "offset": 12,
                "value": json.dumps({"database": "multi", "table": "t01", "type": "insert",
                                     "ts": 99, "data": {"id": 2, "name": "zzz"}})}),
]


@pytest.fixture()
def f3_file(tmp_path):
    path = tmp_path / "f3.json"
    path.write_text("\n".join(F3_LINES) + "\n")
    return str(path)


def test_oracle_snapshot_on_f3(f3_file):
    oracle = Oracle()
    try:
        rows = oracle.con.execute(
            f"SELECT id, name, val FROM ({oracle.expected_snapshot(_spec(), [f3_file], kafka=True)}) ORDER BY id"
        ).fetchall()
    finally:
        oracle.close()
    # key 1 deleted; key 2 re-inserted; key 3: the ts tie goes to the higher offset
    assert rows == [(2, "y", 6), (3, "r", 9), (4, "d", 10)]


def test_oracle_scd2_on_f3(f3_file):
    oracle = Oracle()
    try:
        rows = oracle.con.execute(
            f"SELECT id, name, version, valid_from, valid_to, is_current "
            f"FROM ({oracle.expected_scd2(_spec(), [f3_file])}) ORDER BY id, version, valid_from"
        ).fetchall()
    finally:
        oracle.close()
    assert rows == [
        (1, "a", 1, 10, 11, False),
        (1, "b", 2, 11, 12, False),
        (1, "c", 3, 12, 13, False),  # closed by the delete, no new version
        (2, "x", 1, 10, 11, False),
        (2, "y", 2, 12, None, True),
        (3, "p", 1, 10, 11, False),
        (3, "q", 2, 11, 11, False),
        (3, "r", 3, 11, None, True),
        (4, "d", 1, 10, 10, False),  # the replay closes the first copy at the same ts
        (4, "d", 2, 10, None, True),
    ]


def test_oracle_decodes_like_the_coercion_rules(tmp_path):
    """Wall-clock strings are UTC+8, integers are epoch ms, bool01 is
    true only for 1."""
    from perfbench.specs import orders_spec

    env = {"database": "shop", "table": "orders", "type": "insert", "ts": 1, "data": {
        "id": 7, "customer": "大元金库", "status": 2.9, "amount": "12.3400", "qty": None,
        "price": 0.5, "paid": 2, "note": "n", "created_at": "2022-02-14 15:03:37.423",
        "updated_at": 1645154405123}}
    path = tmp_path / "o.jsonl"
    path.write_text(json.dumps(env, ensure_ascii=False) + "\n")
    oracle = Oracle()
    try:
        row = oracle.con.execute(
            f"SELECT * FROM ({oracle.expected_snapshot(orders_spec(), [str(path)], kafka=False)})"
        ).fetchone()
    finally:
        oracle.close()
    from decimal import Decimal

    assert row == (7, "大元金库", 2, Decimal("12.3400"), None, 0.5, False, "n",
                   1644822217423, 1645154405123)
