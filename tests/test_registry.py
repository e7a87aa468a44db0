"""The query registry's identity: the declared names, the oracle SQL,
the gate order and the family layout of ``tidb_cdc_spark/queries/``.

``fixtures/registry.json`` holds the sorted ``QUERIES`` and ``ORACLE``
names, ``GATE`` and the sha256 of every oracle SQL string. Moving a
query between modules must leave all of them unchanged.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from tidb_cdc_spark import queries as Q

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "registry.json")
QUERIES_DIR = os.path.dirname(Q.__file__)
FAMILIES = {
    "cdc",
    "corpus",
    "crawl",
    "dedup",
    "embeddings",
    "events",
    "media",
    "retrieval",
    "tpch",
}


def _fixture():
    with open(FIXTURE) as f:
        return json.load(f)


def test_names_and_oracle_sql_unchanged():
    fx = _fixture()
    assert sorted(Q.QUERIES) == fx["queries"]
    assert sorted(Q.ORACLE) == fx["oracles"]
    got = {
        n: hashlib.sha256(sql.encode()).hexdigest() for n, sql in Q.ORACLE.items()
    }
    assert got == fx["oracle_sha256"]


def test_gate_order_unchanged():
    fx = _fixture()
    assert Q.GATE == fx["gate"]
    assert list(Q.QUERIES)[:50] == Q.GATE


def test_every_query_lives_in_a_family_module():
    prefix = "tidb_cdc_spark.queries."
    for name, fn in Q.QUERIES.items():
        assert fn.__module__.startswith(prefix), name
        assert fn.__module__[len(prefix):] in FAMILIES, (name, fn.__module__)


def test_no_round_numbered_query_module():
    files = [f for f in os.listdir(QUERIES_DIR) if f.endswith(".py")]
    assert not [f for f in files if re.search(r"\d", f)]
    assert {f[:-3] for f in files} - {"__init__"} <= FAMILIES
