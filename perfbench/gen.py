"""Seeded input generator for the CDC benchmark workloads.

Runs as its own single-threaded process before any measurement:

    python3 perfbench/gen.py --workload snapshot_merge --seed 7 --out DIR

The same ``(workload, seed)`` always writes byte-identical files. The
engine under test only ever sees these files; the oracle reads the
same files independently (``perfbench/oracle.py``).

Layout written under ``DIR``:

- ``bootstrap.jsonl`` (snapshot_merge): Maxwell ``insert`` events that
  seed the snapshot before the stream starts;
- ``stream/b00000.json`` ... (snapshot_merge, many_tables): one file
  per micro-batch, Kafka-shaped rows ``{topic, partition, offset,
  value}`` whose ``value`` is the Maxwell envelope, so the connector
  orders ts ties by offset. File mtimes increase with the file number,
  which is the order the file source reads them in;
- ``chunks/c000.jsonl`` ... (backfill_parse): plain Maxwell lines, one
  backfill job per chunk;
- ``corpus/{events,documents}.parquet`` (snapshot_merge): the fixed
  query corpus of the traced run, see ``gen_corpus``;
- ``manifest.json``: per-file row and byte counts.
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import time

#: Column kinds: how a value is encoded in the Maxwell ``data`` image.
#: ``pk``/``int`` JSON integers, ``str`` UTF-8 strings, ``dec`` decimal
#: text, ``dbl`` JSON floats, ``bool01`` 0/1/2 integers (only 1 is
#: true), ``ts_wall`` ``yyyy-MM-dd HH:mm:ss.SSS`` wall clock in UTC+8,
#: ``ts_ms`` epoch milliseconds.
ORDERS_COLUMNS = (
    ("id", "pk", False),
    ("customer", "str", False),
    ("status", "int", False),
    ("amount", "dec", False),
    ("qty", "int", True),
    ("price", "dbl", False),
    ("paid", "bool01", False),
    ("note", "str", True),
    ("created_at", "ts_wall", False),
    ("updated_at", "ts_ms", True),
)

#: The 16 source columns of the ``deals`` table (FIXTURES.md §F2) plus
#: the excluded ``internal`` column the spec must ignore.
DEALS_COLUMNS = (
    ("entity_id", "pkstr", False),
    ("entity_name", "str", False),
    ("entity_type", "int", False),
    ("deal_type", "str", False),
    ("financiers_entity_id", "str", True),
    ("financiers_name", "str", True),
    ("financiers_type", "int", True),
    ("financing_company_data_module_id", "str", True),
    ("financing_company_entity_id", "str", True),
    ("financing_company_entity_type", "int", True),
    ("financing_company_name", "str", True),
    ("status", "bool01", False),
    ("type", "str", True),
    ("created_at", "ts_wall", False),
    ("updated_at", "ts_wall", True),
    ("deleted_at", "ts_wall", True),
    ("internal", "str", True),
)

MANY_COLUMNS = (
    ("id", "pk", False),
    ("name", "str", False),
    ("val", "int", True),
    ("score", "dbl", False),
    ("seen_at", "ts_ms", False),
)

#: Workload sizes. Each streaming workload writes more batches than a
#: run consumes, so the drain never runs dry inside the measured window.
SNAPSHOT_BASE_ROWS = 50_000
SNAPSHOT_BATCH_ROWS = 1_000
SNAPSHOT_BATCHES = 30
MANY_TABLES = 4
MANY_BATCH_ROWS = 1_000
MANY_BATCHES = 30
BACKFILL_CHUNKS = 4
BACKFILL_CHUNK_EVENTS = 25_000
BACKFILL_KEYS = 8_000
BACKFILL_MALFORMED = 0.01
BACKFILL_OTHER_TABLE = 0.05
ZIPF_S = 1.1
#: insert / update / delete mix of the streaming workloads.
OP_MIX = (0.6, 0.3, 0.1)

T0 = 1_645_154_405  # ts of the reference's golden message (FIXTURES.md §F1)
WORDS = ("大元金库", "deal", "Ünïcode", "capital", "资本", "fund", "émigré", "alpha")


class Zipf:
    """Deterministic Zipf(s) sampler over ``range(n)`` (rank 0 hottest)."""

    def __init__(self, n: int, s: float):
        acc, self.cdf = 0.0, []
        for i in range(n):
            acc += 1.0 / (i + 1) ** s
            self.cdf.append(acc)

    def sample(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cdf, rng.random() * self.cdf[-1])


def _value(rng: random.Random, kind: str, nullable: bool, ts: int):
    if nullable and rng.random() < 0.1:
        return None
    if kind in ("int", "pk"):
        return rng.randint(0, 100_000)
    if kind == "str":
        return f"{rng.choice(WORDS)} {rng.randint(0, 9999)}"
    if kind == "dec":
        return f"{rng.randint(0, 10**8)}.{rng.randint(0, 9999):04d}"
    if kind == "dbl":
        return rng.randint(0, 10**7) / 100
    if kind == "bool01":
        return rng.choice((0, 1, 1, 2))
    if kind == "ts_ms":
        return (ts - rng.randint(0, 86_400)) * 1000 + rng.randint(0, 999)
    if kind == "ts_wall":
        sec = ts - rng.randint(0, 86_400 * 30) + 8 * 3600
        return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec)) + (
            f".{rng.randint(0, 999):03d}"
        )
    raise ValueError(kind)


def _row(rng, columns, key, ts) -> dict:
    row = {}
    for name, kind, nullable in columns:
        if kind == "pk":
            row[name] = key
        elif kind == "pkstr":
            row[name] = f"{key:018d}"  # leading-zero string PK, as in F2
        else:
            row[name] = _value(rng, kind, nullable, ts)
    return row


def _update(rng, columns, row, ts) -> tuple[dict, dict]:
    """New full after-image plus Maxwell's partial ``old`` (changed
    columns only)."""
    new = dict(row)
    mutable = [c for c in columns if c[1] not in ("pk", "pkstr")]
    old = {}
    for name, kind, nullable in rng.sample(mutable, rng.randint(1, 3)):
        old[name] = row[name]
        new[name] = _value(rng, kind, nullable, ts)
    return new, old


def _envelope(db, table, op, ts, data, old=None) -> str:
    env = {"database": db, "table": table, "type": op, "ts": ts, "data": data}
    if old is not None:
        env["old"] = old
    return json.dumps(env, ensure_ascii=False, separators=(",", ":"))


class _LiveKeys:
    """Live primary keys with O(1) uniform choice and removal."""

    def __init__(self):
        self.keys: list[int] = []
        self.rows: dict[int, dict] = {}
        self.pos: dict[int, int] = {}

    def add(self, key, row):
        self.pos[key] = len(self.keys)
        self.keys.append(key)
        self.rows[key] = row

    def remove(self, key):
        i, last = self.pos.pop(key), self.keys.pop()
        if last != key:
            self.keys[i], self.pos[last] = last, i
        del self.rows[key]

    def choice(self, rng):
        return self.keys[rng.randrange(len(self.keys))]


class _Table:
    """One source table's evolving state: emits a 60/30/10 mix of
    inserts of fresh keys and updates/deletes of uniformly chosen live
    keys."""

    def __init__(self, db, table, columns):
        self.db, self.table, self.columns = db, table, columns
        self.live = _LiveKeys()
        self.next_key = 0

    def insert(self, rng, ts) -> str:
        key, self.next_key = self.next_key, self.next_key + 1
        row = _row(rng, self.columns, key, ts)
        self.live.add(key, row)
        return _envelope(self.db, self.table, "insert", ts, row)

    def change(self, rng, ts) -> str:
        r = rng.random()
        if r < OP_MIX[0] or len(self.live.keys) < 2:
            return self.insert(rng, ts)
        key = self.live.choice(rng)
        row = self.live.rows[key]
        if r < OP_MIX[0] + OP_MIX[1]:
            new, old = _update(rng, self.columns, row, ts)
            self.live.rows[key] = new
            return _envelope(self.db, self.table, "update", ts, new, old)
        self.live.remove(key)
        return _envelope(self.db, self.table, "delete", ts, row)


def _write(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _write_stream(out, batches) -> list[dict]:
    """Kafka-shaped batch files with one global offset sequence; mtime
    = file number so the file source reads them in order. ``batches``
    holds ``(table, envelope)`` pairs; the manifest records each
    table's envelope bytes per file (the change bytes a sink sees)."""
    os.makedirs(os.path.join(out, "stream"), exist_ok=True)
    files, offset = [], 0
    for b, batch in enumerate(batches):
        lines, table_bytes = [], {}
        for table, v in batch:
            rec = {"topic": "bench", "partition": 0, "offset": offset, "value": v}
            lines.append(json.dumps(rec, ensure_ascii=False, separators=(",", ":")))
            table_bytes[table] = table_bytes.get(table, 0) + len(v.encode("utf-8"))
            offset += 1
        path = os.path.join(out, "stream", f"b{b:05d}.json")
        nbytes = _write(path, lines)
        os.utime(path, (T0 + b, T0 + b))
        files.append({"file": f"stream/b{b:05d}.json", "rows": len(lines), "bytes": nbytes,
                      "table_bytes": table_bytes})
    return files


def gen_snapshot_merge(rng, out) -> dict:
    t = _Table("shop", "orders", ORDERS_COLUMNS)
    boot = [t.insert(rng, T0) for _ in range(SNAPSHOT_BASE_ROWS)]
    _write(os.path.join(out, "bootstrap.jsonl"), boot)
    batches, i = [], 0
    for _ in range(SNAPSHOT_BATCHES):
        batch = []
        for _ in range(SNAPSHOT_BATCH_ROWS):
            batch.append((t.table, t.change(rng, T0 + 1 + i // 50)))  # ~50 events/s: ts ties
            i += 1
        batches.append(batch)
    gen_corpus(os.path.join(out, "corpus"))
    return {"bootstrap_rows": len(boot), "files": _write_stream(out, batches)}


def gen_many_tables(rng, out) -> dict:
    tables = [_Table("multi", f"t{j:02d}", MANY_COLUMNS) for j in range(MANY_TABLES)]
    pick = Zipf(MANY_TABLES, 1.0)
    batches, i = [], 0
    for _ in range(MANY_BATCHES):
        batch = []
        for _ in range(MANY_BATCH_ROWS):
            t = tables[pick.sample(rng)]
            batch.append((t.table, t.change(rng, T0 + i // 50)))
            i += 1
        batches.append(batch)
    return {"tables": [t.table for t in tables], "files": _write_stream(out, batches)}


def gen_backfill_parse(rng, out) -> dict:
    """Wide ``deals`` events with Zipf key reuse, ~1% malformed lines
    and ~5% events of another table of the same database."""
    os.makedirs(os.path.join(out, "chunks"), exist_ok=True)
    keys = Zipf(BACKFILL_KEYS, ZIPF_S)
    files = []
    for c in range(BACKFILL_CHUNKS):
        rows: dict[int, dict] = {}
        lines = []
        for i in range(BACKFILL_CHUNK_EVENTS):
            ts = T0 + i // 20
            r = rng.random()
            if r < BACKFILL_MALFORMED:
                good = _envelope("deal_test", "deals", "insert", ts, _row(rng, DEALS_COLUMNS, i, ts))
                lines.append(good[: rng.randint(1, len(good) - 1)])  # truncated
                continue
            if r < BACKFILL_MALFORMED + BACKFILL_OTHER_TABLE:
                lines.append(_envelope("deal_test", "deal_audit", "insert", ts, {"entity_id": str(i)}))
                continue
            key = keys.sample(rng)
            if key not in rows:
                rows[key] = _row(rng, DEALS_COLUMNS, key, ts)
                lines.append(_envelope("deal_test", "deals", "insert", ts, rows[key]))
            elif rng.random() < 0.9:
                new, old = _update(rng, DEALS_COLUMNS, rows[key], ts)
                rows[key] = new
                lines.append(_envelope("deal_test", "deals", "update", ts, new, old))
            else:
                lines.append(_envelope("deal_test", "deals", "delete", ts, rows.pop(key)))
        path = os.path.join(out, "chunks", f"c{c:03d}.jsonl")
        files.append({"file": f"chunks/c{c:03d}.jsonl", "rows": len(lines), "bytes": _write(path, lines)})
    return {"files": files}


#: The registry queries of the traced ``snapshot_merge`` run read a
#: fixed corpus (seed 0) in the test-data layout, so the committed
#: output digest of ``dedup_containment_repr`` stays valid for every
#: ``--seed``.
CORPUS_EVENTS = 10_000
CORPUS_USERS = 1_000
CORPUS_DOCS = 500
VOCAB = ("key agg row scan slow fast table value part hash merge batch spark the line sort "
         "window join small customer query order group filter stream data column big a").split()


def gen_corpus(out: str) -> None:
    """``events.parquet`` and ``documents.parquet`` with the test-data
    schemas (FIXTURES.md §F5)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random("corpus:0")
    os.makedirs(out, exist_ok=True)
    t, ts = datetime.datetime(2024, 1, 1), []
    for _ in range(CORPUS_EVENTS):
        t += datetime.timedelta(microseconds=rng.randint(0, 600_000_000))
        ts.append(t)
    events = pa.table({
        "event_id": pa.array(range(CORPUS_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(CORPUS_USERS) for _ in ts], pa.int64()),
        "event_type": [rng.choice(("click", "view", "error", "buy")) for _ in ts],
        "value": [round(rng.uniform(0, 100), 2) for _ in ts],
        "props": [f'{{"k": {rng.randint(0, 99)}}}' for _ in ts],
    })
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(20, 80))) for _ in range(CORPUS_DOCS)]
    documents = pa.table({
        "doc_id": pa.array(range(CORPUS_DOCS), pa.int64()),
        "text": texts,
        "lang": ["en"] * CORPUS_DOCS,
        "source": [f"src{i % 5}" for i in range(CORPUS_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    pq.write_table(events, os.path.join(out, "events.parquet"))
    pq.write_table(documents, os.path.join(out, "documents.parquet"))


GENERATORS = {
    "snapshot_merge": gen_snapshot_merge,
    "many_tables": gen_many_tables,
    "backfill_parse": gen_backfill_parse,
}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    rng = random.Random(f"{workload}:{seed}")
    manifest = {"workload": workload, "seed": seed, **GENERATORS[workload](rng, out)}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
