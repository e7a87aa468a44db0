"""Independent output oracle: DuckDB recomputes what the engine should
have written, straight from the generated JSON files, and compares it
with the Parquet the engine wrote.

Nothing here calls the engine. Value decoding follows the coercion
rules the table spec declares (FIXTURES.md §F4), written again in SQL:

- ints: JSON number text → double → truncated integer;
- booleans / ``bool01``: numeric 1 is true, any other number false;
- timestamps: an integer is epoch milliseconds (seconds when the spec
  says so), a ``yyyy-MM-dd HH:mm:ss[.SSS]`` string is UTC+8 wall clock.

Every timestamp is compared as epoch milliseconds and every integer as
BIGINT, so Parquet physical types do not matter.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow as pa


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def decode(expr: str, col) -> str:
    """DuckDB expression decoding JSON text ``expr`` as ``col`` (a
    ``ColumnSpec``)."""
    dtype = col.dtype.lower()
    num = f"TRY_CAST({expr} AS DOUBLE)"
    if dtype == "timestamp":
        whole = f"TRY_CAST({expr} AS BIGINT)"
        epoch = whole if col.epoch_ms else f"{whole} * 1000"
        wall = (
            f"epoch_ms(TRY_STRPTIME({expr}, ['%Y-%m-%d %H:%M:%S.%g', "
            f"'%Y-%m-%d %H:%M:%S']) - INTERVAL 8 HOUR)"
        )
        return f"CASE WHEN regexp_full_match({expr}, '-?[0-9]+') THEN {epoch} ELSE {wall} END"
    if dtype == "boolean" or col.bool01:
        return f"CASE WHEN {num} IS NOT NULL THEN {num} = 1 ELSE TRY_CAST({expr} AS BOOLEAN) END"
    if dtype in ("int", "bigint", "smallint", "tinyint"):
        return f"TRY_CAST(trunc({num}) AS BIGINT)"
    if dtype in ("double", "float"):
        return num
    if dtype.startswith("decimal"):
        return f"TRY_CAST({expr} AS {col.dtype.upper()})"
    return expr


def normalize(name: str, col) -> str:
    """Normalize one column of the engine's Parquet output to the
    oracle's representation."""
    dtype = col.dtype.lower()
    if dtype == "timestamp":
        return f"epoch_ms({_q(name)}) AS {_q(name)}"
    if dtype in ("int", "bigint", "smallint", "tinyint"):
        return f"CAST({_q(name)} AS BIGINT) AS {_q(name)}"
    return _q(name)


def _lines_table(con, name: str, paths: list[str]) -> None:
    """Register plain JSON-lines files as ``name(pos, line)``; ``pos``
    is the global line position, the order the engine uses as seq."""
    lines = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            lines.extend(f.read().split("\n")[:-1])
    tbl = pa.table({"pos": pa.array(range(len(lines)), pa.int64()), "line": lines})
    con.register(name + "_arrow", tbl)
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT * FROM {name}_arrow")


def _kafka_table(con, name: str, paths: list[str]) -> None:
    """Register Kafka-shaped files as ``name(pos, line)`` with the
    Kafka offset as the position."""
    files = ", ".join(f"'{p}'" for p in paths) or "''"
    if not paths:
        con.execute(f"CREATE OR REPLACE TEMP TABLE {name} (pos BIGINT, line VARCHAR)")
        return
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT \"offset\" AS pos, value AS line "
        f"FROM read_json([{files}], format='newline_delimited', "
        f"columns={{'topic': 'VARCHAR', 'partition': 'INTEGER', 'offset': 'BIGINT', 'value': 'VARCHAR'}})"
    )


def _changes_sql(src: str, spec) -> str:
    """Typed change rows ``(op, ts, seq, <columns>)`` of one table from
    a ``(pos, line)`` relation; malformed lines, other tables and
    events without ``data`` drop out as they do in the engine. Each
    line is parsed once: every field comes out of one multi-path
    extract."""
    cols = spec.resolved_columns()
    paths = ["$.type", "$.ts", "$.database", "$.table"] + [
        '$.data."' + c.source + '"' for c in cols
    ]
    listed = ", ".join("'" + p + "'" for p in paths)
    typed = ", ".join(
        f"{decode(f'v[{i + 5}]', c)} AS {_q(c.target)}" for i, c in enumerate(cols)
    )
    return f"""
        SELECT v[1] AS op, CAST(v[2] AS BIGINT) AS ts, seq, {typed}
        FROM (
          SELECT pos AS seq, json_extract_string(line, [{listed}]) AS v
          FROM {src}
          WHERE json_valid(line) AND json_type(line, '$.data') = 'OBJECT')
        WHERE v[3] = '{spec.database}' AND v[4] = '{spec.table}'
          AND v[1] IN ('insert', 'update', 'delete')
    """


def _snapshot_sql(changes: str, spec, bootstrap: str | None) -> str:
    pk = ", ".join(_q(c) for c in spec.pk_columns)
    cols = ", ".join(_q(c.target) for c in spec.resolved_columns())
    latest = f"""
        SELECT {cols} FROM (
          SELECT *, row_number() OVER (PARTITION BY {pk} ORDER BY ts DESC, seq DESC) AS rn
          FROM ({changes})) WHERE rn = 1 AND op <> 'delete'"""
    if bootstrap is None:
        return latest
    return f"""{latest}
        UNION ALL
        SELECT {cols} FROM ({bootstrap}) b
        WHERE NOT EXISTS (SELECT 1 FROM ({changes}) c WHERE {
            ' AND '.join(f'c.{_q(p)} = b.{_q(p)}' for p in spec.pk_columns)})"""


def _scd2_sql(changes: str, spec) -> str:
    pk = ", ".join(_q(c) for c in spec.pk_columns)
    attrs = ", ".join(_q(c.target) for c in spec.resolved_columns() if not c.pk)
    return f"""
        SELECT {pk}, {attrs}, version, valid_from, valid_to, valid_to IS NULL AS is_current
        FROM (
          SELECT *, ts AS valid_from,
                 lead(ts) OVER w AS valid_to,
                 CAST(sum(CASE WHEN op <> 'delete' THEN 1 ELSE 0 END) OVER
                      (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS version
          FROM ({changes})
          WINDOW w AS (PARTITION BY {pk} ORDER BY ts, seq))
        WHERE op <> 'delete'"""


def _diff(con, expected: str, actual: str) -> dict:
    """Compare two row multisets. Both sides are evaluated once into
    temp tables; ``expected`` stays queryable until the next check."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE expected AS {expected}")
    con.execute(f"CREATE OR REPLACE TEMP TABLE actual AS {actual}")
    n_exp = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    n_act = con.execute("SELECT count(*) FROM actual").fetchone()[0]
    missing = con.execute(
        "SELECT count(*) FROM (FROM expected EXCEPT ALL FROM actual)"
    ).fetchone()[0]
    extra = con.execute(
        "SELECT count(*) FROM (FROM actual EXCEPT ALL FROM expected)"
    ).fetchone()[0]
    return {"expected_rows": n_exp, "actual_rows": n_act, "missing": missing,
            "extra": extra, "ok": missing == 0 and extra == 0 and n_exp == n_act}


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


class Oracle:
    """One DuckDB connection; each ``check_*`` returns a report dict
    with ``ok``."""

    def __init__(self, threads: int = 4):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")

    def close(self) -> None:
        self.con.close()

    def expected_snapshot(self, spec, change_files, *, kafka: bool,
                          bootstrap_files=()) -> str:
        """SQL of the expected latest-wins snapshot of ``spec``'s table
        over optional bootstrap insert events plus the change files."""
        (_kafka_table if kafka else _lines_table)(self.con, "chg", list(change_files))
        changes = _changes_sql("chg", spec)
        boot = None
        if bootstrap_files:
            _lines_table(self.con, "boot", list(bootstrap_files))
            cols = ", ".join(_q(c.target) for c in spec.resolved_columns())
            boot = f"SELECT {cols} FROM ({_changes_sql('boot', spec)})"
        return _snapshot_sql(changes, spec, boot)

    def expected_scd2(self, spec, change_files) -> str:
        _kafka_table(self.con, "chg", list(change_files))
        return _scd2_sql(_changes_sql("chg", spec), spec)

    def check_snapshot(self, spec, snapshot_dir, change_files, *, kafka: bool,
                       bootstrap_files=()) -> dict:
        expected = self.expected_snapshot(
            spec, change_files, kafka=kafka, bootstrap_files=bootstrap_files
        )
        cols = ", ".join(normalize(c.target, c) for c in spec.resolved_columns())
        return _diff(self.con, expected, f"SELECT {cols} FROM {_parquet(snapshot_dir)}")

    def lookup_hits(self, pk: str, keys) -> int:
        """How many of ``keys`` the last checked expected output holds."""
        listed = ", ".join(repr(k) for k in keys)
        return self.con.execute(
            f"SELECT count(*) FROM expected WHERE {_q(pk)} IN ({listed})"
        ).fetchone()[0]

    def check_scd2_split(self, spec, store_dir, change_files) -> dict:
        """Compare an ``Scd2SplitHistorySink`` store (head version plus
        closed batches up to the pointer's watermark) with the one-shot
        history of the applied change files."""
        version, watermark = read_pointer(store_dir)
        expected = self.expected_scd2(spec, change_files)
        names = [c.target for c in spec.resolved_columns()]
        byname = {c.target: c for c in spec.resolved_columns()}
        cols = ", ".join(normalize(n, byname[n]) for n in names)
        tail = "version, valid_from, valid_to, is_current"
        head = f"SELECT {cols}, {tail} FROM {_parquet(os.path.join(store_dir, f'head_v={version}'))}"
        closed_root = os.path.join(store_dir, "closed")
        parts = [head]
        if os.path.isdir(closed_root) and any(
            d.startswith("b=") and int(d[2:]) <= watermark for d in os.listdir(closed_root)
        ):
            parts.append(
                f"SELECT {cols}, {tail} FROM read_parquet('{closed_root}/b=*/*.parquet', "
                f"hive_partitioning = true) WHERE b <= {watermark}"
            )
        return _diff(self.con, expected, " UNION ALL ".join(parts))


def read_pointer(store_dir: str) -> tuple[int, int]:
    """``(version, batch watermark)`` of a versioned sink directory."""
    with open(os.path.join(store_dir, "_CURRENT")) as f:
        v, b = f.read().split()
    return int(v), int(b)


def consumed_files(checkpoint_dir: str, upto_batch: int) -> list[str]:
    """Files the streaming file source assigned to batches
    ``0..upto_batch``, read from the query's source log."""
    from urllib.parse import unquote, urlparse

    log = os.path.join(checkpoint_dir, "sources", "0")
    entries = {}
    # plain "<batch>" files and the periodic "<batch>.compact" files
    # that fold every earlier entry in; both hold one JSON per line
    for name in os.listdir(log):
        if name.startswith("."):  # checksum files
            continue
        with open(os.path.join(log, name)) as f:
            for line in f.read().split("\n")[1:]:
                if line.strip():
                    e = json.loads(line)
                    entries[unquote(urlparse(e["path"]).path)] = e["batchId"]
    return sorted((p for p, b in entries.items() if b <= upto_batch), key=lambda p: (entries[p], p))
