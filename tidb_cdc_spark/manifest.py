"""Persisted-store manifests (r13): the listing-free read path for
the bucketed admission/index stores.

The r12 digest-scale rehearsal found the pruned screening regime's
per-batch cost dominated locally by a CONSTANT term: partition
discovery lists every bucket directory on every read, and the
listing price grows with n_buckets (NOTES r12: 10x the directories
cost 1.71x at an 800 MB index). A manifest-based table format
(Delta/Iceberg) removes that term by recording the file list in
metadata -- this module is the same move for the plain-parquet
stores: one tiny parquet file per partitioned table
(``<table>.manifest``: (part, file) rows, a few KB per thousand
files), published with ``streaming/store.atomic_write``.
The screen resolves touched partitions to explicit file paths and
hands Spark the files directly (``basePath`` read keeps the
partition column) -- zero directory listing on the read path, at any
partition count.

Maintenance contract (the admission stores' shared mechanics,
streaming/enrich.py):
- appends refresh ONLY the touched partitions (one os.listdir per
  touched dir, the same dirs the append just wrote -- cost
  proportional to the batch);
- compact() and re-bucketing rebuild the manifest after their
  directory swap (``_tables_compact`` does it for every partitioned
  table it rewrites, a re-bucket inside its journaled commit);
- crash windows heal lazily: a manifest entry whose file vanished
  (crash between a compact swap and its rebuild) is detected by a
  driver-side existence probe over the TOUCHED files only and
  triggers a rebuild; a file appended but not yet manifested (crash
  between append and refresh) is re-covered when the replayed batch
  relists the same touched dirs -- until then those rows do not
  screen, which re-admits their keys: duplication, never loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _manifest_file(table_path: str) -> str:
    return table_path.rstrip("/") + ".manifest"


def _manifest_read(table_path: str) -> "dict[int, list[str]] | None":
    """{partition value: [paths relative to the table dir]} or None
    when the table has no manifest (legacy store — callers fall back
    to listing + partition filter)."""
    import os

    import pyarrow.parquet as pq

    mf = _manifest_file(table_path)
    if not os.path.exists(mf):
        return None
    t = pq.read_table(mf)
    out: dict[int, list[str]] = {}
    for part, f in zip(
        t.column("part").to_pylist(), t.column("file").to_pylist()
    ):
        out.setdefault(int(part), []).append(f)
    return out


def _manifest_write(table_path: str, mapping: "dict[int, list[str]]") -> None:
    """Publish with ``store.atomic_write``: readers see the old or the
    new manifest, never a torn one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tidb_cdc_spark.streaming.store import atomic_write

    parts, files = [], []
    for part in sorted(mapping):
        for f in sorted(mapping[part]):
            parts.append(part)
            files.append(f)
    t = pa.table(
        {
            "part": pa.array(parts, type=pa.int32()),
            "file": pa.array(files, type=pa.string()),
        }
    )
    buf = pa.BufferOutputStream()
    pq.write_table(t, buf)
    atomic_write(_manifest_file(table_path), buf.getvalue().to_pybytes())


def _list_partition_dir(table_path: str, part_col: str, val: int) -> list[str]:
    import os

    d = os.path.join(table_path, f"{part_col}={val}")
    if not os.path.isdir(d):
        return []
    return [
        f"{part_col}={val}/{f}"
        for f in os.listdir(d)
        if f.endswith(".parquet")
    ]


def _manifest_rebuild(table_path: str, part_col: str) -> None:
    """Full relist → manifest swap. Used after compaction and
    re-bucketing, and as the lazy heal when an entry's file went
    missing."""
    import glob
    import os

    mapping: dict[int, list[str]] = {}
    for d in glob.glob(os.path.join(table_path, f"{part_col}=*")):
        val = int(os.path.basename(d).split("=", 1)[1])
        mapping[val] = _list_partition_dir(table_path, part_col, val)
    _manifest_write(table_path, mapping)


def _manifest_update(
    table_path: str, part_col: str, touched: "list[int]"
) -> None:
    """Post-append refresh: relist ONLY the touched partition dirs
    (the ones the append just wrote — cost ∝ batch, not index) and
    replace their entries. A store without a manifest yet gets a
    full rebuild instead — a partial manifest would hide the other
    buckets from the screen."""
    mapping = _manifest_read(table_path)
    if mapping is None:
        _manifest_rebuild(table_path, part_col)
        return
    for val in touched:
        mapping[int(val)] = _list_partition_dir(table_path, part_col, val)
    _manifest_write(table_path, mapping)


def _manifest_pruned_scan(
    spark, table_path: str, part_col: str, touched: "list[int]"
) -> "DataFrame | None":
    """The listing-free screening scan: resolve ``touched``
    partitions to explicit file paths from the manifest and read
    exactly those (``basePath`` keeps the partition column — same
    schema as the listing read). Returns None when the table has no
    manifest (caller falls back to listing + partition filter) or
    when a touched entry's file is missing (manifest staler than a
    compact swap — rebuilt here, caller retries once via its own
    call; the probe is ∝ touched files, not the store)."""
    import os

    mapping = _manifest_read(table_path)
    if mapping is None:
        return None
    files = [f for val in touched for f in mapping.get(int(val), [])]
    paths = [os.path.join(table_path, f) for f in files]
    if not all(os.path.exists(p) for p in paths):
        _manifest_rebuild(table_path, part_col)
        mapping = _manifest_read(table_path)
        files = [f for val in touched for f in mapping.get(int(val), [])]
        paths = [os.path.join(table_path, f) for f in files]
    if not paths:
        # no admitted rows in any touched bucket yet: an empty
        # same-schema frame, no listing (schema from one manifest
        # file if any exist, else the caller's empty-store branch)
        all_files = [f for fs in mapping.values() for f in fs]
        if not all_files:
            return None
        probe = spark.read.option("basePath", table_path).parquet(
            os.path.join(table_path, all_files[0])
        )
        return probe.limit(0)
    return spark.read.option("basePath", table_path).parquet(*paths)
