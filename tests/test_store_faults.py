"""Fault matrix: every sink × every commit step of one operation.

The harness (``fault_matrix.py``) enumerates the store primitive calls
and parquet writes of an uninterrupted run, copies the store as a
crash just before each of them would leave it, restarts a fresh sink
on each copy, replays and compares with the uninterrupted result:

- pointer and swap sinks (``ParquetSnapshotSink``,
  ``Scd2SplitHistorySink`` process, bootstrap and compact,
  ``CountMinSink``, ``PcaMomentSink``, ``HllDistinctSink``,
  ``WinnowOverlapSink``)
  must equal the uninterrupted run exactly;
- append stores (the admission sinks, ``IvfIndexSink``) keep their
  contract: no admitted row lost, duplicates only from a crash between
  an append and the watermark commit; an IVF rebuild lands on one
  consistent generation.

Each default-tier case also pins the operation's step list — the
commit protocol of ``streaming/store.py`` as the sink executes it.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest
from fault_matrix import rows, run_matrix
from pyspark.sql import functions as F

from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec
from tidb_cdc_spark.streaming import store

SPEC = TableSpec(
    database="d",
    table="t",
    columns=(
        ColumnSpec("K", "string", column="k", pk=True),
        ColumnSpec("V", "int"),
    ),
)


def _msg(op, k, v, ts):
    m = {"database": "d", "table": "t", "type": op, "ts": ts, "data": {"k": k, "v": v}}
    if op == "update":
        m["old"] = {"v": v - 1}
    return json.dumps(m)


def _changes(spark, msgs):
    from tidb_cdc_spark.cdc import parse_cdc

    df = spark.createDataFrame([(m,) for m in msgs], "value string")
    return parse_cdc(
        df.withColumn("_s", F.monotonically_increasing_id()),
        SPEC,
        seq_col=F.col("_s"),
    )


CDC_BATCHES = [
    [_msg("insert", "a", 1, 10), _msg("insert", "b", 2, 11)],
    [_msg("update", "a", 5, 20), _msg("insert", "c", 3, 21)],
    [_msg("update", "a", 9, 30), _msg("delete", "b", 2, 31), _msg("update", "c", 4, 32)],
]


def _cdc_prepare(spark, sink_cls, n):
    def prepare(root):
        sink = sink_cls(root)
        for i in range(n):
            sink.process(_changes(spark, CDC_BATCHES[i]), i, SPEC)

    return prepare


def _cdc_process(spark, sink_cls, i):
    def operation(root):
        sink_cls(root).process(_changes(spark, CDC_BATCHES[i]), i, SPEC)

    return operation


def _current(spark, sink_cls):
    return lambda root: rows(sink_cls(root).read_current(spark))


# ------------------------------------------- pointer sinks: exact


def test_snapshot_process(spark, tmp_path):
    """Also checks that a raised crash at each step leaves exactly the
    captured state."""
    from tidb_cdc_spark.streaming import ParquetSnapshotSink as S

    def prepare(root):
        S(root).bootstrap(
            spark.createDataFrame([("z", 0)], "k string, v int"), SPEC
        )
        _cdc_prepare(spark, S, 1)(root)

    steps = run_matrix(
        spark,
        tmp_path,
        prepare,
        _cdc_process(spark, S, 1),
        _current(spark, S),
        raise_check=True,
    )
    assert steps == [
        "parquet(v=3)",
        "_write_file(_CURRENT.tmp)",
        "_replace(_CURRENT)",
        "_remove(v=1)",
    ]


def test_scd2_history_process(spark, tmp_path):
    """The first batch that closes versions: one head version before
    it, so nothing is old enough to collect."""
    from tidb_cdc_spark.streaming import Scd2SplitHistorySink as S

    steps = run_matrix(
        spark,
        tmp_path,
        _cdc_prepare(spark, S, 1),
        _cdc_process(spark, S, 1),
        _current(spark, S),
    )
    assert steps == [
        "parquet(_stage)",
        "_replace(b=1)",
        "_replace(head_v=2)",
        "_write_file(_CURRENT.tmp)",
        "_replace(_CURRENT)",
        "_remove(_stage)",
    ]


@pytest.mark.slow
def test_scd2_history_bootstrap(spark, tmp_path):
    """A retried bootstrap (unless it committed) and then a batch
    carrying a pre-export change: ``_BOOTSTRAP`` must be published
    with, or before, the seeded version."""
    from tidb_cdc_spark.streaming import Scd2SplitHistorySink as S

    def bootstrap(root):
        if store.read_pointer(root) is None:
            initial = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
            S(root).bootstrap(initial, SPEC, as_of=100)

    def observe(root):
        S(root).process(
            _changes(spark, [_msg("update", "a", 0, 50), _msg("update", "a", 7, 200)]),
            0,
            SPEC,
        )
        return rows(S(root).read_current(spark))

    steps = run_matrix(spark, tmp_path, os.makedirs, bootstrap, observe)
    assert steps == [
        "_write_file(_BOOTSTRAP.tmp)",
        "_replace(_BOOTSTRAP)",
        "parquet(head_v=1)",
        "_write_file(_CURRENT.tmp)",
        "_replace(_CURRENT)",
    ]


def test_scd2_split_process_and_compact(spark, tmp_path):
    """The process matrix's uninterrupted result is the compact
    matrix's pre-state."""
    from tidb_cdc_spark.streaming import Scd2SplitHistorySink as S

    steps = run_matrix(
        spark,
        tmp_path / "process",
        _cdc_prepare(spark, S, 2),
        _cdc_process(spark, S, 2),
        _current(spark, S),
    )
    assert steps == [
        "parquet(_stage)",
        "_replace(b=2)",
        "_replace(head_v=3)",
        "_write_file(_CURRENT.tmp)",
        "_replace(_CURRENT)",
        "_remove(head_v=1)",
        "_remove(_stage)",
    ]

    def observe(root):
        closed = sorted(os.listdir(os.path.join(root, "closed")))
        return rows(S(root).read_current(spark)), closed

    steps = run_matrix(
        spark,
        tmp_path / "compact",
        lambda root: shutil.copytree(tmp_path / "process" / "ref", root),
        lambda root: S(root).compact(spark),
        observe,
        raise_check=True,
    )
    assert steps == [
        "parquet(b=2)",
        "_replace(closed.swap.old)",
        "_replace(closed)",
        "_remove(closed.swap.old)",
    ]


# ---------------------------------------------- swap sinks: exact


def _cms_observe(spark):
    from tidb_cdc_spark.streaming import CountMinSink

    def observe(root):
        sink = CountMinSink(root, "k", depth=3, width=32)
        return rows(sink.read_table(spark)), sink._last_batch_id()

    return observe


def _cms_process(spark, batch_id, keys):
    from tidb_cdc_spark.streaming import CountMinSink

    def operation(root):
        batch = spark.createDataFrame([(k,) for k in keys], "k long")
        CountMinSink(root, "k", depth=3, width=32).process(batch, batch_id)

    return operation


def test_count_min_process(spark, tmp_path):
    steps = run_matrix(
        spark,
        tmp_path,
        _cms_process(spark, 0, [1, 1, 2]),
        _cms_process(spark, 1, [2, 3, 3, 3]),
        _cms_observe(spark),
    )
    assert steps == [
        "parquet(cells.swap.tmp)",
        "_write_file(_BATCH.tmp)",
        "_replace(_BATCH)",
        "_write_file(_PARAMS.tmp)",
        "_replace(_PARAMS)",
        "_replace(cells.swap.old)",
        "_replace(cells)",
        "_remove(cells.swap.old)",
    ]


# ------------------------------------------ append stores: contract


def _duplication_window(steps, appends, watermark):
    """Crash points after which a replay may duplicate appended rows:
    after the first append, up to and including the watermark's
    commit step."""
    first = min(steps.index(a) for a in appends)
    return range(first + 1, steps.index(watermark) + 1)


def _append_contract(batch_ids, appends, watermark="_replace(_BATCH)"):
    """No admitted id lost or added; duplicates only of this batch's
    ids, and only for a crash between an append and the watermark."""

    def check(expected, got, k, steps):
        assert set(got) == set(expected)
        dups = {i for i, n in Counter(got).items() if n > 1}
        if k in _duplication_window(steps, appends, watermark):
            assert dups <= set(batch_ids)
        else:
            assert got == expected

    return check


def _media_batch(spark, rows_):
    return spark.createDataFrame(
        [(i, "image", bytearray(p)) for i, p in rows_],
        "media_id long, kind string, payload binary",
    )


def test_digest_process(spark, tmp_path):
    """Batch 1 (a cross-batch dup, an intra-batch pair, a novel
    payload) crashed at every step. That the screen is complete again
    after a replay is checked by
    ``test_manifest.py::test_unmanifested_append_healed_by_replay``."""
    from tidb_cdc_spark.streaming import DigestAdmissionSink as S

    def prepare(root):
        S(root).process(_media_batch(spark, [(1, b"A"), (2, b"B")]), 0)

    def operation(root):
        batch = [(10, b"A"), (12, b"C"), (11, b"C"), (13, b"D")]
        S(root).process(_media_batch(spark, batch), 1)

    def observe(root):
        return sorted(r.media_id for r in S(root).read_corpus(spark).collect())

    steps = run_matrix(
        spark,
        tmp_path,
        prepare,
        operation,
        observe,
        check=_append_contract([11, 13], ["parquet(corpus)", "parquet(digests)"]),
    )
    assert steps == [
        "parquet(corpus)",
        "parquet(digests)",
        "_write_file(digests.manifest.tmp)",
        "_replace(digests.manifest)",
        "_write_file(_BATCH.tmp)",
        "_replace(_BATCH)",
    ]


def _vecs(ids, cluster):
    base = {0: [10.0, 0.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0, 0.0], 2: [0.0, 0.0, 10.0, 0.0]}[
        cluster
    ]
    return [(i, [b + 0.01 * ((i * 7 + d) % 5) for d, b in enumerate(base)]) for i in ids]


def _vec_batch(spark, rows_):
    return spark.createDataFrame(rows_, "vec_id long, embedding array<double>")


def _ivf_prepare(spark):
    from tidb_cdc_spark.streaming import IvfIndexSink

    def prepare(root):
        """Centroids fit on cluster 0 only, then the drifted clusters
        1 and 2 appended — the state rebuild() exists for."""
        sink = IvfIndexSink(root, n_cells=3, seed=7)
        for b, cluster in enumerate((0, 1, 2)):
            sink.process(_vec_batch(spark, _vecs(range(10 * b, 10 * b + 10), cluster)), b)

    return prepare


def _ivf_observe(spark):
    import numpy as np

    from tidb_cdc_spark.streaming import IvfIndexSink

    def observe(root):
        """(vec ids, rows whose cell is not their nearest centroid,
        generation); a restarted sink's read heals the store first."""
        index = IvfIndexSink(root, n_cells=3, seed=7).read_index(spark).collect()
        cents = spark.read.parquet(os.path.join(root, "centroids")).orderBy("cell").collect()
        centers = np.stack([np.asarray(r.center) for r in cents])
        misplaced = [
            r.vec_id
            for r in index
            if r.cell != int(np.argmin(((centers - np.asarray(r.embedding)) ** 2).sum(1)))
        ]
        params = store.read_json(os.path.join(root, "_PARAMS"))
        assert params["n_cells"] == len(cents)
        leftovers = [d for d in os.listdir(root) if ".swap." in d or d == "_REBUILD"]
        return sorted(r.vec_id for r in index), misplaced, params.get("version", 1), leftovers

    return observe


def test_ivf_rebuild(spark, tmp_path):
    """A crashed rebuild, then a restarted sink's read: the old
    generation before the journal commit, the new one after it, each
    self-consistent, no vector lost or duplicated."""
    from tidb_cdc_spark.streaming import IvfIndexSink

    def check(expected, got, k, steps):
        ids, misplaced, version, leftovers = got
        assert ids == expected[0] and not misplaced and not leftovers
        committed = k > steps.index("_replace(_REBUILD)")
        assert version == (expected[2] if committed else 1)

    steps = run_matrix(
        spark,
        tmp_path,
        _ivf_prepare(spark),
        lambda root: IvfIndexSink(root, n_cells=3, seed=7).rebuild(spark),
        _ivf_observe(spark),
        check=check,
        replay=lambda root: None,  # the restarted sink's read heals
    )
    assert steps == [
        "parquet(centroids.swap.tmp)",
        "parquet(index.swap.tmp)",
        "_write_file(_REBUILD.tmp)",
        "_replace(_REBUILD)",
        "_replace(index.swap.old)",
        "_replace(index)",
        "_remove(index.swap.old)",
        "_replace(centroids.swap.old)",
        "_replace(centroids)",
        "_remove(centroids.swap.old)",
        "_write_file(_PARAMS.tmp)",
        "_replace(_PARAMS)",
        "_write_file(index.manifest.tmp)",
        "_replace(index.manifest)",
        "_remove(_REBUILD)",
    ]


# ------------------------------------------------ slow tier: the rest


@pytest.mark.slow
def test_ivf_process(spark, tmp_path):
    from tidb_cdc_spark.streaming import IvfIndexSink

    def operation(root):
        IvfIndexSink(root, n_cells=3, seed=7).process(
            _vec_batch(spark, _vecs(range(30, 40), 1)), 3
        )

    def observe(root):
        return _ivf_observe(spark)(root)[0]

    run_matrix(
        spark,
        tmp_path,
        _ivf_prepare(spark),
        operation,
        observe,
        check=_append_contract(range(30, 40), ["parquet(index)"]),
    )


@pytest.mark.slow
def test_digest_rebucket_compact(spark, tmp_path):
    """compact(n_buckets=...) re-buckets the index and publishes the
    new bucket count as one journaled commit; every crash point must
    leave a store that screens exactly like the uninterrupted one."""
    from tidb_cdc_spark.streaming import DigestAdmissionSink as S

    def prepare(root):
        for b in range(2):
            batch = [(10 * b + i, f"p{b}-{i}".encode()) for i in range(4)]
            S(root, n_buckets=4).process(_media_batch(spark, batch), b)

    def observe(root):
        S(root).process(_media_batch(spark, [(99, b"p0-1"), (98, b"new")]), 2)
        params = store.read_json(os.path.join(root, "_PARAMS"))
        ids = sorted(r.media_id for r in S(root).read_corpus(spark).collect())
        return ids, params["n_buckets"]

    run_matrix(
        spark,
        tmp_path,
        prepare,
        lambda root: S(root).compact(spark, files_per_table=1, n_buckets=16),
        observe,
    )


@pytest.mark.slow
def test_near_dup_process(spark, tmp_path):
    from tidb_cdc_spark.streaming import NearDupAdmissionSink as S

    def text(i):
        return " ".join(f"w{i}_{j}" for j in range(30))

    def batch(rows_):
        return spark.createDataFrame(rows_, "doc_id long, text string")

    def observe(root):
        return sorted(r.doc_id for r in S(root).read_corpus(spark).collect())

    run_matrix(
        spark,
        tmp_path,
        lambda root: S(root).process(batch([(i, text(i)) for i in range(3)]), 0),
        lambda root: S(root).process(batch([(10, text(1)), (11, text(11))]), 1),
        observe,
        check=_append_contract(
            [11], ["parquet(corpus)", "parquet(bands)", "parquet(candidates)"]
        ),
    )


@pytest.mark.slow
def test_phash_process(spark, tmp_path):
    from tidb_cdc_spark.functions.media_synth import synth_bmp_pixel_media
    from tidb_cdc_spark.streaming import PhashAdmissionSink as S

    def media(rows_):
        df = spark.createDataFrame(rows_, "media_id long, pattern int, shift int")
        return synth_bmp_pixel_media(df, "media_id")

    def observe(root):
        return sorted(r.media_id for r in S(root).read_corpus(spark).collect())

    run_matrix(
        spark,
        tmp_path,
        lambda root: S(root).process(media([(1, 5, 0), (3, 9, 0)]), 0),
        lambda root: S(root).process(media([(10, 5, 20), (11, 77, 0)]), 1),
        observe,
        check=_append_contract([11], ["parquet(corpus)", "parquet(phashes)"]),
    )


@pytest.mark.slow
def test_audio_window_process(spark, tmp_path):
    from tidb_cdc_spark.functions.media_synth import synth_wav_windowed_media
    from tidb_cdc_spark.streaming import AudioWindowAdmissionSink as S

    def media(rows_):
        ids = spark.createDataFrame(rows_, "media_id long, base int, skip int, gain int")
        return synth_wav_windowed_media(ids, "media_id")

    def observe(root):
        return sorted(r.media_id for r in S(root).read_corpus(spark).collect())

    run_matrix(
        spark,
        tmp_path,
        lambda root: S(root).process(media([(1, 5, 0, 1), (2, 9, 0, 1)]), 0),
        lambda root: S(root).process(media([(10, 5, 2, 3), (11, 42, 0, 1)]), 1),
        observe,
        check=_append_contract([11], ["parquet(corpus)", "parquet(windows)"]),
    )


@pytest.mark.slow
def test_winnow_process(spark, tmp_path):
    from tidb_cdc_spark.streaming import WinnowOverlapSink as S

    run = " ".join(f"s{i}" for i in range(8))

    def batch(rows_):
        return spark.createDataFrame(rows_, "doc_id long, text string")

    def observe(root):
        return rows(S(root, k=4, w=2).read_overlaps(spark)), rows(
            spark.read.parquet(os.path.join(root, "fps"))
        )

    run_matrix(
        spark,
        tmp_path,
        lambda root: S(root, k=4, w=2).process(batch([(1, "x1 x2 " + run)]), 0),
        lambda root: S(root, k=4, w=2).process(
            batch([(2, run + " y1"), (3, "y2 " + run)]), 1
        ),
        observe,
    )


@pytest.mark.slow
def test_pca_moment_process(spark, tmp_path):
    from tidb_cdc_spark.streaming import PcaMomentSink as S

    def batch(seed):
        vecs = [(i, [float((i * seed + d) % 7) for d in range(3)]) for i in range(8)]
        return spark.createDataFrame(vecs, "id long, embedding array<double>")

    def observe(root):
        return [(p, round(v, 9)) for p, v in rows(S(root).read_moments(spark))]

    run_matrix(
        spark,
        tmp_path,
        lambda root: S(root).process(batch(3), 0),
        lambda root: S(root).process(batch(5), 1),
        observe,
    )


@pytest.mark.slow
def test_hll_distinct_process(spark, tmp_path):
    from tidb_cdc_spark.streaming import HllDistinctSink as S

    def batch(lo):
        return spark.createDataFrame(
            [(lo + i % 7, "click") for i in range(20)] + [(i, "view") for i in range(3)],
            "user_id long, event_type string",
        )

    def observe(root):
        return rows(S(root, "user_id", ["event_type"]).estimates(spark))

    run_matrix(
        spark,
        tmp_path,
        lambda root: S(root, "user_id", ["event_type"]).process(batch(0), 0),
        lambda root: S(root, "user_id", ["event_type"]).process(batch(5), 1),
        observe,
    )
