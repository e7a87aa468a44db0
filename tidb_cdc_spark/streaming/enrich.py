"""Stream-static enrichment and incremental corpus ingestion — the
two joins a streaming pipeline runs against batch state: dimension
lookup (enrich each event with reference data) and snapshot dedup
(drop incoming documents already in the corpus).

The reference's handler loop (`cdc_manager.go:109-188`) hands rows
to user callbacks one at a time and any enrichment is the user's
problem; here the join IS the operator, planned by Catalyst per
micro-batch.

Scale notes (100 TB stream, 1000 executors):
- A stream-static join re-plans the static side EVERY micro-batch.
  Broadcasting the dim (default) makes each batch a map-side hash
  join — no stream shuffle, and the dim refresh is free (the next
  batch sees the table's current content). A non-broadcast dim
  shuffles every micro-batch — only right when the dim is too big
  to broadcast, in which case pre-bucket both sides.
- Snapshot dedup is a LEFT ANTI join against the fingerprint set.
  The fingerprint projection is 16 B/row; a billion-doc corpus is
  ~16 GB of fingerprints — beyond broadcast, so the anti join
  shuffles the (small) incoming batch against the bucketed
  fingerprint table; `broadcast_snapshot=True` covers the
  million-doc case. In-stream repeats are dropped by
  ``dropDuplicatesWithinWatermark`` — state bounded by the
  watermark horizon, the only dedup that survives an unbounded
  stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_cdc_spark.streaming import store
from tidb_cdc_spark.streaming.store import guard_batch_watermark


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Enrich a streaming DataFrame with a static dimension table.

    ``how`` is restricted to the stream-static-legal left-side joins
    (inner / left / left_semi / left_anti) — right/full outer would
    need the static side to wait for the unbounded stream."""
    if how not in ("inner", "left", "left_semi", "left_anti"):
        raise ValueError(
            f"stream-static join supports inner/left/left_semi/left_anti, got {how!r}"
        )
    d = F.broadcast(dim) if broadcast_dim else dim
    return stream.join(d, on=on, how=how)


def ingest_new_documents(
    docs_stream: DataFrame,
    snapshot: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
    broadcast_snapshot: bool = False,
) -> DataFrame:
    """Incremental corpus ingestion: keep only documents whose
    content fingerprint is in neither the static ``snapshot`` (the
    already-shipped corpus) nor the stream's own watermark horizon.

    ``snapshot`` needs a ``fp`` column (md5 of text — build it with
    :func:`snapshot_fingerprints`); the emitted stream carries the
    incoming columns plus ``fp`` so the sink can append straight
    into the snapshot table, closing the loop for the next run."""
    fp = docs_stream.withColumn("fp", F.md5(F.col(text_col)))
    snap = snapshot.select("fp").distinct()
    if broadcast_snapshot:
        snap = F.broadcast(snap)
    fresh = fp.join(snap, on="fp", how="left_anti")
    return fresh.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fp"]
    )


def snapshot_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content fingerprints of a batch corpus — the 16 B/row
    projection ``ingest_new_documents`` anti-joins against."""
    return docs.select(F.md5(F.col(text_col)).alias("fp")).distinct()




# ------------------------------------------------- store mechanics
# Every commit below goes through ``streaming/store.py``, which states
# the protocol once (atomic files, swapped directories, journaled
# multi-directory swaps, batch watermarks).


def _tables_compact(
    spark,
    paths: dict[str, str],
    files_per_table: int | None = None,
    partitioned: dict[str, list[str]] | None = None,
    dedupe: dict[str, list[str]] | None = None,
) -> dict:
    """Rewrite each store table into ~128 MB files (or exactly
    ``files_per_table``) and swap the directory in; returns
    ``{table: (files_before, files_after)}``. Tables named in
    ``partitioned`` keep their directory-partition columns through the
    rewrite (one file per partition value after clustering on the
    partition key) and get a fresh manifest. Tables named in
    ``dedupe`` additionally drop duplicate rows on the given key
    columns — the permanent heal for a sink whose appends can be
    torn-duplicated on replay (``IvfIndexSink``)."""
    import glob

    stats: dict[str, tuple[int, int]] = {}
    for name, p in paths.items():
        store.recover(p)
        if not os.path.exists(p):
            continue
        files = glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)
        nbytes = sum(os.path.getsize(f) for f in files)
        n = files_per_table or max(1, -(-nbytes // (128 << 20)))
        tmp = store.staging(p)
        part_cols = (partitioned or {}).get(name)
        src = spark.read.parquet(p)
        dedupe_cols = (dedupe or {}).get(name)
        if dedupe_cols:
            src = src.dropDuplicates(dedupe_cols)
        if part_cols:
            # cluster on the partition key so every partition dir
            # collapses to one file regardless of task count
            writer = src.repartition(n, *part_cols).write.partitionBy(*part_cols)
        else:
            writer = src.repartition(n).write
        writer.mode("overwrite").parquet(tmp)
        store.swap_in(tmp, p)
        if part_cols:
            # the rewrite replaced every file: a fresh manifest keeps
            # the listing-free screen from seeing dead entries
            _manifest_rebuild(p, part_cols[0])
        stats[name] = (
            len(files),
            len(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)),
        )
    return stats


# -------------------------------------- bucketed index layout (r12)
# The admission sinks' persisted indexes (digest table / band table)
# are directory-partitioned on ``bucket = pmod(xxhash64(key), N)``.
# Two properties make the per-batch screen cost ∝ batch instead of
# ∝ corpus (the r11 verdict's finding — the previous flat layout
# sort-merge-joined, i.e. re-shuffled, the WHOLE index every batch):
#
# 1. The screening join streams the INDEX against the BROADCAST
#    batch keys (BroadcastHashJoin, batch side built) — the index is
#    scanned, never shuffled, never sorted, never spilled.
# 2. The scan itself prunes to the batch's TOUCHED buckets (a static
#    partition filter built from the batch's distinct bucket values —
#    a bounded ≤N-int driver collect), so index bytes read per batch
#    ≤ min(|batch|, N) × bucket_size. With ``compact(n_buckets=...)``
#    re-bucketing as the index grows (bucket size held ~constant,
#    the LSM/region-split discipline), that bound is ∝ batch and
#    INDEPENDENT of total index size. When |batch| ≥ N the screen
#    degrades gracefully to one full — still shuffle-free — index
#    scan per batch (~seconds for a 40 GB digest table across a
#    fleet). At 100 TB the same layout maps onto a transactional
#    format's hidden bucket partitioning + OPTIMIZE.
#
# ``_PARAMS`` pins the live bucket count: the store's value is
# authoritative over the sink constructor's, so a restart with a
# different default cannot split reads and writes across incompatible
# bucketings.


def _bucket_expr(key_cols: list[str], n_buckets: int):
    """Deterministic bucket id for an index row: identical on the
    write path and the batch's probe path by construction."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)
    ).cast("int")


# store-manifest helpers live in a neutral module so the batch probe
# side (functions/similarity.ivf_probe_index) can share them without
# importing the streaming layer
from tidb_cdc_spark.manifest import (  # noqa: E402
    _manifest_pruned_scan,
    _manifest_rebuild,
    _manifest_update,
)


class _AdmissionSink:
    """Store mechanics shared by the bucketed admission sinks: a
    ``corpus`` of admitted rows plus a bucket-partitioned ``INDEX``
    the next batch is screened against, a ``_BATCH`` watermark
    committed last, ``_PARAMS`` pinning ``n_buckets`` and the
    ``PINNED`` layout keys, and ``compact()``. A crash between an
    append and the watermark makes the replay append again —
    duplication, never loss (``store.py``).

    A subclass declares ``INDEX``, ``KEY_COLS`` (the index columns
    hashed into ``bucket``), ``TABLES`` (every appended table, corpus
    first), ``PINNED``, ``WHAT``, ``_index_schema(batch)`` (the empty
    index's schema) and ``_admit(batch, n_buckets)``, which screens
    and appends one batch and returns the touched buckets."""

    INDEX: str
    KEY_COLS: tuple[str, ...]
    TABLES: tuple[str, ...]
    PINNED: tuple[str, ...] = ()
    WHAT: str

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _last_batch_id(self) -> int | None:
        return store.read_watermark(self.root)

    def _heal(self) -> None:
        """Finish a committed re-bucket, roll back torn compactions."""
        store.roll_forward(self._path("_REBUILD"), self._publish_params)
        for name in self.TABLES:
            store.recover(self._path(name))

    def _publish_params(self, params: dict) -> None:
        store.atomic_write(self._path("_PARAMS"), params)
        if os.path.exists(self._path(self.INDEX)):
            _manifest_rebuild(self._path(self.INDEX), "bucket")

    def _params(self) -> dict:
        """Live store parameters: created for a fresh store; a store
        whose index exists without ``_PARAMS``, or whose pinned layout
        differs from the sink's, is refused."""
        want = {"layout": "bucketed", "n_buckets": self.n_buckets}
        want.update({k: getattr(self, k) for k in self.PINNED})
        params = store.read_json(self._path("_PARAMS"))
        if params is None:
            if os.path.exists(self._path(self.INDEX)):
                raise ValueError(
                    f"index at {self._path(self.INDEX)} exists but the "
                    "store's _PARAMS file is missing — restore it (the "
                    "bucketing and key layout cannot be inferred from data)"
                )
            store.atomic_write(self._path("_PARAMS"), want)
            return want
        for k in self.PINNED:
            if params.get(k) != want[k]:
                raise ValueError(
                    f"{self.WHAT} {k}={params.get(k)!r} does not match "
                    f"sink {k}={want[k]!r} — the persisted index is "
                    "layout-specific; rebuild the store or match the "
                    "sink configuration"
                )
        return params

    def read_corpus(self, spark) -> DataFrame | None:
        self._heal()
        p = self._path("corpus")
        return spark.read.parquet(p) if os.path.exists(p) else None

    def _index_scan(self, spark, batch: DataFrame, touched: list[int]) -> DataFrame:
        """The persisted index pruned to the ``touched`` buckets:
        listing-free through the manifest, else a listing plus
        partition filter; an empty frame before the first append."""
        p = self._path(self.INDEX)
        if not os.path.exists(p):
            return spark.createDataFrame([], self._index_schema(batch))
        if touched:
            pruned = _manifest_pruned_scan(spark, p, "bucket", touched)
            if pruned is not None:
                return pruned
        # an empty batch touches nothing: read nothing rather than
        # lean on isin([]) semantics
        index = spark.read.parquet(p)
        return index.filter(F.col("bucket").isin(touched)) if touched else index.limit(0)

    def compact(
        self,
        spark,
        files_per_table: int | None = None,
        n_buckets: int | None = None,
    ) -> dict:
        """Small-files maintenance: every micro-batch appends one
        file set per store table, so a week of 30 s batches is ~20k
        tiny files per table — at that point directory listing and
        per-file open overhead dominate every screening join. Rewrite
        each table into ~128 MB files (or exactly ``files_per_table``)
        and swap the directory in. Returns
        ``{table: (files_before, files_after)}``. The index keeps its
        bucket partitioning; ``n_buckets`` re-buckets it first (the
        scale lever that keeps per-batch screen IO bounded as the
        index grows), committed together with the new ``_PARAMS``.

        Run while the stream is STOPPED — the store is single-writer
        and compaction is the maintenance-window kind of write. At
        100 TB the same logic targets a transactional format's
        OPTIMIZE/rewrite_data_files instead."""
        self._heal()
        params = self._params()
        if n_buckets is not None and n_buckets != params["n_buckets"]:
            index = self._path(self.INDEX)
            lives = []
            if os.path.exists(index):
                tmp = store.staging(index)
                (
                    spark.read.parquet(index)
                    .drop("bucket")
                    .withColumn("bucket", _bucket_expr(list(self.KEY_COLS), n_buckets))
                    .repartition("bucket")
                    .write.partitionBy("bucket")
                    .mode("overwrite")
                    .parquet(tmp)
                )
                lives = [index]
            store.swap_all(
                self._path("_REBUILD"),
                lives,
                {**params, "n_buckets": n_buckets},
                self._publish_params,
            )
        return _tables_compact(
            spark,
            {n: self._path(n) for n in self.TABLES},
            files_per_table,
            partitioned={self.INDEX: ["bucket"]},
        )

    def process(self, batch: DataFrame, batch_id: int) -> None:
        if guard_batch_watermark(self._last_batch_id(), batch_id, self.WHAT):
            return  # at-least-once re-delivery
        self._heal()
        touched = self._admit(batch, int(self._params()["n_buckets"]))
        # refresh the touched buckets' manifest entries (relists only
        # the dirs this append wrote) BEFORE the watermark, so a
        # replay after a crash relists the same dirs and re-covers any
        # unmanifested files
        _manifest_update(self._path(self.INDEX), "bucket", touched)
        store.commit_watermark(self.root, batch_id)


class NearDupAdmissionSink(_AdmissionSink):
    """foreachBatch body that keeps a corpus NEAR-dup-free at ingest —
    the streaming composition of ``functions.dedup.near_dup_ingest``
    over a persistent LSH band store:

    - each micro-batch is screened against the stored band table —
      the index is directory-partitioned on ``bucket =
      pmod(xxhash64(band, bhash), n_buckets)``, pruned to the
      batch's touched buckets, and STREAMED against the broadcast
      batch band rows (never shuffled or sorted; index bytes read
      per batch ≤ min(#batch-bands, n_buckets) × bucket_size, which
      ``compact(n_buckets=...)`` re-bucketing keeps ∝ batch as the
      index grows — the digest sink's measured cost model, see
      ``DigestAdmissionSink``) — and against itself (intra-batch
      pairs admit one representative);
    - admitted docs append to ``<root>/corpus``, their band rows to
      ``<root>/bands`` (keeping the index current for the next
      batch), and candidate pairs to ``<root>/candidates`` as the
      audit trail for exact downstream verification.

    Replay and maintenance: ``_AdmissionSink``. At scale the three
    appends target a transactional table format (Delta/Iceberg) where
    they commit atomically — same plan, different committer.

    Attach with ``stream.writeStream.foreachBatch(sink.process)``.
    """

    INDEX, KEY_COLS = "bands", ("band", "bhash")
    TABLES = ("corpus", "bands", "candidates")
    WHAT = "band store"

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        num_hashes: int = 64,
        bands: int = 16,
        shingle_k: int = 5,
        n_buckets: int = 64,
    ):
        self.root = root
        self.id_col, self.text_col = id_col, text_col
        self.num_hashes, self.bands, self.shingle_k = num_hashes, bands, shingle_k
        # creation default only — a live store's _PARAMS wins
        self.n_buckets = n_buckets

    def _index_schema(self, batch: DataFrame):
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        # the id field's type is DERIVED from the incoming batch so
        # non-long doc ids (string/uuid) union consistently with the
        # intra-batch candidate rows
        return StructType(
            [
                StructField(self.id_col, batch.schema[self.id_col].dataType),
                StructField("band", IntegerType()),
                StructField("bhash", LongType()),
            ]
        )

    def _admit(self, batch: DataFrame, nb: int) -> list[int]:
        from tidb_cdc_spark.functions.dedup import (
            _materialize,
            minhash_band_rows,
            near_dup_ingest,
        )

        spark = batch.sparkSession
        # the batch's band rows are computed ONCE here (persisted) and
        # shared with near_dup_ingest — they drive both the
        # touched-bucket partition filter and the screening joins
        batch_bands = _materialize(
            minhash_band_rows(
                batch,
                self.id_col,
                self.text_col,
                self.num_hashes,
                self.bands,
                self.shingle_k,
            )
        )
        # bounded driver collect: ≤ n_buckets small ints
        touched = [
            r[0]
            for r in batch_bands.select(
                _bucket_expr(list(self.KEY_COLS), nb).alias("_b")
            )
            .distinct()
            .collect()
        ]
        clean, candidates, new_bands = near_dup_ingest(
            batch,
            self._index_scan(spark, batch, touched),
            self.id_col,
            self.text_col,
            self.num_hashes,
            self.bands,
            self.shingle_k,
            batch_bands=batch_bands,
        )
        # clean feeds two appends (corpus + bands); cache so the
        # screening joins run once, not once per sink
        clean = clean.persist()
        try:
            clean.write.mode("append").parquet(self._path("corpus"))
            (
                new_bands.withColumn(
                    "bucket", _bucket_expr(list(self.KEY_COLS), nb)
                )
                # cluster on the partition key before the append —
                # ≤1 file per touched bucket per batch (see the
                # digest sink's note); band rows are 24 B each
                .repartition("bucket")
                .write.partitionBy("bucket")
                .mode("append")
                .parquet(self._path("bands"))
            )
            candidates.write.mode("append").parquet(self._path("candidates"))
        finally:
            clean.unpersist()
        return touched


class DigestAdmissionSink(_AdmissionSink):
    """foreachBatch body for content-addressable EXACT dedup at
    ingest — the media twin of ``NearDupAdmissionSink``: admit only
    rows whose payload digest has never been seen, the pass a
    crawl's media fetcher runs so the corpus never stores the same
    bytes twice (the multimodal batch form is
    ``queries/media.py::multimodal_dedup_audit``).

    - digest = ``unhex(sha2(payload, 256))`` — JVM-side codegen on
      the binary column, no Python anywhere in the sink; stored as
      BINARY so the index really is 32 B + id per unique payload,
      ~millions of times smaller than the media it stands for;
    - intra-batch: one representative per digest (min id — arrival
      order within a batch is not meaningful);
    - cross-batch: the index is directory-partitioned on
      ``bucket = pmod(xxhash64(digest), n_buckets)`` and the screen
      is two BROADCAST joins around it — ``seen = index ⋉ batch``
      (index STREAMED against the broadcast batch digests, pruned to
      the batch's touched buckets by a static partition filter) then
      ``admitted = batch ▷ seen`` (anti against the ≤batch-sized
      ``seen``). The index is never shuffled, never sorted; bytes
      read per batch ≤ min(|batch|, n_buckets) × bucket_size, which
      ``compact(n_buckets=...)`` re-bucketing keeps ∝ batch as the
      index grows. Measured (tools/stateful_width_rehearsal.py
      ``digestscale`` + NOTES r12, index 4,000×→40,000× the batch):
      10× index growth → 1.05× per-batch in the pruned regime
      (n_buckets > batch) and 1.32× at the default n_buckets=64
      (where the growing term is the shuffle-free scan itself).
      When |batch| ≥ n_buckets the screen degrades to one full
      index SCAN per batch — still shuffle-free. Size n_buckets for
      ~128 MB buckets: on a plain filesystem per-directory
      listing/commit costs beat pruning gains well before that
      (measured: 10× the directories cost 1.71× at an 800 MB
      index); a manifest-based table format removes that term;
    - admitted rows append to ``<root>/corpus`` unchanged (the
      screening digest travels in an internal ``_digest`` column
      that is dropped before the write — incoming columns, including
      any upstream ``digest`` metadata, pass through untouched),
      and (digest, id, bucket) rows append to ``<root>/digests``.

    Replay and maintenance: ``_AdmissionSink``. The corpus is
    appended before the index on purpose: indexing first would make a
    replay SCREEN OUT rows the corpus never received."""

    INDEX, KEY_COLS = "digests", ("digest",)
    TABLES = ("corpus", "digests")
    WHAT = "digest store"

    def __init__(
        self,
        root: str,
        id_col: str = "media_id",
        payload_col: str = "payload",
        n_buckets: int = 64,
    ):
        self.root = root
        self.id_col, self.payload_col = id_col, payload_col
        self.n_buckets = n_buckets  # creation default; _PARAMS wins

    def _index_schema(self, batch: DataFrame):
        from pyspark.sql.types import BinaryType, StructField, StructType

        return StructType(
            [
                StructField("digest", BinaryType()),
                StructField(self.id_col, batch.schema[self.id_col].dataType),
            ]
        )

    def _admit(self, batch: DataFrame, nb: int) -> list[int]:
        from pyspark.sql.window import Window

        # the pass-through promise ("incoming columns survive
        # untouched") requires the internal working columns to be
        # collision-free — overwriting a user column and dropping it
        # before the corpus append would silently lose data
        clash = {"_digest", "_rn", "_bucket"} & set(batch.columns)
        if clash:
            raise ValueError(
                f"DigestAdmissionSink reserves internal column names "
                f"{sorted(clash)}; rename them in the incoming batch"
            )
        spark = batch.sparkSession
        # internal _-prefixed columns (sibling-sink convention): the
        # user's own columns — including any upstream 'digest'
        # metadata — pass through to the corpus untouched
        digested = batch.withColumn(
            "_digest", F.unhex(F.sha2(F.col(self.payload_col), 256))
        )
        # intra-batch representative: min id per digest (deterministic
        # under replay, unlike arrival order)
        rep = (
            digested.withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("_digest").orderBy(self.id_col)
                ),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn("_bucket", _bucket_expr(["_digest"], nb))
            .persist()
        )
        try:
            # bounded driver collect: ≤ n_buckets small ints — the
            # static partition filter that prunes the index scan to
            # the buckets this batch can possibly hit
            touched = [
                r[0] for r in rep.select("_bucket").distinct().collect()
            ]
            index = self._index_scan(spark, batch, touched).select(
                F.col("digest").alias("_digest")
            )
            # screen = two broadcast joins around the STREAMED index:
            # the index is scanned (pruned), never shuffled or sorted.
            # ``seen`` (≤ batch size) is persisted so the index scan
            # runs once even though ``admitted`` evaluates per append.
            # No distinct over the index: it is duplicate-free by
            # construction and semi-join semantics ignore right dups.
            seen = index.join(
                F.broadcast(rep.select("_digest")), "_digest", "left_semi"
            ).persist()
            try:
                admitted = rep.join(
                    F.broadcast(seen), on="_digest", how="left_anti"
                )
                admitted.drop("_digest", "_bucket").write.mode(
                    "append"
                ).parquet(self._path("corpus"))
                (
                    admitted.select(
                        F.col("_digest").alias("digest"),
                        self.id_col,
                        F.col("_bucket").alias("bucket"),
                    )
                    # cluster on the partition key BEFORE the dynamic-
                    # partition append: without this every task writes
                    # a sliver into every touched bucket (tasks ×
                    # buckets tiny files per batch — measured 3-5 s of
                    # the old per-batch cost); with it, ≤1 file per
                    # touched bucket per batch. The shuffled rows are
                    # the admitted 40 B index entries, not payloads.
                    .repartition("bucket")
                    .write.partitionBy("bucket")
                    .mode("append")
                    .parquet(self._path("digests"))
                )
            finally:
                seen.unpersist()
        finally:
            rep.unpersist()
        return touched


class PhashAdmissionSink(_AdmissionSink):
    """foreachBatch body for PERCEPTUAL near-dup admission of media —
    the fuzzy twin of ``DigestAdmissionSink`` exactly as
    ``NearDupAdmissionSink`` is the fuzzy twin of exact text dedup:
    admit only media whose perceptual hash has no stored neighbor
    within ``max_hamming`` bits, the pass an image crawl runs AFTER
    exact byte dedup (a re-encoded / brightness-shifted copy has new
    bytes but the same aHash; the batch form is
    ``queries/media.py::multimodal_phash_audit``).

    - hashes come from the REAL pixel path (``functions/media_hash.
      perceptual_hashes`` — Arrow-batched decode, 24 B output rows;
      payload bytes never reach a join);
    - the persisted index ``<root>/phashes`` holds the Manku
      permuted-table keys of admitted hashes ((id, sh, tbl, key) —
      ``functions/dedup.manku_table_keys``, the same pigeonhole
      construction as the batch pair join), bucket-partitioned on
      ``pmod(xxhash64(tbl, key), n_buckets)`` with the digest sink's
      screen shape: the index is STREAMED against the broadcast
      batch keys and pruned to touched buckets — never shuffled,
      never sorted (cost model measured in NOTES r12);
    - candidates agreeing on any table key are verified with the
      EXACT Hamming distance (JVM ``bit_count(a ^ b)``) before
      rejection — banding only generates candidates, never decides;
    - intra-batch: near-dup pairs within the batch admit the
      smallest id (same conservative chain rule as
      ``near_dup_ingest`` — C colliding only with rejected B is
      still rejected);
    - rows whose payload has no available pixel path (NULL hash)
      are ADMITTED unscreened and not indexed: no pixel evidence,
      no perceptual claim (route them through
      ``DigestAdmissionSink`` for exact dedup). The pixel boundary
      is ``functions/media_decode.decode_pixels``: pure-Python REAL
      pixels for BMP, the full PNG envelope, GIF, sequential AND
      progressive JPEG (any integer-ratio subsampling), and
      lossless WebP — so all of those are screened everywhere; the
      remaining codec territory (lossy VP8/H.264/...) gets REAL
      pixels via the guarded PIL branch wherever a codec library is
      importable — a decode fleet with PIL installed screens those
      too with no sink change.

    ``_PARAMS`` pins ``n_buckets`` AND the key layout
    (``blocks``/``max_hamming``/``hash_col``): a restart with a
    different layout would probe incompatible table keys, so a
    mismatch raises instead of silently admitting everything.
    Replay and maintenance: ``_AdmissionSink``."""

    INDEX, KEY_COLS = "phashes", ("tbl", "key")
    TABLES = ("corpus", "phashes")
    PINNED = ("blocks", "max_hamming", "hash_col")
    WHAT = "phash store"

    def __init__(
        self,
        root: str,
        id_col: str = "media_id",
        payload_col: str = "payload",
        hash_col: str = "ahash",
        max_hamming: int = 3,
        blocks: int = 6,
        n_buckets: int = 64,
    ):
        self.root = root
        self.id_col, self.payload_col = id_col, payload_col
        self.hash_col = hash_col
        self.max_hamming, self.blocks = max_hamming, blocks
        self.n_buckets = n_buckets  # creation default; _PARAMS wins

    def _index_schema(self, batch: DataFrame):
        from pyspark.sql.types import LongType, StructField, StructType

        return StructType(
            [
                StructField(self.id_col, batch.schema[self.id_col].dataType),
                StructField("sh", LongType()),
                StructField("tbl", LongType()),
                StructField("key", LongType()),
            ]
        )

    def _admit(self, batch: DataFrame, nb: int) -> list[int]:
        from tidb_cdc_spark.functions.dedup import (
            manku_table_keys,
            simhash_pairs_from_sigs,
        )
        from tidb_cdc_spark.functions.media_hash import perceptual_hashes

        spark = batch.sparkSession
        # slim (id, hash) rows off the real pixel path; NULL hashes
        # (no pixel evidence) bypass the screen entirely
        hashes = perceptual_hashes(batch, self.id_col, self.payload_col)
        sig = hashes.filter(F.col(self.hash_col).isNotNull()).select(
            F.col(self.id_col).alias("_id"),
            F.col(self.hash_col).alias("_sh"),
        )
        # one exploded key pass (persisted: probe filter, store join,
        # intra-batch pairs, and the index append all consume it)
        keyed = manku_table_keys(
            sig, max_hamming=self.max_hamming, blocks=self.blocks
        ).withColumn("_bucket", _bucket_expr(["_table", "_key"], nb)).persist()
        try:
            touched = [
                r[0] for r in keyed.select("_bucket").distinct().collect()
            ]
            index = self._index_scan(spark, batch, touched)
            # cross-batch candidates: index STREAMED against the
            # broadcast batch keys; exact Hamming verifies every
            # candidate — banding generates, bit_count decides
            cross = (
                index.join(
                    F.broadcast(
                        keyed.select(
                            F.col("_table").alias("tbl"),
                            F.col("_key").alias("key"),
                            "_id",
                            "_sh",
                        )
                    ),
                    ["tbl", "key"],
                )
                .filter(
                    F.bit_count(F.col("sh").bitwiseXOR(F.col("_sh")))
                    <= self.max_hamming
                )
                .select("_id")
                .distinct()
            )
            # intra-batch: smallest id per near-dup family admitted
            # (conservative chain rule — see near_dup_ingest)
            intra = (
                simhash_pairs_from_sigs(
                    sig,
                    max_hamming=self.max_hamming,
                    blocks=self.blocks,
                    max_bucket_size=None,
                )
                .select(F.col("id_b").alias("_id"))
                .distinct()
            )
            rejected = cross.unionByName(intra).distinct().persist()
            try:
                admitted = batch.join(
                    F.broadcast(
                        rejected.select(F.col("_id").alias(self.id_col))
                    ),
                    self.id_col,
                    "left_anti",
                ).persist()
                try:
                    admitted.write.mode("append").parquet(
                        self._path("corpus")
                    )
                    (
                        keyed.join(
                            F.broadcast(rejected), "_id", "left_anti"
                        )
                        .select(
                            F.col("_id").alias(self.id_col),
                            F.col("_sh").alias("sh"),
                            F.col("_table").alias("tbl"),
                            F.col("_key").alias("key"),
                            F.col("_bucket").alias("bucket"),
                        )
                        .repartition("bucket")
                        .write.partitionBy("bucket")
                        .mode("append")
                        .parquet(self._path("phashes"))
                    )
                finally:
                    admitted.unpersist()
            finally:
                rejected.unpersist()
        finally:
            keyed.unpersist()
        return touched


class AudioWindowAdmissionSink(_AdmissionSink):
    """foreachBatch body for TRIM-ROBUST audio admission — the
    ingest twin of ``multimodal_audio_trim_audit`` (its batch form),
    closing the transform gap the other two media admission passes
    leave open: ``DigestAdmissionSink`` catches byte-identical
    re-uploads, a clip-fingerprint screen would catch regained
    copies, but a copy TRIMMED by whole windows moves every
    clip-level frame boundary — only the per-window inverted index
    catches it. Admit a clip only if it shares fewer than
    ``min_shared_windows`` DISTINCT window hashes with every stored
    clip (the same containment test ``functions/media_hash.
    audio_near_dup_pairs`` runs in batch; reference parity:
    SURVEY §2's north-star ingest additions, not a reference op).

    - window hashes come from the REAL sample path
      (``audio_window_hashes`` — pure-Python 16-bit PCM decode in
      the Arrow pass, fixed 512-sample windows, gain-invariant
      energy fingerprints; ~20 B rows, samples never shuffle);
    - the persisted index ``<root>/windows`` holds the DISTINCT
      (id, whash) rows of admitted clips, bucket-partitioned on
      ``pmod(xxhash64(whash), n_buckets)`` with the admission
      stores' shared screen shape: touched buckets resolve to
      explicit files via the store manifest (listing-free), the
      index is STREAMED against the broadcast batch windows, never
      shuffled, never sorted;
    - cross-batch: candidates count DISTINCT shared windows per
      (new, stored) pair; ≥ ``min_shared_windows`` rejects the new
      clip. A viral window (digital silence, a jingle sting) fans
      out like a viral frame in ``video_near_dup_pairs`` — the
      batch-side cap-report (``video_frame_cap_report`` over the
      window index) is the offline quantifier; at ingest the fanout
      is bounded by batch windows × the viral hash's bucket rows,
      still shuffle-free;
    - intra-batch: near-dup pairs within the batch admit the
      smallest id (the conservative chain rule shared with
      ``near_dup_ingest``/``PhashAdmissionSink``);
    - clips with NO decodable PCM emit no windows and are ADMITTED
      unscreened and not indexed: no sample evidence, no window
      claim (route through ``DigestAdmissionSink`` for exact dedup).

    ``_PARAMS`` pins ``n_buckets`` AND the window layout
    (``window_samples`` — stored hashes are meaningless under a
    different window size) AND ``min_shared_windows`` (a restart
    with a different threshold would silently change which stored
    evidence rejects); a mismatch raises. Replay and maintenance:
    ``_AdmissionSink``."""

    INDEX, KEY_COLS = "windows", ("whash",)
    TABLES = ("corpus", "windows")
    PINNED = ("window_samples", "min_shared_windows")
    WHAT = "audio window store"

    def __init__(
        self,
        root: str,
        id_col: str = "media_id",
        payload_col: str = "payload",
        window_samples: int = 512,
        min_shared_windows: int = 4,
        n_buckets: int = 64,
    ):
        self.root = root
        self.id_col, self.payload_col = id_col, payload_col
        self.window_samples = window_samples
        self.min_shared_windows = min_shared_windows
        self.n_buckets = n_buckets  # creation default; _PARAMS wins

    def _index_schema(self, batch: DataFrame):
        from pyspark.sql.types import LongType, StructField, StructType

        return StructType(
            [
                StructField(self.id_col, batch.schema[self.id_col].dataType),
                StructField("whash", LongType()),
            ]
        )

    def _admit(self, batch: DataFrame, nb: int) -> list[int]:
        from tidb_cdc_spark.functions.media_hash import audio_window_hashes

        spark = batch.sparkSession
        # DISTINCT (id, whash) rows off the real sample path; clips
        # without decodable PCM emit no rows and bypass the screen.
        # Persisted: probe filter, store join, intra-batch join, and
        # the index append all consume it.
        wh = (
            audio_window_hashes(
                batch,
                self.id_col,
                self.payload_col,
                window_samples=self.window_samples,
            )
            .select(
                F.col(self.id_col).alias("_id"),
                F.col("whash").alias("_wh"),
            )
            .distinct()
            .withColumn("_bucket", _bucket_expr(["_wh"], nb))
            .persist()
        )
        try:
            touched = [
                r[0] for r in wh.select("_bucket").distinct().collect()
            ]
            index = self._index_scan(spark, batch, touched)
            # cross-batch: shared-window counts per (new, stored)
            # pair — index STREAMED against the broadcast batch rows
            cross = (
                index.select(
                    F.col(self.id_col).alias("_corpus_id"),
                    F.col("whash").alias("_wh"),
                )
                .join(F.broadcast(wh.select("_id", "_wh")), "_wh")
                .groupBy("_id", "_corpus_id")
                .agg(F.count(F.lit(1)).alias("_shared"))
                .filter(F.col("_shared") >= self.min_shared_windows)
                .select("_id")
                .distinct()
            )
            # intra-batch: shared-window pairs within the batch;
            # smallest id per family admitted (conservative chain)
            l = wh.select(F.col("_id").alias("id_a"), "_wh")
            r = wh.select(F.col("_id").alias("id_b"), "_wh")
            intra = (
                l.join(r, "_wh")
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("_shared"))
                .filter(F.col("_shared") >= self.min_shared_windows)
                .select(F.col("id_b").alias("_id"))
                .distinct()
            )
            rejected = cross.unionByName(intra).distinct().persist()
            try:
                admitted = batch.join(
                    F.broadcast(
                        rejected.select(F.col("_id").alias(self.id_col))
                    ),
                    self.id_col,
                    "left_anti",
                ).persist()
                try:
                    # corpus-first append order (duplication on
                    # replay, never loss)
                    admitted.write.mode("append").parquet(
                        self._path("corpus")
                    )
                    (
                        wh.join(
                            F.broadcast(rejected), "_id", "left_anti"
                        )
                        .select(
                            F.col("_id").alias(self.id_col),
                            F.col("_wh").alias("whash"),
                            F.col("_bucket").alias("bucket"),
                        )
                        .repartition("bucket")
                        .write.partitionBy("bucket")
                        .mode("append")
                        .parquet(self._path("windows"))
                    )
                finally:
                    admitted.unpersist()
            finally:
                rejected.unpersist()
        finally:
            wh.unpersist()
        return touched


class _SwapTableSink:
    """A sink whose whole state is one small table, rewritten every
    batch and swapped in with ``_BATCH`` and ``_PARAMS`` inside the
    directory (``store.py``, protocol 3): table, watermark and
    parameters commit in one rename, so a re-delivered batch is a
    true no-op. A subclass declares ``TABLE``."""

    TABLE: str

    def _live(self) -> str:
        return os.path.join(self.root, self.TABLE)

    def _last_batch_id(self) -> int | None:
        store.recover(self._live())
        return store.read_watermark(self._live())

    def read_table(self, spark) -> "DataFrame | None":
        store.recover(self._live())
        p = self._live()
        return spark.read.parquet(p) if os.path.exists(p) else None

    def _stored_params(self) -> dict:
        store.recover(self._live())
        return store.read_json(os.path.join(self._live(), "_PARAMS")) or {}

    def _check_params(self, expected: dict) -> None:
        """Raise before a merge would silently union incompatible
        state: a table built under different parameters (CMS
        depth/width/seed, PCA vector dim, HLL lgk) merges without any
        schema error but corrupts every later estimate."""
        stored = self._stored_params()
        mismatched = {
            k: (stored[k], v)
            for k, v in expected.items()
            if stored.get(k) is not None and stored[k] != v
        }
        if mismatched:
            detail = ", ".join(
                f"{k}: stored={s!r} vs sink={v!r}"
                for k, (s, v) in sorted(mismatched.items())
            )
            raise ValueError(
                f"{type(self).__name__}: persisted state at "
                f"{self._live()!r} was built with different parameters "
                f"({detail}) — merging would corrupt every later "
                "estimate; use a fresh root or matching parameters"
            )

    def _commit(self, df: DataFrame, batch_id: int, params: dict) -> None:
        tmp = store.staging(self._live())
        # ≤ a few thousand rows — one file is the right layout
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        store.commit_watermark(tmp, batch_id)
        store.atomic_write(os.path.join(tmp, "_PARAMS"), params)
        store.swap_in(tmp, self._live())


class CountMinSink(_SwapTableSink):
    """foreachBatch body maintaining a persistent Count-Min cell
    table (functions/sketch.py) over a stream — the sketch's real
    habitat: per-batch work is one combining groupBy of the BATCH
    plus a merge with a ≤ depth × width cell table, so sink state is
    CONSTANT-size no matter how many events or distinct keys flow
    through (contrast an exact streaming count, whose state grows
    with key cardinality).

    The cell table is copy-on-write (merge = union + re-sum →
    rewrite), committed by ``_SwapTableSink``. A fresh checkpoint
    against an existing root raises (``guard_batch_watermark``).

    Attach with ``stream.writeStream.foreachBatch(sink.process)``;
    query any time with ``estimates(spark, keys)`` — estimates never
    under-count, so downstream screening keeps guaranteed recall.
    """

    TABLE = "cells"

    def __init__(
        self,
        root: str,
        key_col: str,
        depth: int = 4,
        width: int = 2048,
        seed: int = 7,
    ):
        self.root = root
        self.key_col = key_col
        self.depth, self.width, self.seed = depth, width, seed

    def estimates(self, spark, keys: DataFrame) -> DataFrame:
        """``keys`` + ``cms_est`` from the current persisted table
        (0 for every key if no batch has committed yet)."""
        from tidb_cdc_spark.functions.sketch import count_min_estimates

        table = self.read_table(spark)
        if table is None:
            return keys.withColumn("cms_est", F.lit(0).cast("long"))
        return count_min_estimates(
            table, keys, self.key_col, self.depth, self.width, self.seed
        )

    def process(self, batch: DataFrame, batch_id: int) -> None:
        from tidb_cdc_spark.functions.sketch import count_min_table

        if guard_batch_watermark(self._last_batch_id(), batch_id, "CMS store"):
            return  # at-least-once re-delivery
        params = {"depth": self.depth, "width": self.width, "seed": self.seed}
        self._check_params(params)
        merged = count_min_table(
            batch, self.key_col, self.depth, self.width, self.seed
        )
        existing = self.read_table(batch.sparkSession)
        if existing is not None:
            merged = (
                merged.unionByName(existing)
                .groupBy("row", "bucket")
                .agg(F.sum("cnt").alias("cnt"))
            )
        self._commit(merged, batch_id, params)


class WinnowOverlapSink:
    """foreachBatch body that maintains a persistent winnowing
    fingerprint index (functions/winnow.py) and emits a local-overlap
    report per micro-batch — the streaming "does this new document
    quote/plagiarize anything already ingested" alert, with the
    winnowing guarantee (any shared ≥ w+k−1-token run vs the indexed
    corpus surfaces) carried over to ingest time.

    Per batch: winnow the batch docs (cost ∝ batch), then equi-join
    the batch fingerprints against the stored ``fps`` table AND the
    batch itself (intra-batch pairs reported once, smaller id as
    ``corpus_id``; a re-delivered doc_id never pairs with itself),
    with a ``max_doc_freq`` viral-fingerprint cap on the store side.
    Matches land in ``overlaps``, the batch's fingerprints in
    ``fps`` — both PARTITIONED BY batch_id and written with dynamic
    partition overwrite, so a re-delivered batch REPLACES its own
    partition instead of appending a second copy. The ``_BATCH``
    watermark is committed last (``store.py``); the store join reads
    only ``batch_id < current`` partitions, so a torn batch's own
    fingerprints never pair against its re-run, and
    ``read_overlaps`` serves only partitions at or below the
    committed watermark.

    Cost note: the store is plain per-batch parquet appends, so each
    batch re-scans the accumulated fingerprint table once (join +
    viral cap share one persisted read) — per-batch cost grows with
    corpus size. At scale the store belongs in a bucketed/
    transactional table (bucket by fp ⇒ the batch join touches only
    matching buckets) — same plan, different storage, the standing
    ingest-store note.
    """

    def __init__(
        self,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        k: int = 8,
        w: int = 4,
        max_doc_freq: int = 1000,
    ):
        self.root = root
        self.id_col, self.text_col = id_col, text_col
        self.k, self.w = k, w
        self.max_doc_freq = max_doc_freq

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _last_batch_id(self) -> int | None:
        return store.read_watermark(self.root)

    def read_overlaps(self, spark) -> "DataFrame | None":
        p = self._path("overlaps")
        wm = self._last_batch_id()
        if wm is None or not os.path.exists(p):
            return None
        # exclude any torn partition written by a batch that crashed
        # before committing its watermark (partition-pruned filter)
        return spark.read.parquet(p).filter(F.col("batch_id") <= wm)

    def process(self, batch: DataFrame, batch_id: int) -> None:
        from tidb_cdc_spark.functions.winnow import winnow_fingerprints

        if guard_batch_watermark(
            self._last_batch_id(), batch_id, "winnow store"
        ):
            return  # at-least-once re-delivery
        spark = batch.sparkSession
        # one winnow pass serves the overlap join AND the index
        # append; persisted with an explicit unpersist — a leaked
        # per-batch cache entry outlives the micro-batch (same
        # discipline as NearDupAdmissionSink)
        fps = winnow_fingerprints(
            batch, self.k, self.w, self.id_col, self.text_col
        ).persist()
        store_p = self._path("fps")
        # batch_id < current: a torn partition from a crashed run of
        # THIS batch must not join against its own re-run (it would
        # emit the intra-batch pairs a second time via the store
        # path, in both orientations)
        fp_store = (
            spark.read.parquet(store_p)
            .filter(F.col("batch_id") < batch_id)
            .drop("batch_id")
            .persist()
            if os.path.exists(store_p)
            else None
        )
        overlaps = None
        try:
            # index = capped store + the batch itself (intra-batch
            # pairs must surface — they would otherwise be missed
            # forever once both docs are indexed)
            new = fps.withColumnRenamed("doc_id", "new_id")
            parts = [
                fps.select(
                    F.col("doc_id").alias("corpus_id"),
                    "fp",
                    F.lit("batch").alias("_src"),
                )
            ]
            if fp_store is not None:
                # viral-fp cap and the join share ONE persisted read
                viral = (
                    fp_store.groupBy("fp")
                    .agg(F.count(F.lit(1)).alias("_df"))
                    .filter(F.col("_df") > self.max_doc_freq)
                    .select("fp")
                )
                parts.append(
                    fp_store.join(F.broadcast(viral), "fp", "left_anti")
                    .select(
                        F.col("doc_id").alias("corpus_id"),
                        "fp",
                        F.lit("store").alias("_src"),
                    )
                )
            index = parts[0] if len(parts) == 1 else parts[0].unionByName(
                parts[1]
            )
            # store matches: any distinct partner (a re-delivered
            # doc_id never pairs with itself); intra-batch matches:
            # report once, smaller id as corpus_id
            keep_pair = (
                (F.col("_src") == "store")
                & (F.col("corpus_id") != F.col("new_id"))
            ) | (
                (F.col("_src") == "batch")
                & (F.col("corpus_id") < F.col("new_id"))
            )
            overlaps = (
                new.join(index, "fp")
                .filter(keep_pair)
                .groupBy("new_id", "corpus_id")
                .agg(F.count(F.lit(1)).alias("shared"))
                .withColumn("batch_id", F.lit(batch_id))
                .persist()
            )
            # dynamic partition overwrite: a re-delivered batch
            # REPLACES its own partition (idempotent) instead of
            # appending a duplicate copy.  Empty frames are skipped —
            # partitionBy on zero rows leaves a _SUCCESS-only
            # directory that a later read cannot infer a schema from,
            # and an empty write has nothing to make idempotent.
            if not overlaps.isEmpty():
                (
                    overlaps.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(self._path("overlaps"))
                )
            if not fps.isEmpty():
                (
                    fps.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(store_p)
                )
        finally:
            fps.unpersist()
            if overlaps is not None:
                overlaps.unpersist()
            if fp_store is not None:
                fp_store.unpersist()
        store.commit_watermark(self.root, batch_id)


class PcaMomentSink(_SwapTableSink):
    """foreachBatch body that maintains the PCA moment table
    (functions/pca.py: n, Σx, Σxxᵀ as d²+d+1 (pos, val) scalars)
    over a vector stream — INCREMENTAL PCA with constant state:
    moments are exactly additive, so per batch the sink computes the
    batch's partial sums (one scan) and adds them into a ≤ d²+d+1-row
    cell table; ``fit(spark)`` eigendecomposes the CURRENT moments at
    any time, giving the same model a one-shot ``fit_pca`` over
    everything seen so far would (pinned by test up to float
    addition order). Committed by ``_SwapTableSink``.
    """

    TABLE = "moments"

    def __init__(self, root: str, vec_col: str = "embedding"):
        self.root = root
        self.vec_col = vec_col

    def read_moments(self, spark) -> "DataFrame | None":
        return self.read_table(spark)

    def fit(self, spark, k: int = 8):
        """PcaModel from the current persisted moments (None before
        the first NON-EMPTY batch — an empty committed batch leaves
        a zero-row moment table, which has no model)."""
        from tidb_cdc_spark.functions.pca import _model_from_moments

        table = self.read_moments(spark)
        if table is None:
            return None
        vals = {r["pos"]: r["val"] for r in table.collect()}
        if not vals:
            return None
        return _model_from_moments(vals, k)

    def process(self, batch: DataFrame, batch_id: int) -> None:
        import math

        from tidb_cdc_spark.functions.pca import moment_partials

        if guard_batch_watermark(
            self._last_batch_id(), batch_id, "PCA moment store"
        ):
            return  # at-least-once re-delivery
        # dim compat: moments of different vector dims union without
        # any schema error (both are (pos, val)) but the sums are
        # garbage — refuse the merge early. dim comes from the moment
        # table itself (max pos = d²+d, and the partials are cached so
        # the probe costs no extra pass over the batch); an empty
        # batch has no dim and the stored value carries forward.
        partials = moment_partials(batch, self.vec_col).persist()
        try:
            m = partials.agg(F.max("pos")).collect()[0][0]
            dim = (
                None
                if m is None
                else int((math.isqrt(4 * int(m) + 1) - 1) // 2)
            )
            if dim is not None:
                self._check_params({"dim": dim})
            params = {"dim": dim if dim is not None else self._stored_params().get("dim")}
            merged = partials
            existing = self.read_table(batch.sparkSession)
            if existing is not None:
                merged = (
                    merged.unionByName(existing)
                    .groupBy("pos")
                    .agg(F.sum("val").alias("val"))
                )
            self._commit(merged, batch_id, params)
        finally:
            partials.unpersist()


class HllDistinctSink(_SwapTableSink):
    """foreachBatch body maintaining per-group DataSketches HLL
    sketches over a stream — unbounded distinct counting ("unique
    users per event type, ever") with CONSTANT state per group:
    exact streaming distinct needs state ∝ #distinct keys (unbounded
    on an unbounded stream); the sketch is ~2^lgk bytes per group
    forever, and per-batch work is one combining ``hll_sketch_agg``
    of the BATCH plus one ``hll_union_agg`` merge with the stored
    table (functions/sketch.py HLL surface).

    Committed by ``_SwapTableSink``, whose ``_PARAMS`` guard matters
    here: merging sketches built at a different lgk or over a
    different key column would not error — DataSketches refuses
    mismatched lgk only sometimes, and a different key silently
    produces a union of different universes.
    """

    TABLE = "sketches"

    def __init__(
        self,
        root: str,
        key_col: str,
        group_cols: list[str],
        lgk: int = 12,
    ):
        self.root = root
        self.key_col = key_col
        self.group_cols = list(group_cols)
        self.lgk = lgk

    def estimates(self, spark) -> "DataFrame | None":
        """(group cols…, distinct_est) from the current persisted
        sketches (None before the first committed batch)."""
        from tidb_cdc_spark.functions.sketch import hll_distinct_estimates

        table = self.read_table(spark)
        if table is None:
            return None
        return hll_distinct_estimates(table, self.group_cols)

    def process(self, batch: DataFrame, batch_id: int) -> None:
        from tidb_cdc_spark.functions.sketch import (
            hll_distinct_table,
            hll_merge_tables,
        )

        if guard_batch_watermark(
            self._last_batch_id(), batch_id, "HLL store"
        ):
            return  # at-least-once re-delivery
        params = {
            "lgk": self.lgk,
            "key_col": self.key_col,
            "group_cols": self.group_cols,
        }
        self._check_params(params)
        merged = hll_distinct_table(
            batch, self.key_col, self.group_cols, self.lgk
        )
        existing = self.read_table(batch.sparkSession)
        if existing is not None:
            merged = hll_merge_tables(merged, existing, self.group_cols)
        self._commit(merged, batch_id, params)


class IvfIndexSink:
    """foreachBatch body that maintains a persisted IVF
    (inverted-file) ANN index under continuous embedding ingest —
    the streaming twin of ``functions.similarity.ivf_write_index``,
    and the missing lifecycle piece of the ANN family: a production
    embedding index is not built once, it is APPENDED TO as the
    corpus grows, and ``functions.similarity.ivf_probe_index`` must
    serve queries against the live index between appends.

    The on-disk layout IS the batch path's (``<root>/index``
    partitioned by ``cell`` + ``<root>/centroids``), so the probe
    side needs zero code changes — partition pruning to probed
    cells, broadcast tagged queries, exact cosine rerank, all
    inherited.

    - centroids are fit ONCE, on the first non-empty batch (seeded
      sampled KMeans — the sampled-fit story of the whole ANN
      family: at 100 TB nobody k-means the full corpus; a first
      ingest batch IS a sample of the stream). ``k`` is capped by
      the fit batch's row count; the fitted value is recorded in
      ``_PARAMS`` and is authoritative over the constructor default
      on restart. Centroids stay FIXED across appends — cell
      boundaries must not move under a partitioned index (a refit
      re-buckets everything; that is ``rebuild()``, the journaled
      stream-stopped maintenance event below, deliberately not a
      per-batch one);
    - per-batch work: ONE Arrow pass assigning each vector to its
      nearest centroid (broadcast k×d matrix, the batch path's
      ``_probe_cells_udf`` with n_probe=1) and ONE append of
      (id, vec, cell) clustered on ``cell`` — ≤1 file per touched
      cell per batch. Cost is ∝ batch by construction: the sink
      never reads the store (append-only ingest has no screen —
      compose with ``DigestAdmissionSink`` upstream when ingest
      must also dedup);
    - replay: the ``_BATCH`` watermark is committed last
      (``store.py``), so a crash after the index append but before
      it makes the re-delivered batch append the same vectors again
      (duplicate (vec_id, cell) rows — duplication, never loss).
      Both read surfaces heal it: ``search()`` dedupes candidates on
      vec_id over the PRUNED probed-cell scan (fixed centroids ⇒
      torn duplicates are bit-identical rows, so keep-any is exact;
      cost ∝ probed cells, not the corpus), and ``compact()`` drops
      duplicate vec_ids during the rewrite — the permanent heal;
    - ``compact()`` collapses the per-batch file fragments per cell
      and dedupes vec_id as above.
    """

    def __init__(
        self,
        root: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_cells: int = 16,
        seed: int = 7,
    ):
        self.root = root
        self.id_col, self.vec_col = id_col, vec_col
        # creation default only — a live store's _PARAMS wins
        self.n_cells, self.seed = n_cells, seed
        self._centers = None  # driver cache: k×d, metadata-sized

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _last_batch_id(self) -> int | None:
        return store.read_watermark(self.root)

    def _heal(self) -> None:
        """Finish a committed rebuild, roll back torn compactions and
        uncommitted rebuild staging."""
        if store.roll_forward(self._path("_REBUILD"), self._publish_rebuild):
            self._centers = None
        for name in ("index", "centroids"):
            store.recover(self._path(name))

    def _publish_rebuild(self, params: dict) -> None:
        store.atomic_write(self._path("_PARAMS"), params)
        _manifest_rebuild(self._path("index"), "cell")

    def _load_centers(self, spark):
        """k×d numpy centroid matrix (driver cache — k rows of
        metadata, never corpus-sized), or None before the fit."""
        import numpy as np

        if self._centers is None and os.path.exists(self._path("centroids")):
            rows = (
                spark.read.parquet(self._path("centroids"))
                .orderBy("cell")
                .collect()
            )
            self._centers = np.stack([np.asarray(r.center) for r in rows])
        return self._centers

    def _fit_centroids(self, spark, batch: DataFrame) -> None:
        """Seeded KMeans on the first non-empty batch; k capped by
        the batch size. Writes ``<root>/centroids`` then _PARAMS —
        a crash in between refits on the next batch (the layout is
        authoritative only once _PARAMS exists)."""
        k = self._kmeans_fit_write(
            spark, batch, self.n_cells, self.seed, self._path("centroids")
        )
        store.atomic_write(
            self._path("_PARAMS"),
            {"layout": "ivf", "n_cells": k, "seed": self.seed},
        )
        self._centers = None  # reload from the authoritative store

    def _kmeans_fit_write(
        self, spark, source: DataFrame, n_cells: int, seed: int, out: str
    ) -> int:
        """Seeded KMeans over ``source``'s vectors → centroid table
        at ``out``; returns the fitted k (capped by row count).
        Shared by the first-batch fit and ``rebuild()``."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        from tidb_cdc_spark.functions.similarity import as_double

        c = source.select(
            as_double(F.col(self.vec_col)).alias("_v")
        ).withColumn("_fv", array_to_vector(F.col("_v")))
        k = min(n_cells, c.count())
        km = KMeans(k=k, seed=seed, maxIter=10, featuresCol="_fv").fit(c)
        centers = [
            (i, [float(x) for x in ctr])
            for i, ctr in enumerate(km.clusterCenters())
        ]
        spark.createDataFrame(
            centers, "cell int, center array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(out)
        return k

    def search(
        self, spark, queries: DataFrame, k: int, n_probe: int = 4
    ) -> DataFrame:
        """Top-k over the live index — ``ivf_probe_index`` verbatim
        (same layout, same plan: partition-pruned scan, broadcast
        tagged queries, exact rerank)."""
        from tidb_cdc_spark.functions.similarity import ivf_probe_index

        self._heal()
        return ivf_probe_index(
            spark,
            self.root,
            queries,
            k,
            n_probe=n_probe,
            id_col=self.id_col,
            vec_col=self.vec_col,
            # heal torn-append duplicates (see class docstring) so a
            # replayed batch can never consume top-k slots twice
            dedupe_ids=True,
        )

    def read_index(self, spark) -> DataFrame | None:
        self._heal()
        p = self._path("index")
        return spark.read.parquet(p) if os.path.exists(p) else None

    def compact(self, spark, files_per_table: int | None = None) -> dict:
        """Collapse per-batch appends to ~one file per cell (stream
        stopped — same operational contract as the admission sinks'
        ``compact``)."""
        self._heal()
        return _tables_compact(
            spark,
            {"index": self._path("index")},
            files_per_table,
            partitioned={"index": ["cell"]},
            dedupe={"index": [self.id_col]},
        )

    def rebuild(
        self,
        spark,
        n_cells: int | None = None,
        seed: int | None = None,
        max_fit_rows: int = 100_000,
    ) -> dict:
        """Refit centroids on the CURRENT corpus and re-bucket the
        whole index — the maintenance event for centroid drift the
        class docstring reserves (fixed centroids keep per-batch
        appends cheap; an index whose ingest distribution has moved
        probes ever-fuller far cells until recall or cost degrades).
        Stream stopped, like ``compact()``.

        Mechanics: dedupe-read the live index (the torn-append heal
        is folded into the rewrite), seeded KMeans on a seeded
        SAMPLE capped at ``max_fit_rows`` (the family's sampled-fit
        story — nobody k-means 100 TB; the cap makes rebuild cost
        ∝ corpus for the assignment pass and O(sample) for the fit),
        one Arrow pass assigning every vector to its new cell, both
        new tables staged, then one ``store.swap_all`` with the new
        ``_PARAMS`` (bumped ``version``) and a manifest rebuild. A
        crash before its journal leaves the old generation; after
        it, the next read, write or rebuild completes the new one —
        never index cells from one generation under the other's
        centroids. ``n_cells`` defaults to the constructor's (a
        rebuild is the moment a first-batch-capped k can finally
        reach it).

        Cost at scale: fit O(sample × k × iters); assignment one
        broadcast-k×d Arrow pass over the corpus; the write is the
        same cell-clustered dynamic-partition write the batch layout
        uses — ~one file per cell. Measured locally (local[32],
        cold): ~9 s for a 5k × 16-dim index at k=8 — dominated by
        the KMeans fit + the two Spark writes' fixed overheads, with
        the data-dependent part linear in corpus rows."""
        import numpy as np

        from tidb_cdc_spark.functions.similarity import (
            _probe_cells_udf,
            as_double,
        )

        self._heal()
        params = store.read_json(self._path("_PARAMS"))
        if params is None or not os.path.exists(self._path("index")):
            raise ValueError(
                "rebuild() needs a live fitted index "
                f"(none at {self.root})"
            )
        k_req = int(n_cells if n_cells is not None else self.n_cells)
        fseed = int(seed if seed is not None else params.get("seed", self.seed))
        src = (
            spark.read.parquet(self._path("index"))
            .select(
                self.id_col,
                as_double(F.col(self.vec_col)).alias(self.vec_col),
            )
            .dropDuplicates([self.id_col])
        )
        total = src.count()
        frac = min(1.0, max_fit_rows / max(total, 1))
        fit_src = src.sample(frac, fseed) if frac < 1.0 else src
        cent_tmp = store.staging(self._path("centroids"))
        idx_tmp = store.staging(self._path("index"))
        k = self._kmeans_fit_write(spark, fit_src, k_req, fseed, cent_tmp)
        rows = spark.read.parquet(cent_tmp).orderBy("cell").collect()
        centers = np.stack([np.asarray(r.center) for r in rows])
        assign = _probe_cells_udf(centers, 1)
        (
            src.withColumn(
                "cell", F.element_at(assign(F.col(self.vec_col)), 1)
            )
            .repartition("cell")
            .write.partitionBy("cell")
            .mode("overwrite")
            .parquet(idx_tmp)
        )
        version = int(params.get("version", 1)) + 1
        store.swap_all(
            self._path("_REBUILD"),
            [self._path("index"), self._path("centroids")],
            {"layout": "ivf", "n_cells": k, "seed": fseed, "version": version},
            self._publish_rebuild,
        )
        self._centers = None
        return {"n_cells": k, "rows": total, "version": version}

    def process(self, batch: DataFrame, batch_id: int) -> None:
        from tidb_cdc_spark.functions.similarity import (
            _probe_cells_udf,
            as_double,
        )

        if guard_batch_watermark(
            self._last_batch_id(), batch_id, "IVF index"
        ):
            return  # at-least-once re-delivery
        self._heal()
        if store.read_json(self._path("_PARAMS")) is None:
            if batch.isEmpty():
                return  # nothing to fit on; watermark NOT advanced —
                # an empty batch re-delivered later is still a no-op
            self._fit_centroids(spark=batch.sparkSession, batch=batch)
        centers = self._load_centers(batch.sparkSession)
        assign = _probe_cells_udf(centers, 1)
        assigned = (
            batch.select(
                self.id_col, as_double(F.col(self.vec_col)).alias(self.vec_col)
            )
            .withColumn(
                "cell", F.element_at(assign(F.col(self.vec_col)), 1)
            )
            # cluster on the partition key before the dynamic-
            # partition append: ≤1 file per touched cell per batch
            # (the digest sink's measured small-files discipline)
            .repartition("cell")
            # persisted: the append AND the touched-cell collect for
            # the manifest refresh both consume it — without this the
            # Arrow assignment pass runs twice
            .persist()
        )
        try:
            assigned.write.partitionBy("cell").mode("append").parquet(
                self._path("index")
            )
            # bounded driver collect: ≤ n_cells small ints
            touched = [
                r[0] for r in assigned.select("cell").distinct().collect()
            ]
        finally:
            assigned.unpersist()
        # touched-dirs-only manifest refresh, before the watermark —
        # search() probes read file lists from the manifest instead
        # of listing the cell directories (see tidb_cdc_spark.manifest)
        _manifest_update(self._path("index"), "cell", touched)
        store.commit_watermark(self.root, batch_id)
