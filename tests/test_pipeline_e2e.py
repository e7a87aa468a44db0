"""End-to-end pipeline integration: the curation stages composed the
way a real training-data run chains them — quality filter → exact
dedup → budget selection → chunking → partitioned write — plus a
CDC snapshot feeding the curation surface. Each stage's output
is the next stage's input; the assertions pin row conservation and
contract compatibility ACROSS modules (unit tests cover each stage
alone)."""

import json
import os

from pyspark.sql import functions as F

from tidb_cdc_spark.functions import chunking as CH
from tidb_cdc_spark.functions import dedup as DD
from tidb_cdc_spark.functions import io as IO
from tidb_cdc_spark.functions import selection as SEL
from tidb_cdc_spark.functions import text as T
from tidb_cdc_spark.session import read_table

SF = "/root/testdata/sf0.001"


class TestBatchCurationChain:
    def test_filter_dedup_select_chunk_write(self, spark, tmp_path):
        docs = read_table(spark, SF, "documents")
        n0 = docs.count()

        # 1. cheap quality gate (symbol ratio in µ-units)
        scored = docs.withColumn(
            "quality_ppm",
            F.lit(SEL.PPM)
            - F.expr(
                f"(length(regexp_replace(text, '[A-Za-z0-9\\\\s]', '')) * {SEL.PPM}L)"
                " div greatest(length(text), 1)"
            ),
        )
        kept = scored.filter(F.col("quality_ppm") >= 900_000)
        n1 = kept.count()
        assert 0 < n1 <= n0

        # 2. exact dedup keeps one representative per fingerprint
        # (exact_dedup emits (doc_id, n_dups) keepers — join back to
        # recover the document columns for the downstream stages)
        keepers = DD.exact_dedup(kept, id_col="doc_id", text_col="text")
        deduped = kept.join(keepers.select("doc_id"), "doc_id")
        n2 = deduped.count()
        assert 0 < n2 <= n1

        # 3. budget selection over the deduped survivors
        sel_in = deduped.select(
            "doc_id",
            "source",
            "quality_ppm",
            T.token_count(F.col("text")).cast("long").alias("n_tokens"),
        )
        selected = SEL.budget_head(sel_in).filter("selected")
        n3 = selected.count()
        assert 0 < n3 < n2  # half-token budget must cut something
        tot = sel_in.agg(F.sum("n_tokens")).first()[0]
        spent = selected.agg(F.sum("n_tokens")).first()[0]
        assert spent * 2 <= tot

        # 4. chunk the selected docs for retrieval
        chunks = CH.chunk_spans(selected, window=32, stride=24)
        assert chunks.filter("chunk_tokens <= 0").count() == 0
        assert chunks.select("doc_id").distinct().count() == selected.filter(
            "n_tokens > 0"
        ).count()

        # 5. ship it partitioned by source, audited
        out = str(tmp_path / "shipped")
        IO.write_corpus(selected, out, partition_by=("source",))
        stats = IO.corpus_layout_stats(spark, out).collect()
        assert sum(r.n_rows for r in stats) == n3

    def test_dedup_representative_consistency(self, spark):
        """exact_dedup's keeper must agree with the cluster
        representative the CC path elects (min doc_id)."""
        docs = read_table(spark, SF, "documents").limit(200)
        two = docs.unionAll(
            docs.limit(50).withColumn("doc_id", F.col("doc_id") + 1_000_000)
        )
        keepers = DD.exact_dedup(two, id_col="doc_id", text_col="text")
        # every duplicated text keeps exactly its min-id copy
        assert keepers.filter(F.col("doc_id") >= 1_000_000).count() == 0
        assert keepers.count() == 200


class TestCdcFeedsCurationSurface:
    """The "CDC feeds the curation surface" story
    (SURVEY §0) as ONE executed test instead of prose — file-stream
    Maxwell events carrying document payloads → Connector →
    ParquetSnapshotSink → corpus_curation_provenance over the
    CDC-maintained snapshot EQUALS the batch run over the same
    final table state (inserts + an update + a delete applied)."""

    def test_provenance_over_cdc_snapshot_equals_batch(self, spark, tmp_path):
        from tidb_cdc_spark.cdc.spec import ColumnSpec, TableSpec
        from tidb_cdc_spark.queries.corpus import corpus_curation_provenance
        from tidb_cdc_spark.sources import maxwell_file_stream
        from tidb_cdc_spark.streaming import (
            Connector,
            ConnectorConfig,
            ParquetSnapshotSink,
        )

        docs = [
            r.asDict()
            for r in read_table(spark, SF, "documents")
            .orderBy("doc_id")
            .limit(150)
            .collect()
        ]
        spec = TableSpec(
            database="crawl",
            table="documents",
            columns=(
                ColumnSpec("DocId", "bigint", column="doc_id", pk=True),
                ColumnSpec("Text", "string", column="text"),
                ColumnSpec("Lang", "string", column="lang"),
                ColumnSpec("Source", "string", column="source"),
                ColumnSpec("NChars", "bigint", column="n_chars"),
            ),
        )

        def msg(op, d, ts):
            return json.dumps(
                {
                    "database": "crawl",
                    "table": "documents",
                    "type": op,
                    "ts": ts,
                    "data": d,
                }
            )

        events = tmp_path / "events"
        os.makedirs(events, exist_ok=True)
        # batch 1: the initial crawl inserts
        with open(events / "b1.jsonl", "w") as f:
            f.write("\n".join(msg("insert", d, 100 + i) for i, d in enumerate(docs)))
        # batch 2: CDC churn — one doc re-crawled with new text (an
        # exact copy of another doc: the funnel must now dedup it),
        # one doc deleted (must vanish from every provenance row)
        upd = dict(docs[7])
        upd["text"] = docs[3]["text"]
        upd["n_chars"] = docs[3]["n_chars"]
        dele = dict(docs[11])
        with open(events / "b2.jsonl", "w") as f:
            f.write(msg("update", upd, 500) + "\n" + msg("delete", dele, 501))

        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        conn = Connector(
            ConnectorConfig(
                server_name="srv", checkpoint_root=str(tmp_path / "ck")
            )
        )
        conn.register(spec, [sink], source=maxwell_file_stream(spark, str(events)))
        for q in conn.start(spark, available_now=True):
            q.awaitTermination()

        snapshot = sink.read_current(spark)
        assert snapshot.count() == len(docs) - 1  # delete applied
        # the snapshot IS the curation input: write it as the
        # documents table of a scale-factor directory
        cdc_sf = str(tmp_path / "cdc_sf")
        snapshot.write.parquet(os.path.join(cdc_sf, "documents.parquet"))

        # the same final state, built batch-side
        batch_sf = str(tmp_path / "batch_sf")
        expected = [d for d in docs if d["doc_id"] != dele["doc_id"]]
        expected = [upd if d["doc_id"] == upd["doc_id"] else d for d in expected]
        spark.createDataFrame(expected).select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).write.parquet(os.path.join(batch_sf, "documents.parquet"))

        got = {
            tuple(r)
            for r in corpus_curation_provenance(spark, cdc_sf).collect()
        }
        want = {
            tuple(r)
            for r in corpus_curation_provenance(spark, batch_sf).collect()
        }
        assert got == want and len(got) == len(docs) - 1
        # and the churn is visible in the funnel itself: the
        # re-crawled doc now loses exact dedup to its copy
        outcome = {
            r.doc_id: r.outcome
            for r in corpus_curation_provenance(spark, cdc_sf).collect()
        }
        assert outcome[upd["doc_id"]] == "dropped_duplicate"
        assert dele["doc_id"] not in outcome
