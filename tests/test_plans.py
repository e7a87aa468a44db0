"""Physical-plan pinning: the scale-critical properties (broadcasts,
pushdown, shuffle counts, payload pruning) asserted explicitly —
correctness at sf0.01 plus these properties is the 100 TB design
contract."""

import pytest
from pyspark.sql import functions as F

from tidb_cdc_spark.plans import (
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    num_exchanges,
)
from tidb_cdc_spark.queries.events import events_asof_purchase_click
from tidb_cdc_spark.queries.tpch import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
    q6_forecast_revenue,
)

SF = "/root/testdata/sf0.001"


class TestJoinStrategies:
    def test_q3_broadcasts_customer(self, spark):
        assert has_broadcast_join(q3_shipping_priority(spark, SF))

    def test_q5_broadcasts_dims(self, spark):
        plan = explain_str(q5_local_supplier_volume(spark, SF))
        assert plan.count("BroadcastHashJoin") >= 3  # cust/supp/nation/region


class TestPushdown:
    def test_q6_filters_reach_scan(self, spark):
        df = q6_forecast_revenue(spark, SF)
        assert has_pushed_filters(df, "l_shipdate")
        assert has_pushed_filters(df, "l_quantity")

    def test_q1_column_pruning(self, spark):
        plan = explain_str(q1_pricing_summary(spark, SF))
        # lineitem has 11 columns; q1 needs 7 — the scan must not
        # read the join keys it doesn't use
        assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]


class TestShuffleBudget:
    def test_asof_join_single_shuffle(self, spark):
        # union-sort as-of join: exactly ONE hash exchange (the
        # window partition) — the property that beats a range join
        df = events_asof_purchase_click(spark, SF)
        # final orderBy adds a range exchange; count hash exchanges only
        plan = explain_str(df, mode="simple")
        assert plan.count("Exchange hashpartitioning") == 1

    def test_q1_two_exchanges_max(self, spark):
        # partial agg map-side, one shuffle to final agg, one range
        # exchange for the sort
        assert num_exchanges(q1_pricing_summary(spark, SF)) <= 2


class TestMultimodalPruning:
    def test_metadata_query_skips_payload(self, spark, tmp_path):
        from tidb_cdc_spark.functions.media_probe import synthesize_media

        path = str(tmp_path / "media")
        synthesize_media(spark, n=8).write.parquet(path)
        meta_only = spark.read.parquet(path).select("media_id", "kind", "mime")
        plan = explain_str(meta_only)
        read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
        assert "payload" not in read_schema  # bytes never leave the footer

    def test_frame_plan_drops_payload_before_explode_and_shuffle(self, spark):
        """The probe→frame-plan composition at corpus scale: the
        payload bytes exist only inside the probe's own mapInPandas
        output batch — the Project above it must keep ids/durations
        only, so no Generate (explode) or Exchange ever carries the
        bytes. Pinned on the declared query (the shape the frame-
        extraction fleet would join against)."""
        from tidb_cdc_spark.queries.media import multimodal_frame_plan

        plan = explain_str(multimodal_frame_plan(spark, SF))
        assert "MapInPandas" in plan  # the probe is the sanctioned path
        # walk the formatted-detail blocks: every Generate/Exchange/
        # Sort node's Input/Output columns must be payload-free — a
        # Project above the probe keeps (media_id, duration_ms) only
        blocks = plan.split("\n\n")
        checked = 0
        for b in blocks:
            head = b.splitlines()[0] if b.splitlines() else ""
            if any(n in head for n in ("Generate", "Exchange", "Sort")):
                checked += 1
                assert "payload" not in b, b
        assert checked >= 3, plan  # explode + range exchange + sort


class TestNewTpchPlans:
    def test_q7_broadcasts_all_dims(self, spark):
        from tidb_cdc_spark.queries.tpch import q7_volume_shipping

        plan = explain_str(q7_volume_shipping(spark, SF))
        # supplier + nation×2 broadcast; only lineitem→orders→customer
        # may shuffle at scale
        assert plan.count("BroadcastHashJoin") >= 3

    def test_q8_broadcasts_selective_part(self, spark):
        from tidb_cdc_spark.queries.tpch import q8_market_share

        df = q8_market_share(spark, SF)
        assert explain_str(df).count("BroadcastHashJoin") >= 4
        assert has_pushed_filters(df, "p_type")

    def test_q10_pushdown_both_scans(self, spark):
        from tidb_cdc_spark.queries.tpch import q10_returned_items

        df = q10_returned_items(spark, SF)
        assert has_pushed_filters(df, "l_returnflag")
        assert has_pushed_filters(df, "o_orderdate")

    def test_q18_aggregates_before_join(self, spark):
        from tidb_cdc_spark.queries.tpch import q18_large_volume_customers

        # the HAVING aggregate must appear BELOW the joins (smallest
        # join input): in the plan string the first HashAggregate
        # comes before the first join when reading leaves-up is not
        # directly checkable, so assert the filter on sum_qty exists
        # and the join count is right
        plan = explain_str(q18_large_volume_customers(spark, SF))
        assert "sum_qty" in plan
        assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") >= 2


class TestNewWavePlans:
    def test_funnel_scans_events_at_most_thrice(self, spark):
        from tidb_cdc_spark.queries.events import events_funnel

        # v and c are materialized, so the plan holds exactly one
        # filtered events scan per funnel stage — not the 6 the
        # unmaterialized DAG would re-expand to
        plan = explain_str(events_funnel(spark, SF))
        assert plan.count("FileScan parquet") <= 3

    def test_funnel_pushes_event_type(self, spark):
        from tidb_cdc_spark.queries.events import events_funnel

        df = events_funnel(spark, SF)
        assert has_pushed_filters(df, "event_type")

    def test_source_overlap_single_corpus_scan(self, spark):
        from tidb_cdc_spark.queries.corpus import source_overlap_matrix

        # the distinct (fp, source) projection is materialized before
        # the self-join: one scan of documents, not one per side
        plan = explain_str(source_overlap_matrix(spark, SF))
        assert plan.count("FileScan parquet") <= 1

    def test_gapfill_broadcasts_spine(self, spark):
        from tidb_cdc_spark.queries.events import events_daily_gapfill

        plan = explain_str(events_daily_gapfill(spark, SF))
        # spine side joins broadcast; running-total window partitioned
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


class TestDynamicPartitionPruning:
    def test_partitioned_fact_prunes_on_dim_filter(self, spark, tmp_path):
        # a partitioned fact joined to a filtered dim on the
        # partition column must plan a dynamic pruning subquery —
        # at 100 TB this is what turns "scan every partition" into
        # "scan the partitions the dim filter selects"
        path = str(tmp_path / "fact")
        ev = spark.read.parquet(f"{SF}/events.parquet")
        ev.write.partitionBy("event_type").parquet(path)
        fact = spark.read.parquet(path)
        dim = spark.createDataFrame(
            [("click", 1), ("view", 0), ("purchase", 0)],
            "event_type string, keep int",
        )
        q = (
            fact.join(dim.filter(F.col("keep") == 1), "event_type")
            .agg(F.sum("value").alias("s"))
        )
        plan = explain_str(q)
        assert "dynamicpruning" in plan.lower(), plan[:2000]


class TestRangeFramePlan:
    def test_trailing_30m_single_hash_exchange(self, spark):
        from tidb_cdc_spark.queries.events import events_trailing_30m

        # both window aggregates share the user_id partitioning: one
        # hash exchange total (plus the final sort's range exchange)
        df = events_trailing_30m(spark, SF)
        plan = explain_str(df, mode="simple")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BatchEvalPython" not in plan


class TestCurationPipelinePlan:
    def test_pipeline_stays_jvm_side(self, spark):
        from tidb_cdc_spark.queries.corpus import corpus_curation_pipeline

        # 4-stage funnel must stay whole-stage codegen: no Python
        # round-trip, and the dedup/selection joins on the tiny
        # survivor id-lists must broadcast
        df = corpus_curation_pipeline(spark, SF)
        plan = explain_str(df, mode="simple")
        assert "BatchEvalPython" not in plan


class TestNewQueryPlans:
    def test_sliding_window_two_exchanges_max(self, spark):
        from tidb_cdc_spark.queries.events import events_sliding_1h

        # window() explode feeds a map-side-combining agg: one hash
        # exchange + the final sort's range exchange
        df = events_sliding_1h(spark, SF)
        plan = explain_str(df, mode="simple")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BatchEvalPython" not in plan

    def test_transition_matrix_bounded_exchanges(self, spark):
        from tidb_cdc_spark.queries.events import events_transition_matrix

        df = events_transition_matrix(spark, SF)
        plan = explain_str(df, mode="simple")
        # user_id window + (src,dst) agg + src share window
        assert plan.count("Exchange hashpartitioning") <= 3
        assert "BatchEvalPython" not in plan

    def test_salted_agg_two_phase(self, spark):
        from tidb_cdc_spark.queries.tpch import skew_salted_agg

        df = skew_salted_agg(spark, SF)
        plan = explain_str(df, mode="simple")
        # phase-1 (key, salt) exchange + phase-2 key exchange
        assert plan.count("Exchange hashpartitioning") == 2

    def test_grouping_sets_single_exchange(self, spark):
        from tidb_cdc_spark.queries.tpch import grouping_sets_orders

        df = grouping_sets_orders(spark, SF)
        plan = explain_str(df, mode="simple")
        # Expand feeds ONE shuffled aggregate for all three sets
        assert "Expand" in plan
        assert plan.count("Exchange hashpartitioning") == 1


class TestZorderPlan:
    def test_morton_code_is_codegen(self, spark):
        from tidb_cdc_spark.queries.events import events_zorder_buckets

        # the bit-dilation expressions must stay inside
        # WholeStageCodegen (no CodegenFallback interpreted eval, no
        # Python worker round-trip). AQE only settles codegen stages
        # at runtime, so execute and read the final plan.
        df = events_zorder_buckets(spark, SF)
        # df.count() would execute a DIFFERENT query (agg wrapper) and
        # leave df's own AQE plan unfinalized; collect() finalizes it.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE's finalized tree renders codegen stages as "*(n) Op"
        # rather than the literal WholeStageCodegen node name.
        assert "WholeStageCodegen" in plan or "*(" in plan, plan[:2000]
        assert "BatchEvalPython" not in plan


class TestRound5Plans:
    def test_decimal_agg_single_hash_exchange(self, spark):
        # envelope parse is stateless/codegen; ONE hash exchange (the
        # 3-key aggregate) + the final sort's range exchange
        from tidb_cdc_spark.queries.cdc import cdc_decimal_agg

        df = cdc_decimal_agg(spark, SF)
        plan = explain_str(df, mode="simple")
        assert plan.count("Exchange hashpartitioning") == 1
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_repeated_spans_two_hash_exchanges(self, spark):
        # shingle window (doc_id) + span groupBy — nothing else; the
        # top-100 is TakeOrdered, not a sort exchange
        from tidb_cdc_spark.queries.dedup import repeated_spans_top

        plan = explain_str(repeated_spans_top(spark, SF), mode="simple")
        assert plan.count("Exchange hashpartitioning") == 2
        assert "TakeOrderedAndProject" in plan

    def test_span_coverage_bounded_exchanges(self, spark):
        # shingle window + span count + count-join/doc aggregate: the
        # span-key join is co-partitioned with the count aggregate, so
        # hash exchanges stay at 3 (never one per operator)
        from tidb_cdc_spark.queries.dedup import span_dup_coverage

        plan = explain_str(span_dup_coverage(spark, SF), mode="simple")
        assert plan.count("Exchange hashpartitioning") <= 3


class TestRuntimeBloomFilter:
    def test_selective_dim_join_injects_bloom_on_fact_scan(self, spark):
        # At 100 TB a selective dim filter must prune the FACT side
        # before the shuffle: Spark's runtime bloom filter plants a
        # might_contain(...) predicate on the fact scan, built from
        # the filtered dim keys. The production thresholds
        # (creationSideThreshold 10 MB / applicationSideScanSize
        # 10 GB) are exactly right at scale but unreachable at test
        # SF, so lower them HERE ONLY to pin that the engine's plans
        # are bloom-eligible (no manual pre-join, no disabling
        # config baked into get_spark).
        old = {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "spark.sql.autoBroadcastJoinThreshold",
            )
        }
        try:
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "0",
            )
            # force a shuffle join: broadcast joins don't need (or
            # get) a bloom filter — the broadcast IS the filter
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
                F.col("o_orderpriority") == "1-URGENT"
            )
            li = spark.read.parquet(f"{SF}/lineitem.parquet")
            j = (
                li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )
            plan = explain_str(j, mode="simple")
            assert "might_contain" in plan, plan
            assert "bloom_filter_agg" in plan, plan
            # the filter must sit on the lineitem (application) side
            fact_side = plan[plan.index("might_contain"):]
            assert "l_orderkey" in fact_side.split("\n")[0]
            # and the join still returns correct rows
            assert j.count() >= 1
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestSemdedupPcaPlans:
    def test_covariance_scan_only(self, spark):
        # one scalar aggregate of 21 partial sums: the data never
        # hash-shuffles — only the 1-row partial-agg collect moves
        from tidb_cdc_spark.queries.embeddings import embedding_covariance

        df = embedding_covariance(spark, SF)
        plan = explain_str(df, mode="simple")
        assert plan.count("Exchange hashpartitioning") == 0, plan
        assert "BatchEvalPython" not in plan  # codegen, no Python

    def test_pca_projection_arrow_batched(self, spark):
        from tidb_cdc_spark.queries.embeddings import embedding_pca_project

        df = embedding_pca_project(spark, SF)
        plan = explain_str(df, mode="simple")
        # Arrow-batched pandas UDF, never row-at-a-time Python
        assert "ArrowEvalPython" in plan
        assert "BatchEvalPython" not in plan
        # projection itself is shuffle-free (sort adds one range
        # exchange; fit's reduction ran eagerly, outside this plan)
        assert plan.count("Exchange hashpartitioning") == 0, plan

    def test_semantic_dedup_single_cell_shuffle(self, spark):
        from tidb_cdc_spark.functions.semdedup import semantic_dedup

        e = spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        df = semantic_dedup(e, n_cells=4, threshold=0.95)
        plan = explain_str(df, mode="simple")
        # exactly the groupBy(cell) exchange feeding the pandas
        # group map — no second data-sized shuffle
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "FlatMapGroupsInPandas" in plan


class TestCmsPlan:
    def test_heavy_hitters_broadcast_screen_and_verify(self, spark):
        from tidb_cdc_spark.functions.sketch import heavy_hitters

        ev = spark.read.parquet(f"{SF}/events.parquet")
        df = heavy_hitters(ev, "user_id", min_count=80)
        plan = explain_str(df, mode="simple")
        # the cell table and candidate set reach the probe/verify
        # sides as broadcasts — the event rows themselves never
        # shuffle except the final combining count by key
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan
        # exchanges: candidate distinct + final exact count (+AQE
        # variance) — but never a data-sized join exchange
        assert "SortMergeJoin" not in plan


class TestLateR6Plans:
    def test_winnow_no_python_no_cartesian(self, spark):
        from tidb_cdc_spark.functions.winnow import winnow_overlap

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        df = winnow_overlap(docs)
        plan = explain_str(df, mode="simple")
        assert "BatchEvalPython" not in plan  # all codegen
        assert "CartesianProduct" not in plan
        # viral-cap side arrives broadcast (anti-join), pair join is
        # an equi-join on fp
        assert "BroadcastHashJoin" in plan

    def test_drift_vocabulary_sized_join(self, spark):
        from tidb_cdc_spark.queries.corpus import vocab_drift_top

        df = vocab_drift_top(spark, SF)
        plan = explain_str(df, mode="simple")
        assert "BatchEvalPython" not in plan
        # top-k via per-partition heaps, not a global sort of the
        # vocabulary (TakeOrderedAndProject)
        assert "TakeOrderedAndProject" in plan

    def test_bigram_surprisal_codegen(self, spark):
        from tidb_cdc_spark.queries.corpus import text_bigram_surprisal

        df = text_bigram_surprisal(spark, SF)
        plan = explain_str(df, mode="simple")
        assert "BatchEvalPython" not in plan


class TestRound7Plans:
    def test_perplexity_buckets_rank_is_band_partitioned(self, spark):
        """The global rank must run partitioned by the score band —
        a row_number window WITHOUT a partition key serializes the
        corpus onto one task."""
        from tidb_cdc_spark.queries.corpus import corpus_perplexity_buckets

        plan = explain_str(corpus_perplexity_buckets(spark, SF))
        import re

        rn = [
            l
            for l in plan.splitlines()
            if "row_number" in l and "windowspecdefinition" in l
        ]
        assert rn, "rank window missing"
        # every row_number window spec carries the _shard partition key
        assert all("_shard" in l for l in rn), rn
        assert "BatchEvalPython" not in plan

    def test_rerank_cascade_broadcasts_and_stays_jvm(self, spark):
        """Stage-1 query side broadcast (corpus never shuffles for
        the cosine scan); the pairwise rerank joins stay JVM-side."""
        from tidb_cdc_spark.queries.retrieval import rag_rerank_cascade

        df = rag_rerank_cascade(spark, SF)
        plan = explain_str(df)
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan

    def test_winnow_cap_report_single_fp_materialization(self, spark):
        """freq agg and the affected-docs semi-join must share ONE
        fingerprint computation (InMemoryTableScan), not recompute
        the shingle window per consumer."""
        from tidb_cdc_spark.queries.dedup import winnow_cap_report

        plan = explain_str(winnow_cap_report(spark, SF))
        assert "InMemoryTableScan" in plan
        # the winnow window-min pass appears at most once live (the
        # cached plan may show it inside the InMemoryRelation only)
        live = plan.split("InMemoryRelation")[0]
        assert live.count("windowspecdefinition") <= 1

    def test_hll_audit_no_python_and_single_scan_per_arm(self, spark):
        from tidb_cdc_spark.queries.events import events_distinct_hll_audit

        plan = explain_str(events_distinct_hll_audit(spark, SF))
        assert "BatchEvalPython" not in plan
        assert "hll_sketch_agg" in plan or "hll_union_agg" in plan


class TestLateR7Plans:
    def test_dsir_weights_bits_table_broadcasts(self, spark):
        """The dim-row log-ratio table must arrive broadcast — a
        hash-exchange join on bucket would shuffle the whole sparse
        TF table against a 64-row side."""
        from tidb_cdc_spark.queries.corpus import corpus_dsir_weights

        plan = explain_str(corpus_dsir_weights(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan

    def test_dsir_select_rank_is_band_partitioned(self, spark):
        """Selection rank must run partitioned by the weight band —
        an unpartitioned row_number serializes the corpus onto one
        task (the corpus_perplexity_buckets contract)."""
        from tidb_cdc_spark.queries.corpus import corpus_dsir_select

        plan = explain_str(corpus_dsir_select(spark, SF))
        rn = [
            l
            for l in plan.splitlines()
            if "row_number" in l and "windowspecdefinition" in l
        ]
        assert rn, "rank window missing"
        assert all("_shard" in l for l in rn), rn
        assert "BatchEvalPython" not in plan

    def test_bm25_query_side_broadcasts(self, spark):
        """Postings stay put: the query-term×idf table broadcasts
        onto the corpus tf table; nothing corpus-sized crosses a
        broadcast threshold, no cartesian pair generation."""
        from tidb_cdc_spark.queries.retrieval import rag_bm25_topk

        plan = explain_str(rag_bm25_topk(spark, SF))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan

    def test_token_entropy_single_doc_exchange(self, spark):
        """tf groupBy(doc, term), the per-doc window, and the final
        groupBy(doc) must all reuse the doc_id fan-out distribution:
        exactly ONE hash exchange in the whole plan, and the window
        carries the doc_id partition key."""
        from tidb_cdc_spark.queries.corpus import text_token_entropy

        plan = explain_str(text_token_entropy(spark, SF))
        assert "BatchEvalPython" not in plan
        win = [
            l for l in plan.splitlines() if "windowspecdefinition" in l
        ]
        assert win and all("doc_id" in l for l in win), win
        import re

        hashx = re.findall(r"Exchange hashpartitioning", plan)
        assert len(hashx) <= 1, plan


class TestFinalTpchPlans:
    """q2/q11/q12/q21 (queries/tpch.py) — the shapes that close the 22-query
    TPC-H set. Pins: single fact scan where the design says one,
    broadcast dims, no Python in any plan."""

    def test_q2_single_lineitem_scan_and_window_min(self, spark):
        from tidb_cdc_spark.queries.tpch import q2_min_cost_supplier

        plan = explain_str(q2_min_cost_supplier(spark, SF))
        # window-min decorrelation: the self-join variant scans and
        # aggregates lineitem twice; the window must keep it at one
        assert plan.count("lineitem.parquet") == 1
        assert "windowspecdefinition" in plan
        assert "BroadcastHashJoin" in plan
        assert "BatchEvalPython" not in plan

    def test_q11_scalar_subquery_stays_in_plan(self, spark):
        from tidb_cdc_spark.queries.tpch import q11_important_parts

        plan = explain_str(q11_important_parts(spark, SF))
        # threshold = broadcast 1-row aggregate, never a collect;
        # per_part reused for both sides
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        assert "BatchEvalPython" not in plan

    def test_q12_pushdown_and_single_join(self, spark):
        from tidb_cdc_spark.queries.tpch import q12_priority_lines

        df = q12_priority_lines(spark, SF)
        assert has_pushed_filters(df, "l_shipdate")
        plan = explain_str(df)
        assert "BatchEvalPython" not in plan

    def test_q21_semi_then_anti_on_orderkey(self, spark):
        from tidb_cdc_spark.queries.tpch import q21_waiting_suppliers

        plan = explain_str(q21_waiting_suppliers(spark, SF))
        assert "LeftSemi" in plan and "LeftAnti" in plan
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan


class TestProjectionPlan:
    def test_random_projection_map_only(self, spark):
        """JL projection is a pure per-row expression: no exchange
        beyond the final presentation sort, no Python, no broadcast
        (the sign matrix is literals in the plan)."""
        from tidb_cdc_spark.queries.embeddings import embedding_random_projection

        plan = explain_str(embedding_random_projection(spark, SF))
        assert "BatchEvalPython" not in plan
        assert "Exchange hashpartitioning" not in plan
        assert "BroadcastExchange" not in plan


class TestSpanRewritePlan:
    def test_span_rewrite_no_pair_join_no_python(self, spark):
        """The rewrite never joins doc-to-doc: span stats are one
        aggregate, coverage is an ids-only LEFT flag join feeding the
        single per-doc aggregation (n_tokens + cleaned text + kept
        count in one pass). No cartesian, no Python, and the token
        table crosses at most two hash exchanges."""
        import re

        from tidb_cdc_spark.queries.dedup import dedup_span_rewrite

        plan = explain_str(dedup_span_rewrite(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BatchEvalPython" not in plan
        # token-stream subtree appears once per consumer; the single
        # groupBy design keeps the posexplode count at 2 (shingle
        # pass + token pass), not 3
        assert len(re.findall(r"Generate posexplode", plan)) <= 2


class TestPagerankPlan:
    def test_pagerank_no_python_no_cartesian(self, spark):
        from tidb_cdc_spark.queries.events import events_engagement_pagerank

        plan = explain_str(events_engagement_pagerank(spark, SF))
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestR10CompositionPlans:
    def test_lm_quality_buckets_single_scored_pass(self, spark):
        """The composed CCNet shape must NOT run the 3-join corpus-
        scale stupid-backoff scorer once per consumer: rank_buckets
        materializes the scored frame, so both the min/max/count agg
        and the ranked output read the cache (InMemoryTableScan) and
        the rank window stays band-partitioned (no single-task
        global window)."""
        from tidb_cdc_spark.queries.corpus import corpus_lm_quality_buckets

        df = corpus_lm_quality_buckets(spark, SF)
        plan = explain_str(df)
        # every downstream consumer reads the materialized scorer
        assert plan.count("InMemoryTableScan") >= 1, plan[:2000]
        rn = [
            l
            for l in plan.splitlines()
            if "row_number" in l and "windowspecdefinition" in l
        ]
        assert rn and all("_shard" in l for l in rn), rn
        assert "BatchEvalPython" not in plan

    def test_containment_repr_no_python_no_cartesian(self, spark):
        from tidb_cdc_spark.queries.dedup import dedup_containment_repr

        plan = explain_str(dedup_containment_repr(spark, SF))
        assert "BatchEvalPython" not in plan
        assert "CartesianProduct" not in plan


class TestGlobalPlanInvariants:
    # r15 tiered gate: whole-registry plan sweep (~2 min alone);
    # per-family plan pins above stay in the default tier
    @pytest.mark.slow
    def test_no_rowwise_python_or_cartesian_anywhere(self, spark):
        """Blanket guard over the ENTIRE declared registry: no query
        may plan a row-at-a-time Python eval (BatchEvalPython) or a
        cartesian product. Arrow ops (ArrowEvalPython,
        FlatMapGroupsInPandas, MapInPandas/Arrow) are the sanctioned
        Python path and remain allowed. Catches a regression in ANY
        future query without needing a per-query pin."""
        from tidb_cdc_spark.queries import QUERIES

        offenders = {}
        for name, fn in QUERIES.items():
            plan = explain_str(fn(spark, SF))
            bad = [
                m
                for m in ("BatchEvalPython", "CartesianProduct")
                if m in plan
            ]
            if bad:
                offenders[name] = bad
        assert not offenders, offenders
