"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE compact JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "sf": ...,
   "n_queries": N, "queries": {<5 slowest>: sec}, "detail": ...}``.

The driver's tail capture window is 2,000 chars (measured: a
1,940-byte line parsed, a ~2,120-byte line recorded parsed:null)
— so the stdout line carries only the summary + the 5 slowest
queries, shrinking that dict if it would ever reach 1,500 bytes
(graceful, never an assert); the full per-query timings
(and per-run raw arrays) go to the committed ``BENCH_DETAIL.json``,
and raw arrays also stream to stderr live. The line self-describes
contamination: ``"degraded": true`` when ambient start load exceeds
0.5/CPU or >15% of queries hit the 4-run cap with their two best
runs still >15% apart — cap-exit disagreement, NOT "needed a 3rd
run", which is structurally ~0.75 everywhere (a record once taken
on a loaded box had no such flag and overstated the suite ~17%).

Each query is fully materialized via a cheap count-style action
(``df.count()`` after the query's own sort/limit), which forces the
whole plan without driver-side collection overhead.

Suite policy: ≤ ~60 entries — every ≥0.5 s op and every
iterative / join-heavy / multi-stage shape stays; sub-0.5 s
single-scan entries whose plan shape is already represented
(doc_nfc_normalize, events_hourly, q6, rollup, int8-quantize,
lang-id, token-entropy, topk-window, budget-head, mix-plan,
snapshot-diff, q19, hard-negatives, corpus_quality_filter,
contamination_eval_overlap) are retired from the HEADLINE list
only — they remain declared, oracle-gated, and mirror-tested.
The multimodal audits, the audio/video sample-path audits and the
composed media_curation_pipeline then took the list to 66 entries.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from tidb_cdc_spark import get_spark
    from tidb_cdc_spark.queries import QUERIES

    # Load guard (an official record was once captured on a loaded
    # box and overstated the suite ~17% — uniform drift on
    # untouched code, first runs 2-3x the mins). A hot record must be
    # SELF-DESCRIBING, so the stdout line carries "degraded": true
    # when either signal fires: (a) ambient 1-min load at start
    # (before our JVM spins up) exceeds 0.5 per CPU, or (b) >15% of
    # queries NEVER got two runs agreeing within 15% even at the
    # 4-run cap — sustained mid-run thrash a start-only sample
    # misses. (Calibration note: "needed a 3rd run" is NOT a load
    # signal — per-query first runs are structurally ~1.5x the min
    # from plan codegen, so that fraction sits near 0.75 on clean
    # AND loaded boxes; cap-exit disagreement on the loaded-box
    # records: 0.05-0.07, so 0.15 flags only genuine sustained noise.)
    # per core of THIS run (local[$SPARK_GRAFT_CPUS]), not of the host:
    # an 8-core run on a busy 32-core box must still read as loaded
    ncpu = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    # both loadavg horizons: the 1-min sample passes a
    # box still cache/IO-settling minutes after a pytest marathon —
    # the 5-min figure makes that visible in drift triage. The
    # degraded VERDICT still keys on the 1-min sample only (changing
    # the flag's semantics would break comparability with older
    # records).
    load_start = os.getloadavg()[0]
    load_start_5m = os.getloadavg()[1]

    # --requiet[=threshold]: wait (bounded) for the
    # box to quiet down before the first query instead of stamping a
    # degraded record on a settling box. Both samples are recorded
    # either way (pre-wait under load_prewait_*); the degraded
    # verdict's formula and threshold are UNCHANGED — it keys on the
    # 1-min sample taken when measurement actually starts.
    requiet = None
    for a in sys.argv[1:]:
        if a == "--requiet":
            requiet = 0.5 * ncpu
        elif a.startswith("--requiet="):
            requiet = float(a.split("=", 1)[1])
    load_prewait, load_prewait_5m = load_start, load_start_5m
    requiet_waited = 0.0
    if requiet is not None:
        deadline = time.monotonic() + float(
            os.environ.get("SPARK_GRAFT_REQUIET_MAX_SEC", "600")
        )
        while load_start > requiet and time.monotonic() < deadline:
            time.sleep(15)
            requiet_waited += 15
            load_start = os.getloadavg()[0]
        load_start_5m = os.getloadavg()[1]

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + file listing + Python-UDF worker fleet so
    # per-query timings measure the query, not session bootstrap
    # (forking 32 workers that each import pandas costs ~5 s once;
    # production executors keep workers warm across jobs)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(0, 3200, 1, 32).select(_warm(F.col("id")).alias("v")).agg(
        F.sum("v")
    ).collect()

    names = [
        # TPC-H shapes (multi-join / agg-heavy; single-join cheap
        # shapes q6/q19 retired — covered by q1/q14 cost-wise)
        "q1_pricing_summary",
        "q2_min_cost_supplier",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_volume_shipping",
        "q8_market_share",
        "q9_product_type_profit",
        "q10_returned_items",
        "q13_customer_distribution",
        "q15_top_supplier",
        "q18_large_volume_customers",
        "q20_promo_part_suppliers",
        "q21_waiting_suppliers",
        # events: stateful / as-of / outlier shapes
        "events_sessions",
        "events_asof_purchase_click",
        "events_value_mad_outliers",
        "events_heavy_hitters_cms",
        "events_engagement_pagerank",
        # CDC consumers
        "cdc_parse_typed",
        "cdc_apply_latest",
        "cdc_scd2_history",
        "cdc_decimal_agg",
        # dedup family (exact → LSH → clusters → span rewrite)
        "dedup_exact_docs",
        "dedup_exact_keep_best",
        "dedup_minhash_lsh",
        "dedup_minhash_star",
        "dedup_simhash",
        "dedup_clusters_exact",
        "dedup_span_rewrite",
        "dedup_containment_pairs",
        "dedup_containment_repr",
        "winnow_overlap_pairs",
        "winnow_repr_pipeline",
        # similarity / ANN / retrieval
        "knn_bruteforce_cosine",
        "knn_lsh_cosine",
        "knn_centroid_assign",
        "knn_opq_adc",
        "rag_hybrid_rrf",
        "rag_rerank_cascade",
        "rag_bm25_topk",
        # embeddings: covariance / PCA / semantic dedup
        "embedding_covariance",
        "embedding_pca_project",
        "semantic_dedup_prune",
        "doc_semantic_dedup",
        # text / corpus curation
        "tfidf_top_terms",
        "vocab_top_terms",
        "vocab_drift_top",
        "text_bigram_surprisal",
        "corpus_perplexity_buckets",
        "corpus_curation_pipeline",
        "corpus_curation_provenance",
        "corpus_dsir_select",
        "corpus_collocations_pmi",
        "corpus_lm_stupid_backoff",
        "corpus_lm_quality_buckets",
        "repeated_spans_top",
        "pack_sequences",
        "source_overlap_matrix",
        "quality_classifier_eval",
        # multimodal: synth → probe/decode → hash/explode shapes
        "multimodal_probe_audit",
        "multimodal_frame_plan",
        "multimodal_image_audit",
        "multimodal_dedup_audit",
        "multimodal_phash_audit",
        "multimodal_audio_audit",
        "multimodal_video_audit",
        "multimodal_audio_trim_audit",
        "multimodal_dct_phash_audit",
        "media_curation_pipeline",
        "audio_curation_pipeline",
        "video_curation_pipeline",
        "media_curation_provenance",
        # no-silent-caps reports
        "phash_cap_report",
        "video_frame_cap_report",
        "audio_window_cap_report",
        "audio_curation_provenance",
        "video_curation_provenance",
        # compressed-codec pixel decode (PNG zlib+unfilter, GIF LZW
        # — the CPU-heavier decode legs, priced from day one)
        "multimodal_png_phash_audit",
        "multimodal_codec_matrix_audit",
        "multimodal_jpeg_phash_audit",
        "multimodal_png_deep_audit",
        "multimodal_jpeg_prog_audit",
        "multimodal_webp_phash_audit",
        "multimodal_exif_orientation_audit",
        # lossy-VP8 ctypes decode + animated-GIF frame path +
        # animation header probe, priced from day one like the codec
        # legs above
        "multimodal_webp_lossy_audit",
        "animated_gif_video_audit",
        "multimodal_anim_probe_audit",
        "animated_webp_video_audit",
        "multimodal_audio_probe_audit",
        "audio_g711_audit",
        "multimodal_tiff_phash_audit",
        "multimodal_mjpeg_video_audit",
        "audio_adpcm_audit",
        "warc_ingest_audit",
        "corpus_html_extract",
        "crawl_html_pipeline",
        "animated_apng_video_audit",
    ]
    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    # cap-exit disagreement per query, tracked from the UNROUNDED run
    # times inside the loop (re-deriving it from the
    # 3-decimal raw arrays can flip verdicts at the 15% boundary, and
    # a min that rounds to 0.000 degenerates the relative test)
    cap_disagree: dict[str, bool] = {}
    for name in names:
        fn = QUERIES[name]
        # min of N runs: single-shot numbers on a shared box swing
        # ±30% with ambient load; the min measures the engine.  Two
        # warm runs normally; when they disagree by >15% the box was
        # loaded mid-run, so keep sampling (up to 4) until two runs
        # agree — the min of a noisy pair is itself noisy upward.
        runs: list[float] = []
        agreed = False
        while True:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
            if len(runs) >= 2:
                two = sorted(runs)[:2]
                if two[1] - two[0] <= 0.15 * two[0]:
                    agreed = True
                    break
                if len(runs) >= 4:
                    break
        cap_disagree[name] = not agreed
        raw[name] = [round(r, 3) for r in runs]
        timings[name] = round(min(runs), 3)
        print(f"# {name}: {timings[name]}s {raw[name]}", file=sys.stderr, flush=True)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    total = round(sum(timings.values()), 3)
    retry_frac = sum(cap_disagree.values()) / max(len(cap_disagree), 1)
    degraded = load_start > 0.5 * ncpu or retry_frac > 0.15

    # full per-query record → committed file (the driver's stdout
    # capture is 2,000 chars; per-query dicts outgrew it twice)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_runtime",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "n_queries": len(timings),
                "queries": timings,
                "raw_runs": raw,
                "load_start_1m": round(load_start, 2),
                "load_start_5m": round(load_start_5m, 2),
                "load_prewait_1m": round(load_prewait, 2),
                "load_prewait_5m": round(load_prewait_5m, 2),
                "requiet_threshold": requiet,
                "requiet_waited_sec": requiet_waited,
                "n_cpus": ncpu,
                "retry_frac": round(retry_frac, 3),
                "degraded": degraded,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")

    # stdout line: summary + the 5 slowest queries. Must stay under
    # the measured ~2,000-char driver capture window; if a pathologic
    # name set ever pushes it over, DEGRADE the line gracefully by
    # shrinking the slowest-queries dict (a bare assert here would be
    # stripped under -O and, when it fired, fired AFTER the whole
    # suite ran — discarding every timing).
    for n_slow in (5, 3, 1, 0):
        slowest = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:n_slow]
        )
        payload = {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "n_queries": len(timings),
            "queries": slowest,
            "detail": "BENCH_DETAIL.json",
        }
        if degraded:  # only flag hot records — keep clean lines lean
            payload["degraded"] = True
            payload["load_start_1m"] = round(load_start, 2)
            payload["load_start_5m"] = round(load_start_5m, 2)
            payload["retry_frac"] = round(retry_frac, 3)
        line = json.dumps(payload)
        if len(line) < 1500:
            break
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
