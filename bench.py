"""Per-row wall-time benchmark of the registry's headline queries.

Runs every HEADLINE row at $SPARK_GRAFT_SF_DIR (default: the sf0.1
testdata dir) on local[$SPARK_GRAFT_CPUS], $SPARK_GRAFT_BENCH_RUNS
times each (default 2). A row runs its ``bench_fn`` (the production
shape) when it has one, else its contract query, and is forced
end-to-end through the noop sink (full execution, no driver-side
result transfer). A warmup pays session start-up,
codegen and first-touch costs before the first measured row.

Prints one JSON line and writes the same object to BENCH_FULL.json
next to this script:

    {"sf": 0.1, "runs_per_query": 2, "total_sec": ...,
     "queries": {row: best seconds, or null if the row raised},
     "query_runs": {row: [seconds of every run]},
     "stream_epoch_sec": {row: [[seconds per epoch] per run]}}

``stream_epoch_sec`` holds the streaming rows' per-epoch cost as Spark
measures it (``StreamingQueryProgress.durationMs.addBatch``), see
``plans.queries.STREAM_EPOCH_SEC``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "revenue_by_nation",
    "athena_q1_topk_scan",
    "athena_q4_duplicate_keys",
    "top_customers_per_nation",
    "running_customer_revenue",
    "sessionize_user_events",
    "asof_join_error_to_click",
    "hourly_event_stats",
    "stats_aggregates_by_flag",
    "dedup_exact_documents",
    "doc_fingerprint_dedup",
    "token_histogram",
    "minhash_near_dup_pairs",
    "ann_cosine_topk",
    "streaming_hourly_counts",
    "delta_dedup_incremental",
    "ann_cosine_topk_ivf_indexed",
    "streaming_dedup_ingest",
    "heavy_hitter_tokens",
    "semdedup_pairs_arrow",
    "simhash_delta_incremental",
    "keyword_search_bm25",
    "quality_classifier_scores",
    "boilerplate_span_coverage",
    "cluster_aware_split",
    "pagerank_customer_supplier",
    "bpe_pair_stats",
    "ngram_lm_perplexity",
    "scd2_point_in_time_join",
    # The sf0.1 corpus has a 40-word vocabulary, which defeats prefix
    # selectivity: this row measures result volume (output-bound), and
    # its Zipfian-vocab twin exact_jaccard_join_prefix_zipf (EXTRA_ROWS)
    # measures candidate pruning.
    "exact_jaccard_join_prefix",
    "boilerplate_span_coverage_hashed",
    "shipdate_window_range_join_binned",
    "canonical_text_dedup",
    "compression_ratio_quality",
    "ann_cosine_topk_pq",
    "quality_classifier_training",
    "ann_pq_delta_append",
    "streaming_quality_gate",
    "ann_cosine_topk_ivfpq",
    "graph_kcore_membership",
    "bpe_tokenizer_encode",
    "graph_label_propagation",
    "ann_ivfpq_delta_append",
    "embedding_random_projection",
    "contrastive_pair_mining",
    "kmv_source_overlap",
    "kmv_overlap_matrix",
    "streaming_kmv_distinct",
    "heavy_hitters_per_lang",
    "hybrid_search_rrf3",
    "streaming_ann_ingest",
    "ann_cosine_topk_ivfpq_residual",
    "bpe_byte_level_encode",
    "containment_decontamination",
    "kmv_containment_screen",
    "streaming_heavy_hitters",
    "streaming_ann_residual_ingest",
    "quantile_sketch_events",
    "weighted_quantiles_doclen",
    "robust_stats_value",
    "countmin_trigram_freq",
    "hll_distinct_trigrams",
    "ngram_novelty_scores",
    "ann_sq8_rerank",
    "bloom_semijoin_orders",
    "phrase_top_bigram",
    "streaming_countmin",
    "streaming_hll_distinct",
    "streaming_adaptive_sample",
    "quantile_drift_monitor",
    "ann_ivf_sq8",
    "streaming_bloom_decontaminate",
    "pii_redaction_stats",
    "gopher_repetition_filter",
    "ann_sq8_rerank_normalized",
    "embedding_isotropy_probe",
    "cusum_changepoint_daily",
    "retention_cohort_matrix",
    "event_transition_matrix",
    "rfm_customer_segments",
    "revenue_concentration_gini",
    "scd2_user_state_intervals",
    "histogram_selectivity_audit",
    "join_cardinality_bounds",
    "funnel_time_to_convert",
    "weekday_seasonality_index",
    "user_journey_paths",
    "user_activity_entropy",
    "order_line_proration",
    "user_activity_islands",
    "peak_concurrent_activity",
    "pareto_abc_parts",
    "bigram_pmi_topk",
]

RUNS_PER_QUERY = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from api_kakfa_spark_airflow_s3_athena_spark.operators import dedup as DD
    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import (
        REGISTRY,
        STREAM_EPOCH_SEC,
        _ensure_pagerank_index,
        _stage_events_stream,
        _scratch_dir,
    )
    from api_kakfa_spark_airflow_s3_athena_spark.session import local_test_session
    from api_kakfa_spark_airflow_s3_athena_spark.sources.tables import load_table
    from tools.scale_check import generate_zipf

    spark = local_test_session("bench")

    # Warmup: JVM/codegen start-up and per-table first touch (file
    # listing, footer reads, reader init). Each measured row still
    # pays its own codegen.
    REGISTRY["athena_q2_count"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    for table in ("lineitem", "orders", "customer", "nation", "region",
                  "documents", "embeddings", "events"):
        load_table(spark, sf_dir, table).count()
    # Environment setup rather than query work: the file-stream copy of
    # `events` the streaming rows read (the stand-in for a Kafka topic),
    # the PageRank transition table (a write-once graph snapshot), and
    # the Zipfian-vocab corpus of exact_jaccard_join_prefix_zipf (same
    # doc count as the sf0.1 corpus).
    _stage_events_stream(spark, sf_dir)
    _ensure_pagerank_index(spark, sf_dir)
    zipf_docs_path = os.path.join(
        _scratch_dir("bench_zipf_"), "documents.parquet"
    )
    generate_zipf(spark, 1, os.path.dirname(zipf_docs_path))
    spark.read.parquet(zipf_docs_path).count()

    def _zipf_prefix_join(spark, _sf_dir):
        return DD.prefix_jaccard_join(
            spark.read.parquet(zipf_docs_path), threshold=0.95
        )

    EXTRA_ROWS = {"exact_jaccard_join_prefix_zipf": _zipf_prefix_join}

    def _time_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    queries, query_runs = {}, {}
    for name in HEADLINE + list(EXTRA_ROWS):
        fn = EXTRA_ROWS.get(name)
        if fn is None:
            fn = REGISTRY[name].bench_fn or REGISTRY[name].fn
        try:
            runs = [_time_once(fn) for _ in range(RUNS_PER_QUERY)]
        except Exception as exc:  # a broken row shows up as null
            queries[name] = None
            print(f"bench error in {name}: {exc}", file=sys.stderr)
            continue
        query_runs[name] = runs
        queries[name] = min(runs)

    artifact = {
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "runs_per_query": RUNS_PER_QUERY,
        "total_sec": round(sum(v for v in queries.values() if v is not None), 3),
        "queries": queries,
        "query_runs": query_runs,
        "stream_epoch_sec": STREAM_EPOCH_SEC,
    }
    line = json.dumps(artifact)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_FULL.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError as exc:  # read-only checkout: the stdout line has it
        print(f"bench: could not write BENCH_FULL.json: {exc}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
