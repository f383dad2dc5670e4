"""Physical-plan audit: prints scan/join/codegen facts for the
headline queries so plan regressions are visible and reviewable.

    python tools/plan_audit.py [query ...]

For each query: pushed filters, read schema width, join strategies,
whole-stage-codegen coverage, exchange (shuffle) count.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

AUDIT = [
    "tpch_q1_pricing_summary",
    "revenue_by_nation",
    "athena_q1_topk_scan",
    "athena_q5_range_violations",
    "athena_q6_partition_pruned_agg",
    "top_customers_per_nation",
    "semi_join_customers_with_orders",
    "ann_cosine_topk",
    "token_histogram",
    "dedup_exact_documents",
    # round 2 additions: the scale-shape-critical new plans
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    "contamination_check",
    "sequence_packing_plan",
    "duplicate_window_spans",
    "training_data_funnel",
    "conversion_rates_daily",
    "bucketed_join_revenue_by_status",
    # round 4 additions: incremental-artifact and sampling paths
    "delta_dedup_incremental",
    "ann_cosine_topk_ivf_indexed",
    "heavy_hitter_tokens",
    "mixture_weighted_sample",
    "per_group_reservoir_sample",
    "dedup_survivors_policy",
    # round 5 additions: retrieval/classifier/split/boilerplate/PQ
    "keyword_search_bm25",
    "quality_classifier_scores",
    "cluster_aware_split",
    "boilerplate_span_coverage",
    "semdedup_pairs_arrow",
    "ann_pq_adc_topk",
    "salted_join_segment_events",
    "export_shard_manifest",
    # round 5 continuation: graph/profiling/LM/whitening paths
    "pagerank_customer_supplier",
    "table_profile_orders",
    "bpe_pair_stats",
    "ngram_lm_perplexity",
    "embedding_pca_whitening",
    "quality_gate_calibrated",
    "event_value_anomalies",
    # round 7 additions: range-join rewrite and reconciliation paths
    "shipdate_window_range_join_binned",
    "corpus_snapshot_diff",
    "multi_key_dedup_policy",
    "ann_ivf_delta_append",
    # round 8 additions: the remaining round-7 row-local scan passes
    # (VERDICT #7), the PQ ANN path, graph metrics, and the trainer
    "canonical_text_dedup",
    "compression_ratio_quality",
    "ann_cosine_topk_pq",
    "graph_degree_distribution",
    "graph_triangle_count",
    "quality_classifier_training",
    # round 9 addition: the incremental PQ maintenance contract (the
    # streaming gate is a foreachBatch pipeline, like
    # streaming_dedup_ingest not in this list — its batch-inference
    # plan is covered by quality_classifier_scores)
    "ann_pq_delta_append",
    # k-core: the audited plan is the FINAL peeling round (each round
    # is plan-identical: census + two semi-joins on a localCheckpoint)
    "graph_kcore_membership",
    "ann_cosine_topk_ivfpq",
    "graph_label_propagation",
    "contrastive_pair_mining",
    "bpe_tokenizer_encode",
    "ann_ivfpq_delta_append",
    "embedding_random_projection",
    # registered in round 10 (formerly staged; streaming_ann_ingest is
    # a foreachBatch pipeline — its per-epoch batch plan is
    # ivfpq_index_append, audited via ann_ivfpq_delta_append)
    "kmv_source_overlap",
    "heavy_hitters_per_lang",
    "hybrid_search_rrf3",
    "ann_cosine_topk_ivfpq_residual",
    "bpe_byte_level_encode",
    # registered in round 11 (formerly staged; streaming_countmin's
    # per-epoch batch plan is count_min_counters + cms_merge)
    "quantile_sketch_events",
    "robust_stats_value",
    "countmin_trigram_freq",
    "hll_distinct_trigrams",
    "ngram_novelty_scores",
    "ann_sq8_rerank",
    "bloom_semijoin_orders",
    "phrase_top_bigram",
    "weighted_quantiles_doclen",
    # registered in round 12 (quantile_drift_monitor /
    # streaming_bloom_decontaminate are foreachBatch lifecycles whose
    # per-epoch batch plans are the adaptive_sample / bloom_bits shapes
    # audited elsewhere)
    "ann_ivf_sq8",
    "ann_sq8_rerank_normalized",
    "pii_redaction_stats",
    "gopher_repetition_filter",
    "cusum_changepoint_daily",
    "retention_cohort_matrix",
    "event_transition_matrix",
    "rfm_customer_segments",
    "revenue_concentration_gini",
    "embedding_isotropy_probe",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:] or AUDIT

    from api_kakfa_spark_airflow_s3_athena_spark.plans.queries import REGISTRY
    from api_kakfa_spark_airflow_s3_athena_spark.session import local_test_session

    spark = local_test_session("plan-audit")
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        # materialize so AQE finalizes: the pre-execution adaptive plan
        # carries neither the final join strategies nor codegen spans
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ) if hasattr(df._sc._jvm, "PythonSQLUtils") else plan

        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", formatted)
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", formatted)
        exchanges = len(re.findall(r"\bExchange\b", plan))
        codegen = len(
            set(re.findall(r"WholeStageCodegen \((\d+)\)", formatted))
            or set(re.findall(r"\*\((\d+)\)", plan))
        )
        topk = "TakeOrderedAndProject" in formatted

        print(f"\n=== {name} ===")
        for i, (p, s) in enumerate(zip(pushed, schemas)):
            width = s.count(":")
            print(f"  scan{i}: pushed=[{p[:90]}] cols={width}")
        if joins:
            print(f"  joins: {joins}")
        print(f"  shuffles={exchanges} codegen_spans={codegen} topk={topk}")
    spark.stop()


if __name__ == "__main__":
    main()
