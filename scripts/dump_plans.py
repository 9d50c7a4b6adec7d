#!/usr/bin/env python
"""Regenerate docs/PLANS.md — formatted physical plans of the headline
queries, with the scale-relevant properties (PushedFilters, ReadSchema,
broadcast joins, exchange count) called out per query.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

HEADLINE = [
    "pricing_summary",
    "customer_rfm",
    "churn_features",
    "distinct_products",
    "revenue_by_nation",
    "top_parts_per_segment",
    "threshold_curve",
    "sessionize",
    "dedup_exact",
    "minhash_candidates",
    "knn_bruteforce",
    "salted_supplier_agg",
    "asof_last_purchase",
    "volume_shipping",
    "returned_items_top_customers",
    "disjunctive_part_predicates",
    "repetition_stats",
    "chunk_documents",
    "pack_documents",
    "embedding_quantize_stats",
    "skew_salted_segment_counts",
    # round 4
    "large_volume_customers",
    "curate_corpus",
    "parquet_roundtrip_revenue",
    "ngram_contamination",
    "token_budget_select",
    "quality_budget_select",
    "media_embed_knn",
    # round 6: engagement / retention tier + new plan shapes
    "cohort_retention",
    "growth_accounting",
    "stickiness_ratio",
    "first_touch_attribution",
    "rolling_7d_revenue",
    "daily_activity_revenue_outer",
    "part_cooccurrence",
    "centroid_inertia",
    "source_cap_select",
    # round-6 continuation: time-series + segmentation + LM-quality tier
    "cumulative_new_users",
    "daily_anomaly_zscore",
    "weekday_hour_heatmap",
    "top_session_paths",
    "source_temperature_weights",
    "rfm_segments",
    "unigram_logprob_score",
    "heavy_hitter_tokens",
    "basket_lift",
    "nation_revenue_trend",
    "dq_constraint_report",
    "audience_overlap",
    "cdc_multi_action_apply",
    "weighted_doc_sample",
    "ngram_dup_rate",
    # round 7: portable-hash registry forms + bounded simhash candidates
    "minhash_signatures",
    "simhash64",
    "winnowing_fingerprints",
    "simhash_candidates",
    # round 9/10: the tokenizer tier, the banded-ANN family (fixed +
    # adaptive + saturation scorecard), and the deterministic-codebook IVF
    "bpe_pair_counts",
    "intradoc_dedup_rewrite",
    "vocab_coverage_curve",
    "embedding_ann_top1",
    "embedding_ann_top1_adaptive",
    "ann_grid_report",
    "ivf_knn",
    # round 11: the two new LLM-data tiers (DSIR importance selection;
    # SemDeDup adaptive-K semantic dedup) and the minhash index-quality
    # scorecard
    "dsir_importance_select",
    "semdedup_keep",
    "minhash_calibration",
    "crossdoc_span_stats",
    # round 12: the ExactSubstr span rewrite and the unrolled BPE merge
    # training rounds
    "crossdoc_span_rewrite",
    "crossdoc_span_profile",
    # round 13: the variable-length multi-k-cascade ExactSubstr rewrite,
    # the PQ-ADC retrieval scorecard, and the composed IVF-PQ scorecard
    "crossdoc_span_rewrite_maximal",
    "pq_adc_recall",
    "ivf_pq_recall",
    "bm25_topk",
    "hard_negative_mining",
    "kneser_ney_bigram_score",
    "mmr_rerank",
    "neardup_edit_verify",
    "retrieval_graded_metrics",
    "packing_efficiency_report",
    "bpe_merge_rounds",
    "bpe_encode_stats",
    # round 15: hybrid fusion + the two-tower cross-modal scorecard.
    # unigram_lm_em_rounds is the bpe_merge_rounds class (EM state chains
    # through lazy localCheckpoints → LogicalRDD leaves) so it is not
    # dumped.
    "rrf_fusion",
    "weighted_score_fusion",
    "crossmodal_retrieval_metrics",
    # round-12 continuation: scorecards + novelty + graph centrality.
    # kcenter_coreset / part_pagerank_rounds / kcore_rounds are
    # driver-loop iterative — their returned plan is LogicalRDD leaves
    # (the kmeans_lloyd_curve class), so dumping them would show nothing.
    "semdedup_tau_curve",
    "ivf_probe_recall",
    "doc_novelty_score",
    "quantized_knn_recall",
    "part_triangle_counts",
    "heaps_vocab_growth",
]


def main() -> None:
    from pyspark_retention_pipeline_spark import all_queries, get_spark
    from pyspark_retention_pipeline_spark.plans.inspect import explain_str

    spark = get_spark("plans", shuffle_partitions=8)
    queries = all_queries()

    out = [
        "# Physical plans — headline queries",
        "",
        f"Generated by `scripts/dump_plans.py` at `{SF_DIR}`. The scale checklist",
        "per query: filters pushed into the scan, scan schema pruned to used",
        "columns, dimensions broadcast, exchanges minimized.",
        "",
    ]
    for name in HEADLINE:
        df = queries[name](spark, SF_DIR)
        plan = explain_str(df)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        n_exchange = plan.count("Exchange ")
        n_broadcast = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
        out.append(f"## {name}")
        out.append("")
        out.append(f"- exchanges: {n_exchange} · broadcast joins: {n_broadcast}")
        for i, p in enumerate(pushed):
            if p.strip():
                out.append(f"- scan {i} pushed filters: `{p}`")
        for i, s in enumerate(schemas):
            cols = [part.split(":")[0].strip() for part in s.split(",") if part.strip()]
            out.append(f"- scan {i} read schema ({len(cols)} cols): `{', '.join(cols)}`")
        out.append("")
        out.append("```")
        # Keep the operator tree section only (drop the verbose node details).
        tree = plan.split("\n\n")[0]
        out.append(tree.strip())
        out.append("```")
        out.append("")
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
