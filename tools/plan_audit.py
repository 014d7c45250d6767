"""Committed plan-audit artifact: execute selected catalog queries and
record the physical-plan facts that matter at 100 TB — shuffle exchange
count, broadcast reuse, whole-stage-codegen spans, and whether scan
filters are pushed — so per-round plan regressions are diffable instead
of re-derived by hand.

Usage: python tools/plan_audit.py [OUT.md] [sf_dir] [query ...]
Defaults: PLAN_AUDIT.md, /root/testdata/sf0.1, a headline set of the
most expensive + newest queries.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from id3c_spark.plans.queries import all_queries
from id3c_spark.session import get_spark

DEFAULT_QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "embedding_topk",
    "embedding_dup_clusters",
    "semantic_dedup_docs",
    "shared_span_docs",
    "bm25_search_docs",
    "segment_dedup_docs",
    "kmeans_embeddings",
    "pq_topk_embeddings",
    "ivfpq_topk_embeddings",
    "tfidf_keywords_docs",
    "lm_cross_entropy_docs",
    "dsir_top_docs",
    "dup_cluster_reps",
    "orders_profile",
    "small_qty_revenue",
    # round-6 additions
    "pagerank_dup_docs",
    "triangle_count_docs",
    "bloom_decontaminate_docs",
    "edit_distance_part_pairs",
    "principal_direction_embeddings",
    "funnel_signup_purchase",
    "waiting_suppliers",
    "order_window_overlaps",
    "user_type_scd2",
    "orders_expectations",
    # late-round-6 additions
    "shipping_priority_topk",
    "forecast_revenue",
    "nation_volume_shipping",
    "returned_top_customers",
    "top_revenue_supplier",
    "brand_disjunctive_revenue",
    "soft_dedup_docs",
    "ngram_novelty_docs",
    "srp_sketch_pairs",
    "prefix_jaccard_pairs",
    "kcore_dup_docs",
    "cms_custkey_estimates",
    "revenue_grouping_sets",
    "winnow_fingerprint_docs",
    "gazetteer_tag_docs",
    "salted_priority_revenue",
    "curation_pipeline_docs",
    "order_window_stats",
    "unpivot_order_metrics",
    "top_orders_per_priority",
    "decayed_user_engagement",
    "building_intersect_bigspenders",
    # round-7 additions
    "ivf_trained_topk_embeddings",
    "ivfpq_rerank_topk_embeddings",
    "min_price_supplier_region",
    "order_count_distribution",
    "large_volume_customers",
    "excess_part_shippers",
    "pagerank_weighted_docs",
    # late-round-7 additions
    "int8_topk_embeddings",
    # round-10 additions
    "q17_brand_small_qty",
    "embedding_dups",
    "int8_error_embeddings",
    "kmv_source_jaccard",
    "knn_label_embeddings",
    "event_transition_matrix",
    "embedding_drift",
    # round-15 additions
    "ann_lsh_topk",
    # round-16 additions (touched this round)
    "merge_upsert_orders",
    "hashed_doc_embeddings",
    "part_entity_resolution",
    "video_neardup_pairs_docs",
    "video_image_decontam_docs",
]


# the fact extraction lives in the library (shared with `id3c explain`,
# r14 verdict #8); this tool remains the committed per-round artifact
from id3c_spark.plans.audit import plan_facts as audit  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    out_path = args[0] if args else "PLAN_AUDIT.md"
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    names = args[2:] or DEFAULT_QUERIES
    spark = get_spark("plan_audit")
    catalog = all_queries()
    rows = []
    for name in names:
        df = catalog[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append((name, audit(plan)))
        spark.catalog.clearCache()

    with open(out_path, "w") as f:
        f.write(
            f"# Plan audit — executed physical plans at {sf_dir}\n\n"
            "Facts per query: shuffle Exchanges, broadcast exchanges\n"
            "(small-side joins working as intended), reused exchange/stage\n"
            "sites, distinct whole-stage-codegen spans, parquet scan sites,\n"
            "InMemoryTableScan sites (persist() cutting recomputation), and\n"
            "whether any scan has pushed filters. Counts are over the\n"
            "printed tree: under AQE a shared stage reprints its subtree at\n"
            "every reuse site, so shuffle/scan counts are upper bounds.\n\n"
            "| query | shuffles | broadcasts | reused | codegen spans | scans | cached | pushed filters | AQE final |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            f.write(
                f"| {name} | {a['shuffles']} | {a['broadcasts']} | {a['reused']} "
                f"| {a['codegen_spans']} | {a['scans']} | {a['cached']} "
                f"| {'yes' if a['pushed'] else '—'} "
                f"| {'yes' if a['aqe_final'] else '—'} |\n"
            )
    print(f"wrote {out_path} ({len(rows)} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
