"""The benchmark's metric catalog.

End-to-end metrics are what a user of the pipeline waits for; every
workload reports all of them. ``query_ms`` is the typical latency of one
query: the median of the ETL workload's shipping mix, and the geometric
mean of the catalog's entries, whose median would pick out one entry. Per-layer metrics are named after the
program's modules and come from traced runs; each row also says which
end-to-end metric the layer should move and on which workload, so a change
to one layer can predict its effect before it is measured. A traced run
reports every per-layer metric; a layer the workload never calls reads 0.

Per-layer times are self times summed over the timed phase (a span's
duration minus its instrumented children), except where the name says
p50. Catalog per-module times are per round. Spark job and stage counts
are exclusive of nested counted spans. ``sources.store.rewrite_ratio`` is
files rewritten over the files the tables held before their MERGEs.
``trace.unattributed_share`` is the part of the timed phase outside every
layer span; ``trace.batch_s`` is ``batch_s`` as measured with tracing on,
so its difference from an untraced run's ``batch_s`` is the tracing
overhead.
"""

from __future__ import annotations

ETL = "etl_cycle_query"
CATALOG = "curation_catalog"
BOTH = f"{ETL},{CATALOG}"

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("batch_s", "s", "lower", 0.25),
    ("query_ms", "ms", "lower", 0.25),
    ("query_p90_ms", "ms", "lower", 0.25),
]

CATALOG_QUERIES = [
    "curation_pipeline_docs", "minhash_lsh_pairs", "ngram_jaccard_pairs",
    "incremental_dedup_docs", "semantic_dedup_docs", "ann_lsh_topk",
    "embedding_topk", "bm25_search_docs",
    "pagerank_dup_docs", "merge_upsert_orders", "pricing_summary",
    "revenue_by_nation", "market_share_by_year", "sessionize_events",
    "json_containment_events",
]
# Catalog entries that call no operator module: plain DataFrame/SQL plans.
SQL_QUERIES = ["pricing_summary", "revenue_by_nation", "market_share_by_year",
               "sessionize_events", "json_containment_events"]
OPERATOR_MODULES = ["dedup", "ann", "linalg", "search", "graph", "merge", "corpus"]
ETLS = ["enrollments", "manifest", "presence_absence"]
UPSERT_TABLES = ["site", "individual", "encounter", "encounter_location",
                 "location", "sample", "target", "presence_absence"]
SHIPPING_KINDS = ["lookup", "target_week", "age_sex", "tract"]
STORE_TABLES = ["encounter", "sample", "presence_absence", "individual",
                "encounter_location"]

# name, unit, better, moves, on
PER_LAYER: list[tuple[str, str, str, str, str]] = [
    ("session.start_s", "s", "lower", "setup_s", BOTH),
    ("process.peak_rss_mb", "MB", "lower", "batch_s", BOTH),
    ("jvm.heap_retained_mb", "MB", "lower", "batch_s", BOTH),
    ("api.receive_ms_p50", "ms", "lower", "batch_s", ETL),
    ("api.requests", "count", "higher", "batch_s", ETL),
    ("api.rejected", "count", "lower", "batch_s", ETL),
    ("sources.readers.read_ndjson_receiving_s", "s", "lower", "batch_s", ETL),
    ("streaming.incremental.run_s", "s", "lower", "batch_s", ETL),
    ("streaming.incremental.unprocessed_s", "s", "lower", "batch_s", ETL),
    ("streaming.incremental.mark_s", "s", "lower", "batch_s", ETL),
    ("streaming.incremental.rows_seen", "count", "higher", "batch_s", ETL),
    ("streaming.incremental.spark_jobs", "count", "lower", "batch_s", ETL),
]
for _etl in ETLS:
    PER_LAYER += [
        (f"etl.{_etl}.run_s", "s", "lower", "batch_s", ETL),
        (f"etl.{_etl}.spark_jobs", "count", "lower", "batch_s", ETL),
        (f"etl.{_etl}.spark_stages", "count", "lower", "batch_s", ETL),
    ]
PER_LAYER += [(f"etl.warehouse.upsert_s.{t}", "s", "lower", "batch_s", ETL)
              for t in UPSERT_TABLES]
PER_LAYER += [
    ("sources.store.merge_publish_s", "s", "lower", "batch_s", ETL),
    ("sources.store.publish_s", "s", "lower", "batch_s", ETL),
    ("sources.store.append_s", "s", "lower", "batch_s", ETL),
    ("sources.store.files_rewritten", "count", "lower", "batch_s", ETL),
    ("sources.store.files_carried", "count", "higher", "batch_s", ETL),
    ("sources.store.rewrite_ratio", "ratio", "lower", "batch_s", ETL),
]
PER_LAYER += [(f"sources.store.table_files.{t}", "count", "lower", "query_ms", ETL)
              for t in STORE_TABLES]
PER_LAYER += [
    ("plans.shipping.create_views_s", "s", "lower", "batch_s", ETL),
    ("plans.shipping.probe_s", "s", "lower", "batch_s", ETL),
]
PER_LAYER += [(f"plans.shipping.query_ms_p50.{k}", "ms", "lower", "query_ms", ETL)
              for k in SHIPPING_KINDS]
PER_LAYER += [(f"plans.queries.{q}_s", "s", "lower", "batch_s", CATALOG)
              for q in CATALOG_QUERIES]
PER_LAYER += [(f"plans.queries.{q}.{c}", "count", "lower", "batch_s", CATALOG)
              for q in CATALOG_QUERIES for c in ("spark_jobs", "spark_stages")]
PER_LAYER += [(f"operators.{m}_s", "s", "lower", "batch_s", CATALOG)
              for m in OPERATOR_MODULES]
PER_LAYER += [
    ("plans.curation_s", "s", "lower", "batch_s", CATALOG),
    ("plans.queries.sql_s", "s", "lower", "batch_s", CATALOG),
    ("trace.batch_s", "s", "lower", "batch_s", BOTH),
    ("trace.unattributed_share", "ratio", "lower", "batch_s", BOTH),
    ("trace.spans", "count", "lower", "batch_s", BOTH),
]

PER_LAYER_UNITS = {name: unit for name, unit, *_ in PER_LAYER}
END_TO_END_UNITS = {name: unit for name, unit, *_ in END_TO_END}
