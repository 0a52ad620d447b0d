"""Named workloads: which registry queries one benchmark run cycles through.

Each workload is a list of ``etl_job_spark.plans.registry.QUERIES`` names
and a one-line reason. Every query a workload names runs once untimed
first (the landing pass, which builds its fixtures) and then in a seeded
order on every timed pass.

``BENCHMARK.json`` lists the workloads the benchmark is judged on,
``mart_write`` and ``corpus_ann``: together they reach every layer the
per-layer metrics name, and 22 runs of each fit the benchmark's time
budget. Each has five queries of distinct cost, so the 15 samples of a
run's three measured passes put ``query_s.p50`` and ``query_s.tail``
inside one query's cluster of samples rather than in the gap between two. ``analytics_read``, ``corpus_dedup`` and ``ann_search`` are the
full query lists for table reads, dedup and vector search; a run of one
takes about as long as both judged workloads together, so they are run
by hand (``--workload ann_search``) rather than on every change.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "mart_write": {
        "why": (
            "the reference's daily job as table verbs (land, MERGE, enrichment "
            "UPDATEs, delete, SQL DML); driver-heavy, so table/txn/sql/commit "
            "changes show here and executor-side ones barely do"
        ),
        "queries": [
            # Left out to fit the time budget: kicc_mart_versioned (versioned
            # overwrite; every query here commits), kicc_mart_gdpr (key
            # delete; kicc_staging_subq_delete keeps a delete) and
            # kicc_mart_enrich_update, the library-call twin of
            # kicc_mart_sql_dml (same oracle, same table verbs).
            "kicc_mart_sql_dml",
            "kicc_merge_upsert",
            "kicc_mart_merge_multi",
            "kicc_mart_replace_where",
            "kicc_staging_subq_delete",
        ],
    },
    "analytics_read": {
        "why": (
            "read-only SQL/DataFrame work over the star schema, many sub-second "
            "queries; bypasses commit, dedup and similarity, so it is the "
            "no-change control"
        ),
        "queries": [
            "kicc_sales_by_store",
            "kicc_sales_by_prod",
            "kicc_enrich_store",
            "kicc_backfill_medium",
            "kicc_filter_rows",
            "kicc_semi_join",
            "kicc_anti_join",
            "pricing_summary",
            "shipping_priority",
            "local_supplier_revenue",
            "window_topk_products",
            "window_rank_family",
            "window_day_over_day",
            "window_trailing_7d",
            "orders_month_range_join",
            "full_outer_year_compare",
            "events_sessionize",
            "events_tumbling_hourly",
            "kicc_mart_window_read",
            "kicc_mart_sql_read",
            "kicc_mart_view_read",
        ],
    },
    "corpus_dedup": {
        "why": (
            "shuffle-heavy self-joins with eager localCheckpoint/persist; where "
            "dedup and text operator changes show"
        ),
        "queries": [
            "dedup_exact",
            "dedup_ngram_jaccard",
            "dedup_minhash_lsh",
            "dedup_simhash_pairs",
            "dedup_clusters",
            "corpus_dedup_resolved",
            "text_span_dedup",
            "corpus_filter_pipeline",
            "text_contamination",
        ],
    },
    "ann_search": {
        "why": (
            "CPU-bound vector scoring plus row_number top-k; index builds land in "
            "setup_s and searches in pass_s"
        ),
        "queries": [
            "embed_cosine_topk",
            "embed_l2_topk",
            "embed_lsh_topk",
            "embed_ivf_search",
            "embed_pq_search",
            "embed_ivfpq_search",
            "embed_cosine_neardup",
            "embed_semantic_dedup",
        ],
    },
    "corpus_ann": {
        "why": (
            "dedup, text and similarity operators in one list: MinHash/LSH "
            "dedup, quality filter, decontamination, exact and IVF top-k; the "
            "IVF build lands in setup_s, its searches in pass_s"
        ),
        "queries": [
            # dedup_clusters (the same pairs plus the CC loop) costs twice
            # as much per pass on these inputs and is left out for time
            "dedup_minhash_lsh",  # shingles, MinHash, LSH, verify_pairs
            "corpus_filter_pipeline",
            "text_contamination",
            "embed_cosine_topk",
            "embed_ivf_search",  # kmeans + IVF build on landing, search after
        ],
    },
}
