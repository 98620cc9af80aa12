"""Query catalog: every operator from SURVEY.md §2 (+ the extended
large-scale data-pipeline set) as a named (PySpark builder, DuckDB oracle)
pair, consumed by ``__spark_entry__.py`` and the driver's differential
harness.

Cross-engine determinism rules used throughout (see functions/numeric.py):
  * every SUM/AVG over doubles goes through an exact DECIMAL accumulator on
    BOTH sides, so value hashes match bit-for-bit at any partition count;
  * every window/top-k has a total tie-break order;
  * timestamps compare in UTC (session.py pins the session time zone).

Each builder takes ``(spark, sf_dir)`` and returns a DataFrame; the oracle is
ANSI SQL over the same parquet, runnable by DuckDB. Column names are aliased
identically on both sides — the harness sorts columns by name before hashing.

Round 8: the catalog is split into domain modules (one per family below),
each registering into the shared ``._registry``; this package root is the
single public surface — ``QUERIES`` / ``ORACLE`` / ``PHASED`` plus every
query function re-exported by name, so existing imports keep working.
"""

from __future__ import annotations

from ._registry import ORACLE, PHASED, QUERIES, _t, _versioned_scratch, register

# importing each domain module populates the registry; star-imports put
# every public query function back on the package root for direct imports
from .relational import *  # noqa: F401,F403
from .tpch import *  # noqa: F401,F403
from .windows import *  # noqa: F401,F403
from .events import *  # noqa: F401,F403
from .migration import *  # noqa: F401,F403
from .text import *  # noqa: F401,F403
from .dedup import *  # noqa: F401,F403
from .similarity import *  # noqa: F401,F403
from .multimodal import *  # noqa: F401,F403
from .streaming import *  # noqa: F401,F403
from .table import *  # noqa: F401,F403
from .stats import *  # noqa: F401,F403
from .train import *  # noqa: F401,F403


# ---------------------------------------------------------------------------
# Driver-priority ordering. The correctness harness verifies the first 50
# entries of queries() in dict order (further reordered least-recently-
# verified-first by __spark_entry__.py); _PRIORITY pins the load-bearing
# queries ahead of near-duplicate shapes. Names listed but not (yet)
# defined are skipped, so new queries can claim a slot by being added.
# ---------------------------------------------------------------------------

_PRIORITY = [
    # --- sentinel core, 5 queries spanning the distinct execution
    # families (pushdown scan, the flagship migration join pipeline, the
    # merge sink, expression-heavy kv parsing, the shuffle-heavy LSH
    # dedup) — driver-green every round r1-r5, kept as the canary. ---
    "scan_filter_project_sort",
    "migration_merged",
    "merge_update_orders",
    "kv_parse_map",
    "dedup_minhash_lsh",
    # --- the ONLY 9 catalog queries without a driver row after r5 (the
    # round-5 window hit its 50-slot cap; all 9 are selfcheck- and
    # driver_sim-verified) — with these green, all 200 pre-round-6
    # queries have full-catalog driver coverage ---
    "graph_bfs_levels",
    "search_hybrid_rrf",
    "multimodal_phash_dedup",
    "table_insert_append",
    "window_gap_islands",
    "stats_ttest_groups",
    "agg_weighted_median",
    "events_rolling_distinct_users",
    "train_dataset_card",
    # --- round-9 addition: the end-to-end pretraining-corpus pipeline
    # (every stage composed as one DAG; the highest-signal composition
    # test in the catalog) ---
    "pipeline_pretraining_corpus",
    # --- round-9: the quantile sibling of the KMV store — the one sketch
    # whose refresh folds ALL change types (counts subtract exactly) ---
    "quantile_histogram_store",
    "multimodal_audio_features",
    "mv_agg_over_join",
    "streaming_text_ingest_search",
    "fuzzy_join_part_names",
    "multimodal_image_features",
    # --- round-8 additions: trained-quantizer ADC, positional phrase /
    # proximity retrieval, and the delete-window cluster ingest ---
    "similarity_pq_adc_trained",
    "similarity_ann_ivf_trained",
    "similarity_ivf_pq_trained",
    "search_phrase",
    "search_near",
    "datasource_scan_columns",
    "dedup_cluster_ingest",
    # --- round-6 additions claim the next slots as they are defined ---
    "datasource_scan_pruned",
    "table_stream_pipeline",
    "text_pii_scrub",
    "train_shard_manifest",
    "train_pack_nextfit",
    "train_bpe_merges",
    "table_tag_read",
    "streaming_pii_scrub",
    "quality_expectations",
    "train_bpe_encode",
    "search_mmr_rerank",
    "txn_multi_table",
    "search_bm25_indexed",
    "table_agg_pushdown",
    "mv_join_refresh",
    "profile_drift_psi",
    "train_split_no_leakage",
    "table_convert_in_place",
    "query_result_cache",
    # --- backstop: driver-green queries from earlier rounds fill the
    # remaining window slots, broadest families first ---
    "merge_into_versioned",
    "table_changes",
    "table_merge_mor",
    "table_cdc_replication",
    "mv_incremental_refresh",
    "point_lookup_indexed",
    "similarity_ivf_pq",
    "dedup_semantic_keep",
    "dedup_repeated_spans",
    "bloom_decontaminate",
    "train_weighted_sample",
    "approx_sketches",
    "join_enrich_parts",
    "router_4way",
    "path_functions",
    "similarity_ann_ivf",
    "text_langid",
    "scan_param_filter",
    "migration_audit",
    "migration_dead_letters",
    "dedup_exact",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "window_topk_per_group",
    "window_sessionize",
    "time_bucket_agg",
    "text_quality",
    "similarity_knn",
    "embedding_lsh_buckets",
    "dedup_simhash",
    "asof_forward_tolerance",
    "zorder_lineitem",
    "salted_join_skew",
    "stratified_exact_n",
    "kmv_distinct_estimate",
    "pipeline_end_to_end",
    "train_decontaminate",
    "graph_pagerank",
]


def _reorder_registry() -> None:
    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    for name, fn in QUERIES.items():
        ordered.setdefault(name, fn)
    QUERIES.clear()
    QUERIES.update(ordered)
    osql = {n: ORACLE[n] for n in QUERIES if n in ORACLE}
    ORACLE.clear()
    ORACLE.update(osql)


_reorder_registry()
