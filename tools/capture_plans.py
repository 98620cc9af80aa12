"""Regenerate PLANS.md: formatted physical plans for flagship queries.

Usage: python tools/capture_plans.py [sf_dir]   (default $SPARK_GRAFT_SF_DIR)

Everything from the NARRATIVE marker on in the existing PLANS.md is kept.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS = os.path.join(ROOT, "PLANS.md")
sys.path.insert(0, ROOT)

from cernbox_migration_database_spark import queries as Q
from cernbox_migration_database_spark.session import get_spark

SHOW = {
    "scan_filter_project_sort": "S1 scan: both predicates pushed to parquet, 4-col pruned read",
    "q1_pricing_summary": "partial (map-side) + final aggregate, scaled-long accumulators",
    "q5_region_revenue": "6-table join: fixed-enum dims (nation/region) hinted, supplier unhinted (SF-linear; AQE decides), AQE re-plans fact joins",
    "merge_update_orders": "MERGE shape: single left join on the key",
    "dedup_minhash_lsh": "LSH: band-bucket AGGREGATE (collect_set + in-array pair expansion) + UNHINTED candidate verification (AQE chooses; r4 dropped the broadcast hint — unbounded at 100 TB) — no self-join",
    "dedup_simhash": "one row per (doc, token), single groupBy(doc) with 64 partial sums — no 64-way explode",
    "similarity_knn": "corpus scan x broadcast queries, window top-k",
    "similarity_ann_ivf": "IVF: row-local cell assignment (no shuffle), broadcast probe equi-join on cell, window top-k",
    "q17_small_quantity_revenue": "correlated AVG subquery DECORRELATED into an aggregate + join (no per-row rescan)",
    "train_shuffle": "global deterministic rank WITHOUT a single-task window: range exchange + per-partition ids + broadcast offsets",
    "train_token_packing": "two-level (lang, chunk) running sums — window partitions by (lang, _chunk), offsets broadcast",
    "pipeline_end_to_end": "quality gate fused into scan; corpus shuffled exactly twice (fingerprint window, pack window)",
    "text_winnowing": "winnowing fingerprints: shifted-slice zip_with hash pipeline, persisted pre-explode (inferred-filter barrier); zero exchanges",
    "similarity_pq_adc": "PQ search: broadcast per-query LUT joined to the compact code index — corpus vectors never load",
    "graph_pagerank": "3 integer PageRank rounds: per round one edge equi-join + map-side-combinable SUM, edges/degrees persisted once",
    # round 7 additions
    "dedup_lsh_probe_index": "LSH index probe: batch signatures -> pruned bucket scan (manifest-planned, no listing) -> candidate equi-join -> exact verify on candidates only",
    "similarity_ivf_index_probe": "IVF index probe: row-local centroid ranking, nprobe cell partitions scanned, vectors projected away before the ranking exchange",
    "search_bm25_conjunctive": "boolean AND retrieval: count-distinct qualifier over the pruned postings slice, corpus-wide idf, scaled-long score quantization",
    "search_phrase": "positional phrase probe: <= |distinct terms| pruned bucket reads, per-doc shifted-position intersection via array HOFs (row-local, no text read)",
    "search_near": "span-near probe: two pruned bucket reads, one doc-keyed join, nested-HOF ordered-window pair count over the positions arrays",
    "similarity_pq_adc_trained": "trained-quantizer ADC: encode vs 512 literal entries in one codegen stage, broadcast per-query LUT join, map-side-combinable integer sums",
    "datasource_scan_columns": "connector scan under the columns option: projected source schema, only the named data column decodes at the parquet read",
    "text_lm_cross_entropy": "bigram LM: two keyed count aggregations train; scoring joins doc bigrams to counts on their keys; 1-row vocab scalar is the only broadcast",
    "approx_distinct_store": "KMV store estimates: k-minima states only (KiB-scale), zero base-table IO in the plan",
    "profile_orders": "N exact COUNT(DISTINCT) via one Expand feeding a single partial+final aggregation; stack-unpivot on the 1-row agg",
    "bloom_decontaminate": "bloom prefilter: corpus probe is row-local codegen arithmetic against ONE binary literal (zero joins); only bloom survivors reach the broadcast exact-verify join",
    "similarity_ivf_pq": "IVF-PQ: row-local cell assignment + per-query LUT, broadcast probe join restricts ADC to nprobe/n_cells of the code table, map-side-combinable SUM",
    "dedup_repeated_spans": "span dedup: ONE exchange on span text (canonical window), per-doc sorted-fold reassembly; posexplode persisted pre-window",
    "table_delete_vectors": "merge-on-read table read: parquet snapshot scan LEFT-ANTI-joined to the (file, row_index) tombstone frame — AQE picks the broadcast (no hint); data files unrewritten",
    "multimodal_phash_dedup": "image near-dup: ONE Arrow MapInPandas boundary (the codec stage), then JVM-side band-bucket aggregate + in-array pair expansion — no self-join, no second Python stage",
    # round 9 additions
    "quantile_histogram_store": "histogram-store estimates: state-table rows only (<= nbins x |parts|), broadcast triangular self-join for cumulatives — zero base IO, no unpartitioned window",
    "multimodal_audio_features": "real WAV decode + integer features in ONE Arrow MapInPandas boundary; output O(#media) rows (features reduce inside the batch)",
    "mv_agg_over_join": "stacked views serve: the aggregate view's state table scan only — the joins and folds happened at refresh time, the read plan is a KiB-scale scan",
    "text_langid": "langid scoring: 64 regexp_count occurrence counts x integer weights over ONE materialized normalization — whole-stage codegen, no interpreted HOF, no map scan",
    "multimodal_video_frames": "real AVI decode + frame sampling in ONE Arrow MapInPandas boundary; output O(#media x #sampled-frames) rows, position-weighted sums reduce inside the batch",
    "table_branch_merge": "branch rebase: change-feed diffs pruned to touched partitions, key-projected conflict join, two keyed merges — fork and FF merge are pure metadata (no plan at all)",
}


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name="plans")
    out = [
        "# PLANS — physical-plan evidence for flagship queries",
        "",
        "Captured from `df.explain('formatted')` at sf0.1 (regenerate with",
        "`python tools/capture_plans.py`). Annotations state what the plan",
        "must show for the 100 TB design to hold.",
        "",
    ]
    for name, note in SHOW.items():
        df = Q.QUERIES[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        lines = plan.splitlines()
        interesting = [l for l in lines if "PushedFilters" in l or "ReadSchema" in l]
        out += [f"## {name}", f"*{note}*", "```", *lines[:30], "```"]
        if interesting:
            out += ["Scan details:", "```"]
            out += [x.strip()[:160] for x in interesting[:4]]
            out += ["```"]
        out.append("")
    # preserve the per-round narrative: everything at/after the marker in
    # the existing file survives regeneration (the plan dumps above are
    # the only regenerated part)
    marker = (
        "<!-- NARRATIVE (per-round, appended by builders) — "
        "capture_plans.py preserves everything below this line -->"
    )
    try:
        existing = open(PLANS).read()
        i = existing.find(marker)
        if i >= 0:
            out.append(existing[i:].rstrip())
            out.append("")
    except OSError:
        pass
    with open(PLANS, "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(out)} lines)")


if __name__ == "__main__":
    main()
