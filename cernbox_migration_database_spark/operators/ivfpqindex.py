"""Incremental IVF-PQ composite index — the memory-optimal scale path.

:mod:`ivfindex` stores full scaled vectors in its posting lists; at
10^9+ vectors the index itself becomes the storage problem, which is why
production stores run IVF-PQ: posting lists hold m sub-quantizer CODES
per vector (nibbles, not floats), and search approximates distance via
per-query lookup tables (asymmetric distance computation). This module
materializes the (cell, packed codes) relation as a cell-partitioned
versioned table and keeps it current through the base change feed — the
same maintenance discipline as the other indexes (inserts/deletes/
updates fold as keyed merges; coarse centroids AND codebooks are fixed
at build time, retrain = rebuild, loud).

Layout: ONE row per vector — ``(id, codes array<int>, cell)`` — not one
row per (vector, subspace). The exploded layout scaled index rows and
the ADC join/shuffle volume by m; at the trained m=32 config
(pq_trained.py) that made the probe ~3.3x slower than the m=8 seed era
(the round-8 baseline-ratio regression; COVERAGE.md, round 9). Packed, the
index row count equals corpus row count regardless of m, and ADC is a
row-local aggregate against a broadcast flat LUT — no per-candidate
groupBy shuffle exists in the probe at all.

A probe touches: the per-query flat m*k LUT (row-local arithmetic
against codebook literals), the nprobe probed cell PARTITIONS of the
code table (manifest-planned — nprobe/n_cells of an index that is itself
~100x smaller than the corpus), one broadcast LUT join on query_id, and
a row-local m-term aggregate per candidate
(similarity.pq_adc_packed_expr). All distances stay exact scaled-long
integers, so maintenance and probe are oracle-pairable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import store_state
from . import table_format as TF
from .similarity import (
    cell_of,
    pq_adc_packed_expr,
    pq_encode_packed,
    pq_query_lut_flat,
    probe_cells,
    with_norm,
)

_META = "_ivfpq_meta.json"


def _index_rows(docs: DataFrame, st: dict) -> DataFrame:
    """(id, codes, cell): the compact inverted index — ONE packed-code row
    per vector, keyed by its coarse cell. Both assignments are row-local
    arithmetic against plan literals; the one join is id-keyed and
    batch-sized on refresh."""
    cents = [(list(c), float(n)) for c, n in st["centroids"]]
    id_col = st["id_col"]
    cells = with_norm(docs, st["vec_col"]).select(
        F.col(id_col),
        cell_of(F.col("svec"), F.col("norm"), cents).alias("cell"),
    )
    codes = pq_encode_packed(
        docs, st["codebooks"], id_col=id_col, vec_col=st["vec_col"]
    )
    return codes.join(cells, id_col)


def build_ivfpq_index(
    spark: SparkSession,
    base_root: str,
    index_root: str,
    centroids: list[tuple[list[int], float]],
    codebooks: list[list[list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    st = {
        "base_root": base_root,
        "base_version": TF.current_version(base_root),
        "id_col": id_col,
        "vec_col": vec_col,
        "centroids": [[list(c), float(n)] for c, n in centroids],
        "codebooks": [[list(e) for e in cb] for cb in codebooks],
    }
    docs = TF.read_table(spark, base_root, st["base_version"])
    TF.create_table(
        _index_rows(docs, st), os.path.join(index_root, "codes"),
        partition_by="cell", distribute=True,
    )
    os.makedirs(index_root, exist_ok=True)
    # drift anchor: per-cell population at build, for ivfpq_drift_report
    st["ref_cells"] = {
        str(c): n for c, n in _cell_counts(spark, index_root).items()
    }
    store_state.write(os.path.join(index_root, _META), st)
    return st["base_version"]


def _cell_counts(spark: SparkSession, index_root: str) -> dict[int, int]:
    """Current per-cell populations — one cell-only columnar aggregate
    over the code table (≤ n_cells result rows)."""
    return {
        int(r["cell"]): int(r["n"])
        for r in TF.read_table(spark, os.path.join(index_root, "codes"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def ivfpq_drift_report(
    spark: SparkSession,
    index_root: str,
    psi_threshold: float = 0.2,
    share_factor: float = 2.0,
) -> dict:
    """Cell-population drift for the packed-code index: PSI of current
    vs build-time cell mass plus hot/empty-cell naming (the shared
    :func:`ivfindex.population_drift` arithmetic). The code table holds
    CODES, not vectors, so the quantization-error signal the full-vector
    index adds (ivf_drift_report's ``qerr``) is not measurable from this
    index alone — production IVF-PQ deployments keep the ivfindex-style
    full-vector index (or a sample of it) beside the code table for
    exactly this reason. Prescription on drift:
    :func:`rebuild_ivfpq_index` with retrained centroids."""
    from .ivfindex import population_drift

    st = store_state.read(os.path.join(index_root, _META))
    store_state.check_not_rebuilding(st, "rebuild_ivfpq_index")
    rep = population_drift(
        _cell_counts(spark, index_root),
        {int(c): int(n) for c, n in st.get("ref_cells", {}).items()},
        len(st["centroids"]),
        psi_threshold,
        share_factor,
    )
    # new_hot_cells, not hot_cells: anchored-hot cells of a skewed
    # corpus are a standing probe-cost fact, not drift (r11 advice)
    rep["drifted"] = rep["psi"] > psi_threshold or bool(
        rep["new_hot_cells"]
    )
    rep["action"] = (
        "rebuild_ivfpq_index with retrained centroids"
        if rep["drifted"]
        else None
    )
    return rep


def rebuild_ivfpq_index(
    spark: SparkSession,
    index_root: str,
    centroids: list[tuple[list[int], float]] | None = None,
) -> int:
    """Re-freeze the coarse centroid set and re-assign every code row —
    the repair :func:`ivfpq_drift_report` prescribes, now a first-class
    path instead of "rebuild the table yourself". Codebooks stay frozen:
    PQ codes are a per-subspace function of the VECTOR alone, so a
    coarse-quantizer change moves rows between cell partitions without
    re-encoding — the merge rewrites (id, codes, cell) rows with
    identical codes under new cells. New centroids come from the caller
    (kmeans_train + centroid_literals, or the full-vector sibling's
    ivfindex.replan_centroids — the code table holds no vectors to
    derive split seeds from). Crash-guarded exactly like
    ivfindex.rebuild_ivf_index: `rebuilding` + staged
    `pending_centroids` in the meta, every other entry point raises
    while the flag is up, resume re-runs the same idempotent merge."""
    st = store_state.read(os.path.join(index_root, _META))
    if st.get("rebuilding"):
        centroids = [
            (list(c), float(n)) for c, n in st["pending_centroids"]
        ]
    else:
        if centroids is None:
            raise ValueError(
                "rebuild_ivfpq_index needs a new centroid set "
                "(kmeans_train + centroid_literals, or "
                "ivfindex.replan_centroids on the full-vector sibling)"
            )
        refresh_ivfpq_index(spark, index_root)
        st = store_state.read(os.path.join(index_root, _META))
        st["rebuilding"] = True
        st["pending_centroids"] = [
            [list(c), float(n)] for c, n in centroids
        ]
        store_state.write(os.path.join(index_root, _META), st)
    new_st = dict(st)
    new_st["centroids"] = [[list(c), float(n)] for c, n in centroids]
    cur = st["base_version"]
    docs = TF.read_table(spark, st["base_root"], cur)
    TF.merge_into(
        spark,
        os.path.join(index_root, "codes"),
        _index_rows(docs, new_st),
        on=st["id_col"],
        check_cardinality=False,
    )
    new_st.pop("pending_centroids", None)
    new_st["rebuilding"] = False
    new_st["ref_cells"] = {
        str(c): n for c, n in _cell_counts(spark, index_root).items()
    }
    store_state.write(os.path.join(index_root, _META), new_st)
    return cur


def refresh_ivfpq_index(spark: SparkSession, index_root: str) -> int:
    """Fold the base change feed: O(changed vectors) encode/assign work,
    keyed merges on the vector id — deletes merge their single index row
    out; updates re-encode and re-assign in place (cross-cell moves
    included, the merge rewrites the row under its new cell partition)."""
    codes_root = os.path.join(index_root, "codes")

    def fold(st, ch, cur):
        key = [st["id_col"]]
        removed = ch.where(F.col("_change_type") == "delete")
        if not removed.isEmpty():
            TF.merge_into(
                spark, codes_root,
                _index_rows(removed.drop("_change_type"), st),
                on=key, when_matched="delete", when_not_matched=None,
                check_cardinality=False,
            )
        upserts = ch.where(F.col("_change_type").isin("insert", "update"))
        if not upserts.isEmpty():
            TF.merge_into(
                spark, codes_root,
                _index_rows(upserts.drop("_change_type"), st),
                on=key, check_cardinality=False,
            )

    return store_state.fold_window(
        spark, os.path.join(index_root, _META), fold, key="id_col",
        recover=lambda st: store_state.check_not_rebuilding(
            st, "rebuild_ivfpq_index"
        ),
    )


def probe_ivfpq_index(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    nprobe: int = 4,
    top_k: int = 5,
) -> DataFrame:
    """ADC top-k through the index — output contract identical to
    similarity.ivf_pq_topk (exact integer adc, total tie-break)."""
    st = store_state.read(os.path.join(index_root, _META))
    store_state.check_not_rebuilding(st, "rebuild_ivfpq_index")
    cents = [(list(c), float(n)) for c, n in st["centroids"]]
    codes_root = os.path.join(index_root, "codes")
    id_col = st["id_col"]
    # fanout=False: the probe batch is bounded (tens of rows) — fanning it
    # to session parallelism made every consumer (cell collect, broadcast
    # build, LUT) a 32-task stage over ~20 cached rows (r13, guide §2.4)
    probe = with_norm(queries, st["vec_col"], fanout=False).select(
        F.col(id_col).alias("query_id"),
        F.explode(
            probe_cells(F.col("svec"), F.col("norm"), cents, nprobe)
        ).alias("cell"),
    )
    lut = pq_query_lut_flat(
        queries,
        st["codebooks"],
        id_col=id_col,
        vec_col=st["vec_col"],
        fanout=False,
    )
    # Evaluate the literal-heavy query-side expressions ONCE: the probe's
    # k×dim centroid cosines and the m×k LUT are ~50 KB expression trees,
    # and every downstream job (cell collect, broadcast build, final plan)
    # re-OPTIMIZED and re-evaluated them (~1 s/probe of driver+codegen
    # time, measured r13). The eager localCheckpoint materializes the
    # nprobe-rows-per-query relation and replaces the trees with a
    # LogicalRDD leaf (guide §3.3: truncate huge plans); the cell collect
    # below then reads the materialized rows.
    plan = probe.join(lut, "query_id").localCheckpoint()
    want = {r["cell"] for r in plan.select("cell").distinct().collect()}
    have = {
        e["path"].split("/", 1)[0]
        for e in TF.manifest(codes_root)
        if "/" in e["path"]
    }
    rels = [f"cell={c}" for c in sorted(want) if f"cell={c}" in have]
    if not rels:
        t = queries.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id {t}, neighbor_id {t}, rank int, adc bigint"
        )
    k = len(st["codebooks"][0])
    # ONE broadcast: the per-query flat LUT rides on the (query_id, cell)
    # probe relation BEFORE the scan join (both are query-side and
    # metadata-sized — nprobe rows per query), so the code scan pays a
    # single broadcast hash join instead of two sequential broadcast
    # builds (two extra jobs + exchanges per probe; r12 verdict item 3,
    # guide §3.1).
    scored = (
        TF.scan_partitions(spark, codes_root, rels)
        .withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(plan), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc", pq_adc_packed_expr(k))
    )
    w = W.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )
