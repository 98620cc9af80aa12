"""Incremental near-duplicate CLUSTER maintenance over a growing corpus.

`dedup_clusters_star` re-clusters the whole corpus per run; the
production need is standing DUPLICATE GROUPS that absorb each ingest
batch without touching the settled majority. This module keeps a
(doc_id, cluster) map as a versioned table next to an
:mod:`lshindex` — cluster = the component's minimum doc_id under the
deterministic edge relation "LSH band candidates verified at exact
Jaccard >= threshold" (the same md5-derived relation the one-shot
pipeline and the DuckDB oracle compute, so incremental == from-scratch
is an EXACT equality, not an approximation).

Why the increment is exact: the edge predicate depends only on the two
documents, so corpus-internal edges never appear retroactively — a new
batch can only add edges INCIDENT to its own docs, which the index
probe (batch ↔ corpus) and a batch-local LSH pass (batch ↔ batch) find
completely. Ingest therefore touches: the batch, plus members of the
existing clusters the batch bridges — never the rest of the corpus.

Relabeling is MONOTONE (a cluster label only ever decreases, to the
minimum of its merged component), which makes ingest idempotent: a
replayed window re-derives the same labels and the merges no-op — the
same crash posture as the index refreshes, without extra machinery.

Deletes are incremental too (round 8): the deterministic edge relation
is PERSISTED as a versioned side table (``<cluster_root>_edges`` —
O(duplicate pairs) rows, maintained alongside the map: insert windows
merge the new incident edges in, delete windows merge a removed node's
incident edges out). Removing a node can SPLIT a component, which the
map alone cannot recompute — but the stored edges can: only the touched
components' survivors are re-closed from their stored edges, so an RTBF
delete costs O(touched clusters), never a corpus re-cluster. Updates
fold as delete + re-insert of the same node: the pre-image's edges merge
out with the delete fold, the post-image joins the batch and re-probes —
so the full insert/delete/update lifecycle is incremental.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import lshindex as LX
from . import store_state
from . import table_format as TF
from .dedup import connected_components_star, minhash_lsh_dedup

_STATE = "_cluster_state.json"


def _with_singletons(docs: DataFrame, cc: DataFrame, id_col: str) -> DataFrame:
    """Every doc gets a cluster: component label where edged, its own id
    where isolated."""
    return (
        docs.select(id_col)
        .join(cc.withColumnRenamed("doc_id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("cluster"), F.col(id_col)).alias("cluster"),
        )
    )


def _edges_root(cluster_root: str) -> str:
    return cluster_root.rstrip("/") + "_edges"


def _canon_edges(pairs: DataFrame) -> DataFrame:
    """Canonical undirected edge rows keyed (doc_a < doc_b)."""
    a, b = F.col("doc_a"), F.col("doc_b")
    return (
        pairs.select(F.least(a, b).alias("doc_a"),
                     F.greatest(a, b).alias("doc_b"))
        .where(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )


def build_cluster_index(
    spark: SparkSession,
    index_root: str,
    cluster_root: str,
    threshold: float = 0.5,
) -> int:
    """Cluster the corpus behind the LSH index at ``index_root`` from
    scratch (one full LSH pass + O(log d) component rounds) and commit
    the (doc_id, cluster) map plus the edge relation side table that
    makes deletes incremental. Returns the base version clustered."""
    st_idx = store_state.read(os.path.join(index_root, LX._META))
    base_root, id_col = st_idx["base_root"], st_idx["id_col"]
    base_v = TF.current_version(base_root)
    if base_v != st_idx["base_version"]:
        raise ValueError(
            "lsh index lags its base table — refresh_lsh_index first"
        )
    docs = TF.read_table(spark, base_root, base_v)
    pairs = minhash_lsh_dedup(
        docs,
        text_col=st_idx["text_col"],
        id_col=id_col,
        k=st_idx["k"],
        threshold=threshold,
    )
    cc = connected_components_star(pairs)
    TF.create_table(_with_singletons(docs, cc, id_col), cluster_root)
    TF.create_table(
        _canon_edges(pairs.select("doc_a", "doc_b")),
        _edges_root(cluster_root),
    )
    store_state.write(
        os.path.join(cluster_root, _STATE),
        {
            "index_root": index_root,
            "base_version": base_v,
            "threshold": threshold,
        },
    )
    return base_v


def _fold_deletes(
    spark: SparkSession,
    cluster_root: str,
    removed: DataFrame,
    id_col: str,
) -> None:
    """Remove ``removed`` nodes from the map and re-close ONLY their
    components from the stored edge relation. A removal can split a
    component; the survivors' new labels are recomputed from scratch —
    but only over the touched components' surviving edges, so the cost
    is O(touched clusters), never the corpus."""
    eroot = _edges_root(cluster_root)
    if not os.path.isdir(eroot):
        raise ValueError(
            "cluster index has no persisted edge relation (pre-r8 build) "
            "— rebuild with build_cluster_index() to enable deletes"
        )
    removed = removed.select(id_col).distinct()
    clusters = TF.read_table(spark, cluster_root)
    touched = (
        clusters.join(removed, id_col, "left_semi")
        .select("cluster")
        .distinct()
    )
    survivors = (
        clusters.join(touched, "cluster", "left_semi")
        .join(removed, id_col, "left_anti")
        .select(id_col)
    )
    edges = TF.read_table(spark, eroot)
    dead = (
        edges.join(
            removed.select(F.col(id_col).alias("doc_a")), "doc_a",
            "left_semi",
        )
        .unionByName(
            edges.join(
                removed.select(F.col(id_col).alias("doc_b")), "doc_b",
                "left_semi",
            )
        )
        .distinct()
    )
    if not dead.isEmpty():
        TF.merge_into(
            spark, eroot, dead, on=["doc_a", "doc_b"],
            when_matched="delete", when_not_matched=None,
            check_cardinality=False,
        )
    # edges never cross components, so one surviving endpoint puts an
    # edge inside a touched component — the exact subgraph to re-close
    sub = TF.read_table(spark, eroot).join(
        survivors.select(F.col(id_col).alias("doc_a")), "doc_a",
        "left_semi",
    )
    TF.merge_into(
        spark, cluster_root, removed, on=id_col,
        when_matched="delete", when_not_matched=None,
        check_cardinality=False,
    )
    if not survivors.isEmpty():
        cc = connected_components_star(sub)
        TF.merge_into(
            spark, cluster_root, _with_singletons(survivors, cc, id_col),
            on=id_col, check_cardinality=False,
        )


def ingest_clusters(spark: SparkSession, cluster_root: str) -> int:
    """Fold the base table's change window into the cluster map, the
    edge relation, AND the LSH index, in the only order that is
    complete: probe the inserted batch against the PRE-window index
    (batch↔corpus edges), LSH the batch against itself (batch↔batch
    edges), fold deletes (incident edges out, touched components
    re-closed from stored edges), then merge the batch's components in
    and refresh the index so future ingests see these docs.

    Cost shape: O(batch) signatures + |batch bands| bucket reads +
    components over (batch ∪ bridged clusters ∪ delete-touched
    clusters) — the corpus outside those is never read or written.
    Updates decompose into delete (pre-image edges fold out) +
    re-insert (post-image re-probes with the batch); the decomposition
    is complete because the edge predicate depends only on final
    content."""
    return store_state.fold_window(
        spark, os.path.join(cluster_root, _STATE),
        lambda st, ch, cur: _ingest(spark, cluster_root, st, ch),
        key="id_col", preimage=True, source=_index_state,
    )


def _index_state(st: dict) -> dict:
    """The LSH index's sidecar: it names the base table and its key."""
    return store_state.read(os.path.join(st["index_root"], LX._META))


def _ingest(
    spark: SparkSession, cluster_root: str, st: dict, ch: DataFrame
) -> None:
    idx = st["index_root"]
    st_idx = _index_state(st)
    id_col = st_idx["id_col"]
    removed = (
        ch.where(F.col("_change_type").isin("delete", "update_preimage"))
        .select(id_col)
        .distinct()
    )
    batch = ch.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type", "_commit_version")
    has_removed, has_batch = not removed.isEmpty(), not batch.isEmpty()
    if not has_removed and not has_batch:
        # layout-only window (compaction/Z-order commits): nothing to
        # cluster, but the index + state still advance to the new version
        LX.refresh_lsh_index(spark, idx)
        return
    e1 = e2 = None
    if has_batch:
        # edges incident to the batch: against the settled corpus via the
        # index (pre-refresh, self-pairs filtered by the probe contract;
        # edges to docs deleted in this same window are dropped), within
        # the batch via a batch-local LSH pass
        e1 = (
            LX.probe_lsh_index(spark, idx, batch, threshold=st["threshold"])
            .select(
                F.col("query_id").alias("doc_a"),
                F.col("corpus_id").alias("doc_b"),
            )
            .join(
                removed.select(F.col(id_col).alias("doc_b")), "doc_b",
                "left_anti",
            )
        )
        e2 = minhash_lsh_dedup(
            batch,
            text_col=st_idx["text_col"],
            id_col=id_col,
            k=st_idx["k"],
            threshold=st["threshold"],
        ).select("doc_a", "doc_b")
    # hand the already-diffed window to the index refresh (it is the
    # preimage-inclusive feed the refresh would re-derive with two more
    # snapshot scans). Only valid when the index starts from the SAME
    # version we diffed from (on replay the index may already be ahead —
    # its own early return handles that; a half-advanced index must
    # re-derive)
    if st_idx["base_version"] == st["base_version"]:
        LX.refresh_lsh_index(spark, idx, _changes=ch)
    else:
        LX.refresh_lsh_index(spark, idx)
    if has_removed:
        _fold_deletes(spark, cluster_root, removed, id_col)

    if has_batch:
        clusters = TF.read_table(spark, cluster_root)
        # corpus endpoints collapse to their CLUSTER LABEL: components
        # over (batch doc ids ∪ touched labels) — each existing cluster
        # is one super-node, so the subgraph is batch-sized +
        # bridged-label-sized
        lbl = clusters.withColumnRenamed(id_col, "doc_b")
        e1c = e1.join(lbl, "doc_b").select(
            "doc_a", F.col("cluster").alias("doc_b")
        )
        edges = e1c.unionByName(e2)
        if edges.isEmpty():
            merged = batch.select(
                F.col(id_col), F.col(id_col).alias("cluster")
            )
        else:
            cc = connected_components_star(edges)
            comp = _with_singletons(batch, cc, id_col)
            # an existing cluster whose LABEL landed in a component with
            # a smaller minimum relabels ALL its members (monotone
            # decrease)
            relabel = (
                cc.where(F.col("cluster") < F.col("doc_id"))
                .withColumnRenamed("doc_id", "old_label")
                .withColumnRenamed("cluster", "new_label")
            )
            moved = (
                clusters.join(
                    relabel,
                    clusters["cluster"] == relabel["old_label"],
                )
                .select(F.col(id_col), F.col("new_label").alias("cluster"))
            )
            merged = comp.unionByName(moved)
        TF.merge_into(
            spark, cluster_root, merged, on=id_col, check_cardinality=False
        )
        # keep the edge-relation invariant: stored edges == the one-shot
        # relation over the current corpus (old↔old edges were already
        # stored; the batch contributes its incident edges)
        new_edges = _canon_edges(e1.unionByName(e2))
        if not new_edges.isEmpty():
            TF.merge_into(
                spark, _edges_root(cluster_root), new_edges,
                on=["doc_a", "doc_b"], when_matched=None,
                check_cardinality=False,
            )


def read_clusters(spark: SparkSession, cluster_root: str) -> DataFrame:
    return TF.read_table(spark, cluster_root)
