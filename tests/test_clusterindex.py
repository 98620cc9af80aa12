"""Incremental near-dup cluster maintenance (operators/clusterindex.py):
ingest must leave the (doc_id, cluster) map EXACTLY equal to re-clustering
the final corpus from scratch — same deterministic edge relation — while
touching only the batch and the clusters it bridges."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import clusterindex as CI
from cernbox_migration_database_spark.operators import lshindex as LX
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF

_T1 = "alpha beta gamma delta epsilon zeta eta theta"
_T2 = "one two three four five six seven eight"
_T3 = "red orange yellow green blue indigo violet ultraviolet"
_CORPUS = [
    (1, _T1),
    (2, _T1 + " iota"),          # cluster with 1
    (4, _T2),
    (5, _T2 + " nine"),          # cluster with 4
    (6, _T3),                    # singleton
]
# chosen so the md5 band values COLLIDE with both T1 and T2 (verified
# offline: jaccard 0.385 to each side, >= 1 shared band each) — at
# j≈0.35 a 4x2 banding fires only ~37% of the time, so arbitrary bridge
# text makes the scenario silently unexercised
_BRIDGE = (
    "alpha beta gamma delta epsilon zeta eta one two three four five six seven"
)
_THRESH = 0.3


def _mk(spark, tmp_path, corpus=_CORPUS, tag=""):
    base, idx, cl = (
        str(tmp_path / f"docs{tag}"),
        str(tmp_path / f"idx{tag}"),
        str(tmp_path / f"cl{tag}"),
    )
    TF.create_table(
        spark.createDataFrame(corpus, "doc_id long, text string"), base
    )
    LX.build_lsh_index(spark, base, idx, n_buckets=4)
    CI.build_cluster_index(spark, idx, cl, threshold=_THRESH)
    return base, idx, cl


def _cmap(spark, cl):
    return {
        r["doc_id"]: r["cluster"]
        for r in CI.read_clusters(spark, cl).collect()
    }


def test_build_clusters_with_singletons(spark, tmp_path):
    _, _, cl = _mk(spark, tmp_path)
    got = _cmap(spark, cl)
    assert got[1] == got[2] == 1
    assert got[4] == got[5] == 4
    assert got[6] == 6


def test_ingest_bridging_batch_equals_rebuild(spark, tmp_path):
    """A batch doc near both existing clusters MERGES them (all members
    relabel to the global minimum), a near-dup of one cluster joins it,
    an unrelated doc becomes a singleton — and the whole map equals a
    from-scratch re-cluster of the final corpus."""
    base, idx, cl = _mk(spark, tmp_path)
    batch = [
        (10, _BRIDGE),           # bridges clusters 1 and 4
        (11, _T3 + " infrared"), # joins 6
        (12, "totally unrelated words here about nothing"),
    ]
    TF.merge_into(
        spark, base,
        spark.createDataFrame(batch, "doc_id long, text string"),
        on="doc_id", when_matched=None,
    )
    assert CI.ingest_clusters(spark, cl) == TF.current_version(base)
    got = _cmap(spark, cl)
    # the scenario actually exercised: clusters 1 and 4 merged via 10
    assert got[10] == got[1] == got[2] == got[4] == got[5] == 1
    assert got[11] == got[6] == 6
    assert got[12] == 12
    # exact equality with a from-scratch build on the final corpus
    final = [
        (r["doc_id"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    _, _, cl2 = _mk(spark, tmp_path, corpus=final, tag="2")
    assert got == _cmap(spark, cl2)
    # the index advanced with the ingest: a later batch sees doc 10
    assert store_state.read(os.path.join(idx, LX._META))["base_version"] == TF.current_version(base)


def test_ingest_no_edges_makes_singletons_and_chains(spark, tmp_path):
    base, idx, cl = _mk(spark, tmp_path)
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(20, "isolated content one"), (21, "isolated content two zz")],
            "doc_id long, text string",
        ),
        on="doc_id", when_matched=None,
    )
    CI.ingest_clusters(spark, cl)
    got = _cmap(spark, cl)
    assert got[20] == 20 and got[1] == 1  # untouched corpus unchanged
    # second ingest chains through the first (10 ~ doc 1's cluster must
    # be visible to a later batch via the refreshed index)
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(30, _T1 + " iota kappa")], "doc_id long, text string"
        ),
        on="doc_id", when_matched=None,
    )
    CI.ingest_clusters(spark, cl)
    got = _cmap(spark, cl)
    assert got[30] == 1
    final = [
        (r["doc_id"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    _, _, cl2 = _mk(spark, tmp_path, corpus=final, tag="3")
    assert got == _cmap(spark, cl2)


def test_replayed_ingest_is_idempotent(spark, tmp_path):
    """Crash between the cluster merge and the state write: the replayed
    window re-derives the same labels (monotone relabeling) — no churn."""
    base, idx, cl = _mk(spark, tmp_path)
    sp = os.path.join(cl, CI._STATE)
    before = open(sp).read()
    TF.merge_into(
        spark, base,
        spark.createDataFrame([(10, _BRIDGE)], "doc_id long, text string"),
        on="doc_id", when_matched=None,
    )
    CI.ingest_clusters(spark, cl)
    want = _cmap(spark, cl)
    open(sp, "w").write(before)  # simulate the crash
    CI.ingest_clusters(spark, cl)  # replay
    assert _cmap(spark, cl) == want
    assert json.load(open(sp))["base_version"] == TF.current_version(base)


def _edges(spark, cl):
    return {
        (r["doc_a"], r["doc_b"])
        for r in TF.read_table(spark, CI._edges_root(cl)).collect()
    }


def test_delete_fold_splits_component_and_equals_rebuild(spark, tmp_path):
    """R7 verdict item 4: an RTBF delete used to force a full rebuild.
    The persisted edge relation now makes splits incremental: removing
    the BRIDGE node of a merged component must split it back into its
    two halves — exactly the case the map alone cannot recompute — and
    the result (map AND edge table) must equal a from-scratch build on
    the final corpus."""
    corpus = _CORPUS + [(10, _BRIDGE)]
    base, idx, cl = _mk(spark, tmp_path, corpus=corpus)
    before = _cmap(spark, cl)
    # the bridge really merged the two clusters (else the test is vacuous)
    assert before[1] == before[2] == before[4] == before[5] == before[10]
    TF.delete_where(spark, base, F.col("doc_id") == 10)
    assert CI.ingest_clusters(spark, cl) == TF.current_version(base)
    got = _cmap(spark, cl)
    assert 10 not in got
    assert got[1] == got[2] == 1
    assert got[4] == got[5] == 4
    assert got[6] == 6
    final = [
        (r["doc_id"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    _, _, cl2 = _mk(spark, tmp_path, corpus=final, tag="2")
    assert got == _cmap(spark, cl2)
    assert _edges(spark, cl) == _edges(spark, cl2)


def test_mixed_delete_insert_window_equals_rebuild(spark, tmp_path):
    """One change window carrying BOTH a delete (cluster member 2) and an
    insert (a new near-dup of 6) folds correctly: deletes first, then the
    batch against the post-delete map."""
    base, idx, cl = _mk(spark, tmp_path)
    TF.delete_where(spark, base, F.col("doc_id") == 2)
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(11, _T3 + " infrared")], "doc_id long, text string"
        ),
        on="doc_id", when_matched=None,
    )
    assert CI.ingest_clusters(spark, cl) == TF.current_version(base)
    got = _cmap(spark, cl)
    assert 2 not in got
    assert got[11] == got[6] == 6
    final = [
        (r["doc_id"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    _, _, cl2 = _mk(spark, tmp_path, corpus=final, tag="2")
    assert got == _cmap(spark, cl2)
    assert _edges(spark, cl) == _edges(spark, cl2)


def test_replayed_delete_window_is_idempotent(spark, tmp_path):
    """Crash between the delete fold and the state write: the replayed
    window finds the nodes already gone and no-ops cleanly."""
    corpus = _CORPUS + [(10, _BRIDGE)]
    base, idx, cl = _mk(spark, tmp_path, corpus=corpus)
    sp = os.path.join(cl, CI._STATE)
    before = open(sp).read()
    TF.delete_where(spark, base, F.col("doc_id") == 10)
    CI.ingest_clusters(spark, cl)
    want = _cmap(spark, cl)
    want_edges = _edges(spark, cl)
    open(sp, "w").write(before)  # simulate the crash
    CI.ingest_clusters(spark, cl)  # replay
    assert _cmap(spark, cl) == want
    assert _edges(spark, cl) == want_edges
    assert json.load(open(sp))["base_version"] == TF.current_version(base)


def test_update_window_folds_as_delete_plus_reinsert(spark, tmp_path):
    """An UPDATE decomposes into delete (pre-image edges out, component
    possibly split) + re-insert (post-image re-probes). Rewriting
    cluster-member 2 to text near cluster 4 must move it between
    clusters, and the final map + edge table must equal a from-scratch
    build on the final corpus."""
    base, idx, cl = _mk(spark, tmp_path)
    before = _cmap(spark, cl)
    assert before[2] == 1  # starts in cluster 1
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(2, _T2 + " ten")], "doc_id long, text string"
        ),
        on="doc_id",
    )
    assert CI.ingest_clusters(spark, cl) == TF.current_version(base)
    got = _cmap(spark, cl)
    # doc 2 joined {4, 5}; the merged component's label is its min id, 2
    assert got[2] == got[4] == got[5] == 2
    assert got[1] == 1  # the old cluster shrinks to a singleton
    final = [
        (r["doc_id"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    _, _, cl2 = _mk(spark, tmp_path, corpus=final, tag="2")
    assert got == _cmap(spark, cl2)
    assert _edges(spark, cl) == _edges(spark, cl2)


def test_compaction_window_is_layout_only_noop(spark, tmp_path):
    """OPTIMIZE on the base table between ingests must not perturb the
    cluster map or the index contents — compaction commits are
    layout-only and the change feed ignores them."""
    base, idx, cl = _mk(spark, tmp_path)
    before = _cmap(spark, cl)
    bands_before = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx, "bands")).collect()
    )
    TF.compact(spark, base)
    assert CI.ingest_clusters(spark, cl) == TF.current_version(base)
    assert _cmap(spark, cl) == before
    assert (
        sorted(
            tuple(r)
            for r in TF.read_table(
                spark, os.path.join(idx, "bands")
            ).collect()
        )
        == bands_before
    )
    # and a real batch after the compaction still folds correctly
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(40, _T1 + " iota kappa lambda")], "doc_id long, text string"
        ),
        on="doc_id", when_matched=None,
    )
    CI.ingest_clusters(spark, cl)
    assert _cmap(spark, cl)[40] == 1
