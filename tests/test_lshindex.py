"""Incremental MinHash-LSH near-dup index (operators/lshindex.py).

The index must stay a pure function of the corpus snapshot across the
full insert/delete/update lifecycle, and probes must equal the batch-
vs-corpus restriction of the one-shot LSH pipeline."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import dedup as D
from cernbox_migration_database_spark.operators import lshindex as LX
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF

_BASE = "the quick brown fox jumps over the lazy dog near the river bank"
_CORPUS = [
    (1, _BASE),
    (2, _BASE + " today"),  # near-dup of 1
    (3, "completely different text about distributed query engines and joins"),
    (4, "pack my box with five dozen liquor jugs for the long journey home"),
    (5, "pack my box with five dozen liquor jugs for the long trip home"),  # ~4
    (6, "tiny"),  # < k tokens: no shingles, never indexed
]
_BATCH = [
    (100, _BASE + " yesterday"),  # near-dup of 1 and 2
    (101, "statistics on completely unrelated material science topics"),
    (102, "pack my box with five dozen liquor jugs for the long journey home"),  # dup of 4
]


def _mk(spark, tmp_path, corpus=_CORPUS):
    base, idx = str(tmp_path / "docs"), str(tmp_path / "idx")
    TF.create_table(
        spark.createDataFrame(corpus, "doc_id long, text string"), base
    )
    LX.build_lsh_index(spark, base, idx, n_buckets=4)
    return base, idx


def _batch(spark, rows=_BATCH):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_force(spark, corpus_df, batch_df, threshold=0.5):
    """Oracle: the one-shot LSH pipeline over corpus ∪ batch, restricted
    to (batch, corpus) cross pairs — what the index must reproduce."""
    union = corpus_df.unionByName(batch_df)
    sigs = D.minhash_signatures(union)
    pairs = D.lsh_candidate_pairs(sigs)
    sets = D._shingle_sets(union, "text", "doc_id", None, 3).select(
        "doc_id", "n_sh", F.explode("sh").alias("shingle")
    )
    a = sets.select(
        F.col("doc_id").alias("ia"), F.col("n_sh").alias("na"), "shingle"
    )
    b = sets.select(
        F.col("doc_id").alias("ib"), F.col("n_sh").alias("nb"), "shingle"
    )
    inter = (
        a.join(b, "shingle")
        .join(
            pairs.unionByName(
                pairs.select(F.col("ib").alias("ia"), F.col("ia").alias("ib"))
            ),
            ["ia", "ib"],
            "left_semi",
        )
        .groupBy("ia", "ib", "na", "nb")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    corpus_ids = {r[0] for r in corpus_df.select("doc_id").collect()}
    batch_ids = {r[0] for r in batch_df.select("doc_id").collect()}
    out = set()
    for r in inter.collect():
        j = r["i"] / (r["na"] + r["nb"] - r["i"])
        if j >= threshold:
            if r["ia"] in batch_ids and r["ib"] in corpus_ids:
                out.add((r["ia"], r["ib"], round(j, 9)))
            if r["ib"] in batch_ids and r["ia"] in corpus_ids:
                out.add((r["ib"], r["ia"], round(j, 9)))
    return out


def _probe_set(spark, idx, batch_df, threshold=0.5):
    return {
        (r["query_id"], r["corpus_id"], round(r["jaccard"], 9))
        for r in LX.probe_lsh_index(spark, idx, batch_df, threshold).collect()
    }


def test_probe_equals_one_shot_lsh_cross_pairs(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    got = _probe_set(spark, idx, _batch(spark))
    want = _brute_force(
        spark, TF.read_table(spark, base), _batch(spark)
    )
    assert got == want
    # the crafted structure is actually exercised: the exact dup and the
    # two near-dups are found, the unrelated doc matches nothing
    found = {(q, c) for q, c, _ in got}
    assert (102, 4) in found
    assert (100, 1) in found and (100, 2) in found
    assert not any(q == 101 for q, _ in found)


def test_refresh_keeps_index_equal_to_rebuild(spark, tmp_path):
    """Insert + delete + update folded through the change feed leave the
    bands table row-identical to a from-scratch build on the final
    snapshot — the pure-function invariant."""
    base, idx = _mk(spark, tmp_path)
    # insert two docs (one near-dup), delete one, rewrite another's text
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(7, _BASE + " tonight"), (8, "fresh unrelated content here")],
            "doc_id long, text string",
        ),
        on="doc_id", when_matched=None,
    )
    TF.delete_where(spark, base, F.col("doc_id") == 4)
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(3, "this document was rewritten wholesale with new words")],
            "doc_id long, text string",
        ),
        on="doc_id",
    )
    assert LX.refresh_lsh_index(spark, idx) == TF.current_version(base)

    idx2 = str(tmp_path / "idx2")
    LX.build_lsh_index(spark, base, idx2, n_buckets=4)

    def rows(root):
        return sorted(
            tuple(r)
            for r in TF.read_table(
                spark, os.path.join(root, "bands")
            ).collect()
        )

    assert rows(idx) == rows(idx2)
    # and probes through the refreshed index match brute force on the
    # final corpus
    got = _probe_set(spark, idx, _batch(spark))
    want = _brute_force(spark, TF.read_table(spark, base), _batch(spark))
    assert got == want
    assert not any(c == 4 for _, c, _ in got)  # deleted doc gone
    # no-op refresh: base unmoved
    v = TF.current_version(os.path.join(idx, "bands"))
    assert LX.refresh_lsh_index(spark, idx) == TF.current_version(base)
    assert TF.current_version(os.path.join(idx, "bands")) == v


def test_probe_edge_cases(spark, tmp_path):
    base, idx = _mk(spark, tmp_path)
    # batch of shingle-less docs: no signatures, clean empty result
    empty = LX.probe_lsh_index(
        spark, idx, _batch(spark, [(200, "too short")])
    )
    assert empty.count() == 0
    assert empty.columns == ["query_id", "corpus_id", "jaccard"]
    # batch whose bands hash to buckets holding no similar corpus doc:
    # candidates may arise, but verification kills them all
    got = _probe_set(
        spark, idx,
        _batch(spark, [(201, "zzz qqq www eee rrr ttt yyy uuu iii ooo")]),
    )
    assert got == set()
    # a raised threshold prunes the weakest verified pair
    lo = _probe_set(spark, idx, _batch(spark), threshold=0.2)
    hi = _probe_set(spark, idx, _batch(spark), threshold=0.95)
    assert {(q, c) for q, c, _ in hi} <= {(q, c) for q, c, _ in lo}
    assert all(j >= 0.95 for _, _, j in hi)


def test_streaming_sink_post_batch_refresh_survives_replay(spark, tmp_path):
    """The exactly-once sink's post_batch hook: a replayed microbatch's
    merge is a txn-marked no-op but post_batch still runs (healing a
    crash between commit and refresh), and because refresh is driven by
    the table VERSION the index never double-folds."""
    from cernbox_migration_database_spark.streaming.table_sink import (
        exactly_once_batch_writer,
    )

    base, idx = _mk(spark, tmp_path)
    calls = []

    def refresh(sp):
        calls.append(LX.refresh_lsh_index(sp, idx))

    apply = exactly_once_batch_writer(
        base, app_id="t", key="doc_id", post_batch=refresh
    )
    batch = _batch(spark, [(50, _BASE + " streamed in"), (51, "other words")])
    apply(batch, 7)
    # crash-replay: same batch id — merge must no-op, refresh must run
    v_bands = TF.current_version(os.path.join(idx, "bands"))
    apply(batch, 7)
    assert len(calls) == 2
    assert TF.current_version(os.path.join(idx, "bands")) == v_bands
    # index equals a from-scratch rebuild on the final corpus
    idx2 = str(tmp_path / "idx_rebuild")
    LX.build_lsh_index(spark, base, idx2, n_buckets=4)

    def rows(root):
        return sorted(
            tuple(r)
            for r in TF.read_table(
                spark, os.path.join(root, "bands")
            ).collect()
        )

    assert rows(idx) == rows(idx2)
    # the streamed-in near-dup is immediately probeable
    found = {
        (r["query_id"], r["corpus_id"])
        for r in LX.probe_lsh_index(spark, idx, _batch(spark)).collect()
    }
    assert (100, 50) in found


def test_base_compaction_is_a_content_noop_for_refresh(spark, tmp_path):
    """OPTIMIZE on the base table bumps its version with a layout-only
    commit; refresh must advance the index's recorded version without
    changing a single band row."""
    base, idx = _mk(spark, tmp_path)
    before = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx, "bands")).collect()
    )
    TF.compact(spark, base)
    assert LX.refresh_lsh_index(spark, idx) == TF.current_version(base)
    after = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx, "bands")).collect()
    )
    assert after == before
    assert store_state.read(os.path.join(idx, LX._META))["base_version"] == TF.current_version(base)


def test_probe_filters_self_pairs_of_already_indexed_docs(spark, tmp_path):
    """ADVICE r7: probing documents already present in the indexed corpus
    (the clusterindex replay shape) used to return trivial self-pairs at
    jaccard 1.0, silently relying on downstream joins to drop them. The
    probe contract now matches probe_ivf_index/probe_ivfpq_index:
    query_id != corpus_id — while cross pairs (same content under a
    DIFFERENT id) still surface."""
    base, idx = _mk(spark, tmp_path)
    # doc 4 verbatim (same id + text) plus a fresh near-dup of it
    batch = _batch(
        spark,
        [
            (4, "pack my box with five dozen liquor jugs for the long journey home"),
            (300, "pack my box with five dozen liquor jugs for the long journey away"),
        ],
    )
    got = _probe_set(spark, idx, batch)
    found = {(q, c) for q, c, _ in got}
    assert (4, 4) not in found          # no self-pair
    assert (4, 5) in found              # its genuine corpus near-dup
    assert (300, 4) in found            # same content, different id: kept
