"""Incremental IVF vector index (operators/ivfindex.py): probes must
match the one-shot ann_ivf, and change-feed refresh must leave the index
identical to a from-scratch rebuild (pure function of snapshot +
centroids), including vectors that move cells on update."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import ivfindex as IX
from cernbox_migration_database_spark.operators import similarity as S
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF


def _vec(i: int) -> list[float]:
    # three loose clusters around axes, deterministic
    axis = i % 3
    base = [0.05 * ((i * 7) % 5), 0.05 * ((i * 11) % 5), 0.05 * ((i * 13) % 5)]
    base[axis] += 2.0 + 0.01 * i
    return base


def _emb(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _mk(spark, tmp_path, ids=range(20)):
    base, idx = str(tmp_path / "emb"), str(tmp_path / "idx")
    df = _emb(spark, ids)
    TF.create_table(df, base)
    cents = S.seed_centroids(df, k=3)
    IX.build_ivf_index(spark, base, idx, cents)
    return base, idx, cents


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in df.collect()
    )


def test_probe_matches_one_shot_ann_ivf(spark, tmp_path):
    base, idx, cents = _mk(spark, tmp_path)
    corpus = TF.read_table(spark, base)
    queries = _emb(spark, [0, 1, 2, 5])
    got = _rows(IX.probe_ivf_index(spark, idx, queries, nprobe=2, top_k=3))
    want = _rows(S.ann_ivf(corpus, queries, cents, nprobe=2, top_k=3))
    assert got == want and len(got) > 0


def test_refresh_keeps_index_equal_to_rebuild(spark, tmp_path):
    base, idx, cents = _mk(spark, tmp_path)
    # insert new vectors, delete one, and UPDATE one onto a different
    # axis so its cell assignment must move partitions
    TF.merge_into(
        spark, base, _emb(spark, [30, 31]), on="vec_id", when_matched=None
    )
    TF.delete_where(spark, base, F.col("vec_id") == 4)
    moved = spark.createDataFrame(
        [(5, [9.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    TF.merge_into(spark, base, moved, on="vec_id")
    assert IX.refresh_ivf_index(spark, idx) == TF.current_version(base)

    idx2 = str(tmp_path / "idx2")
    IX.build_ivf_index(spark, base, idx2, cents)

    def cells(root):
        return sorted(
            (r["vec_id"], r["cell"], tuple(r["svec"]), r["norm"])
            for r in TF.read_table(
                spark, os.path.join(root, "cells")
            ).collect()
        )

    assert cells(idx) == cells(idx2)
    # deleted vector absent, moved vector re-assigned
    by_id = {v: c for v, c, _, _ in cells(idx)}
    assert 4 not in by_id
    assert by_id[5] == 0  # x-axis cell (centroid 0 seeds from vec 0)
    # probes through the refreshed index still match one-shot
    queries = _emb(spark, [1, 2])
    got = _rows(IX.probe_ivf_index(spark, idx, queries, nprobe=2, top_k=3))
    want = _rows(
        S.ann_ivf(TF.read_table(spark, base), queries, cents, nprobe=2, top_k=3)
    )
    assert got == want
    # no-op refresh
    v = TF.current_version(os.path.join(idx, "cells"))
    assert IX.refresh_ivf_index(spark, idx) == TF.current_version(base)
    assert TF.current_version(os.path.join(idx, "cells")) == v


def test_probe_reads_only_probed_cells(spark, tmp_path):
    """nprobe=1 ⇒ the scan underneath the probe opens exactly ONE cell
    partition (file-provenance check at the scan, before shuffles erase
    input_file_name), and every returned neighbor belongs to that cell."""
    base, idx, cents = _mk(spark, tmp_path)
    queries = _emb(spark, [0])  # hugs the x-axis centroid
    q = S.with_norm(queries)
    cell = q.select(
        F.explode(
            S.probe_cells(F.col("svec"), F.col("norm"), cents, 1)
        ).alias("cell")
    ).collect()[0]["cell"]
    scan = TF.scan_partitions(
        spark, os.path.join(idx, "cells"), [f"cell={cell}"]
    )
    read = {
        os.path.basename(os.path.dirname(r[0]))
        for r in scan.select(F.input_file_name()).distinct().collect()
    }
    assert read == {f"cell={cell}"}
    members = {r["vec_id"] for r in scan.collect()}
    out = IX.probe_ivf_index(spark, idx, queries, nprobe=1, top_k=5)
    neighbors = {r["neighbor_id"] for r in out.collect()}
    assert neighbors and neighbors <= members - {0}


def test_filtered_probe_restricts_to_predicate(spark, tmp_path):
    """Filtered search: top-k among only predicate-satisfying vectors,
    with attrs riding in the index (no base-table join) and surviving
    a change-feed refresh."""
    base, idx = str(tmp_path / "emb"), str(tmp_path / "idx")
    df = _emb(spark, range(20)).withColumn(
        "grp", (F.col("vec_id") % 2).cast("int")
    )
    TF.create_table(df, base)
    cents = S.seed_centroids(df, k=3)
    IX.build_ivf_index(spark, base, idx, cents, attr_cols=["grp"])
    queries = _emb(spark, [0, 1])
    out = IX.probe_ivf_index(
        spark, idx, queries, nprobe=3, top_k=4, where="grp = 1"
    )
    rows = out.collect()
    assert rows and all(r["neighbor_id"] % 2 == 1 for r in rows)
    # unfiltered equals ann_ivf; filtered equals ann_ivf restricted
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ann_ivf(
            df.where("vec_id % 2 = 1"), queries, cents, nprobe=3, top_k=4
        ).collect()
    }
    assert {(r["query_id"], r["neighbor_id"]) for r in rows} == want
    # attrs survive refresh: insert an odd vector near query 1's cluster
    TF.merge_into(
        spark, base,
        _emb(spark, [33]).withColumn("grp", F.lit(1).cast("int")),
        on="vec_id", when_matched=None,
    )
    IX.refresh_ivf_index(spark, idx)
    rows2 = IX.probe_ivf_index(
        spark, idx, queries, nprobe=3, top_k=20, where="grp = 1"
    ).collect()
    assert 33 in {r["neighbor_id"] for r in rows2}


def test_base_compaction_is_a_content_noop_for_refresh(spark, tmp_path):
    base, idx, cents = _mk(spark, tmp_path)
    before = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx, "cells")).collect()
    )
    TF.compact(spark, base)
    assert IX.refresh_ivf_index(spark, idx) == TF.current_version(base)
    after = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx, "cells")).collect()
    )
    assert after == before


def _recall(spark, base, idx, query_ids, nprobe=2, k=3):
    """recall@k of the index probe against exact brute force."""
    corpus = TF.read_table(spark, base)
    queries = corpus.where(F.col("vec_id").isin(list(query_ids)))
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in IX.probe_ivf_index(
            spark, idx, queries, nprobe=nprobe, top_k=k
        ).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"])
        for r in S.knn_bruteforce(corpus, queries, top_k=k).collect()
    }
    return len(got & want) / len(want)


def test_drift_lifecycle_split_hot_cell_and_rebuild(spark, tmp_path):
    """r10 verdict item 3: the vector member of the drift family. A
    drifted insert cohort piles into one cell — the report must flag it
    (hot cell + PSI + quantization-error rise) BEFORE recall falls below
    the 0.6 bar, and the targeted split-rebuild must restore balance
    while probes keep matching the one-shot oracle."""
    base, idx, cents = _mk(spark, tmp_path, ids=range(30))
    rep0 = IX.ivf_drift_report(spark, idx, share_factor=1.5)
    assert rep0["drifted"] is False and rep0["hot_cells"] == []
    assert rep0["psi"] == 0.0 and rep0["qerr_ratio"] == 1.0
    assert _recall(spark, base, idx, [0, 1, 2, 5]) >= 0.6

    # drifted cohort: a NEW direction (closest to the x-axis centroid but
    # far from it), bigger than any build cluster -> one hot cell
    drifted = spark.createDataFrame(
        [(100 + i, [3.0, 1.0, 0.02 * i]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    TF.merge_into(spark, base, drifted, on="vec_id", when_matched=None)
    IX.refresh_ivf_index(spark, idx)

    rep1 = IX.ivf_drift_report(spark, idx, share_factor=1.5)
    assert rep1["drifted"] is True, rep1
    assert rep1["hot_cells"], rep1
    assert rep1["psi"] > rep1["psi_threshold"]
    assert rep1["qerr_ratio"] > rep1["qerr_ratio_threshold"]
    assert "replan" in rep1["action"]
    # detection fired while recall is still healthy — the whole point:
    # the operator hears about drift BEFORE the quality cliff
    recall_at_detect = _recall(
        spark, base, idx, [0, 1, 100, 101], nprobe=2, k=3
    )
    assert recall_at_detect >= 0.6, recall_at_detect

    # targeted repair: promote the hot cell's smallest-id members to
    # centroids, retire empties, re-assign everything
    new_cents = IX.replan_centroids(
        spark, idx, rep1["hot_cells"], rep1["empty_cells"], per_cell=2
    )
    assert len(new_cents) == 3 - len(rep1["empty_cells"]) + 2 * len(
        rep1["hot_cells"]
    )
    IX.rebuild_ivf_index(spark, idx, new_cents)

    # post-split: the drifted mass divides between the two promoted
    # farthest-point seeds (~25/80 each = 31%); bar = 1.7/5 = 34%
    rep2 = IX.ivf_drift_report(spark, idx, share_factor=1.7)
    assert rep2["drifted"] is False, rep2
    assert rep2["hot_cells"] == [] and rep2["psi"] == 0.0
    # quantization error actually fell: the drifted mass now has its own
    # centroids instead of clamping to the least-wrong old one
    assert rep2["qerr"] < rep1["qerr"]
    # rebuilt index == a from-scratch build under the same centroids,
    # and probes still match the one-shot path
    idx2 = str(tmp_path / "idx_scratch")
    IX.build_ivf_index(spark, base, idx2, new_cents)
    a = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx, "cells")).collect()
    )
    b = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx2, "cells")).collect()
    )
    assert a == b
    queries = _emb(spark, [0, 1])
    got = _rows(IX.probe_ivf_index(spark, idx, queries, nprobe=2, top_k=3))
    want = _rows(
        S.ann_ivf(
            TF.read_table(spark, base), queries, new_cents,
            nprobe=2, top_k=3,
        )
    )
    assert got == want
    assert _recall(spark, base, idx, [0, 1, 100, 101]) >= 0.6
    # the rebuilt index keeps folding incrementally
    TF.delete_where(spark, base, F.col("vec_id") == 101)
    IX.refresh_ivf_index(spark, idx)
    assert 101 not in {
        r["vec_id"]
        for r in TF.read_table(spark, os.path.join(idx, "cells")).collect()
    }


def test_crashed_rebuild_is_loud_and_resumable(spark, tmp_path, monkeypatch):
    """The histstore rebuild discipline: a rebuild that dies after staging
    its plan (or mid-merge) leaves the meta flagged — probe/refresh/drift
    raise until a re-run completes with the SAME staged centroids."""
    import pytest

    base, idx, cents = _mk(spark, tmp_path, ids=range(20))
    # a fourth centroid along [3, 1, 0]: scaled-long form (VEC_SCALE=7)
    # with its unscaled L2 norm sqrt(10)
    new_cents = cents + [([30000000, 10000000, 0], 10.0 ** 0.5)]

    real = TF.merge_into

    def boom(*a, **k):
        raise RuntimeError("crash mid-rebuild")

    monkeypatch.setattr(TF, "merge_into", boom)
    with pytest.raises(RuntimeError, match="crash mid-rebuild"):
        IX.rebuild_ivf_index(spark, idx, new_cents)
    monkeypatch.setattr(TF, "merge_into", real)

    assert store_state.read(os.path.join(idx, IX._META))["rebuilding"] is True
    queries = _emb(spark, [0])
    for fn in (
        lambda: IX.refresh_ivf_index(spark, idx),
        lambda: IX.probe_ivf_index(spark, idx, queries).collect(),
        lambda: IX.ivf_drift_report(spark, idx),
        lambda: IX.replan_centroids(spark, idx, [0]),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            fn()

    # resume: centroids=None picks up the staged plan
    IX.rebuild_ivf_index(spark, idx)
    st = store_state.read(os.path.join(idx, IX._META))
    assert st["rebuilding"] is False and "pending_centroids" not in st
    assert len(st["centroids"]) == 4
    # equals a from-scratch build under the staged centroids
    idx2 = str(tmp_path / "idx2")
    IX.build_ivf_index(
        spark, base, idx2,
        [(list(c), float(n)) for c, n in st["centroids"]],
    )
    a = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx, "cells")).collect()
    )
    b = sorted(
        tuple(r)
        for r in TF.read_table(spark, os.path.join(idx2, "cells")).collect()
    )
    assert a == b


def test_rebuild_without_a_plan_raises(spark, tmp_path):
    import pytest

    base, idx, cents = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="centroid set"):
        IX.rebuild_ivf_index(spark, idx)


def test_skewed_at_build_corpus_is_not_drift(spark, tmp_path):
    """r11 advice: an intrinsically skewed corpus is hot at anchor time
    by construction — the report must name the hot cell as a standing
    probe-cost fact (hot_cells) WITHOUT prescribing a replan that could
    never flatten it (drifted stays False; new_hot_cells empty)."""
    base, idx = str(tmp_path / "emb"), str(tmp_path / "idx")
    # centroids = ids 0,1,2 (seed_centroids): one per axis; then 40 of
    # 48 vectors on the x axis, so the x cell holds >2x the uniform share
    rows = [(0, [2.0, 0.0, 0.0]), (1, [0.0, 2.0, 0.0]),
            (2, [0.0, 0.0, 2.0])]
    rows += [(10 + i, [2.0 + 0.01 * i, 0.01 * (i % 7), 0.0])
             for i in range(37)]
    rows += [(100 + i, [0.0, 2.0, 0.01 * i]) for i in range(4)]
    rows += [(200 + i, [0.0, 0.01 * i, 2.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    TF.create_table(df, base)
    IX.build_ivf_index(spark, base, idx, S.seed_centroids(df, k=3))
    rep = IX.ivf_drift_report(spark, idx, share_factor=1.5)
    assert rep["hot_cells"], rep  # the skew IS reported as probe cost
    assert rep["new_hot_cells"] == [], rep
    assert rep["drifted"] is False and rep["action"] is None, rep
    # a FRESH pile-up into a previously-cold cell still trips the verdict
    more = spark.createDataFrame(
        [(300 + i, [0.0, 3.0 + 0.01 * i, 1.0]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    TF.merge_into(spark, base, more, on="vec_id", when_matched=None)
    IX.refresh_ivf_index(spark, idx)
    rep1 = IX.ivf_drift_report(spark, idx, share_factor=1.5)
    assert rep1["new_hot_cells"], rep1
    assert rep1["drifted"] is True, rep1


def test_replan_exhausted_hot_cell_yields_no_duplicate_centroids(
    spark, tmp_path
):
    """r11 advice: a hot cell with fewer distinct members than the
    requested picks must stop early instead of re-electing an
    already-promoted vector (a duplicate centroid owning a permanently
    empty cell). Deletes between report and replan make this reachable."""
    base, idx = str(tmp_path / "emb"), str(tmp_path / "idx")
    # centroids = ids 0,1,2 (one per axis); x cluster gets 5 extra
    rows = [(0, [2.0, 0.0, 0.0]), (1, [0.0, 2.0, 0.0]),
            (2, [0.0, 0.0, 2.0])]
    rows += [(10 + i, [2.0 + 0.1 * i, 0.1, 0.0]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    TF.create_table(df, base)
    IX.build_ivf_index(spark, base, idx, S.seed_centroids(df, k=3))
    # shrink the hot x cell to TWO members (its own seed vector 0 plus
    # vector 10) after the report would have run
    gone = spark.createDataFrame(
        [(11 + i,) for i in range(4)], "vec_id long"
    ).join(TF.read_table(spark, base), "vec_id")
    TF.merge_into(
        spark, base, gone, on="vec_id",
        when_matched="delete", when_not_matched=None,
    )
    IX.refresh_ivf_index(spark, idx)
    hot_cell = TF.read_table(spark, os.path.join(idx, "cells")).where(
        F.col("vec_id") == 0
    ).first()["cell"]
    new_cents = IX.replan_centroids(spark, idx, [hot_cell], per_cell=3)
    # 3 kept + exactly 2 promotable members — the third pick stops
    # early instead of re-electing one of them as a duplicate centroid
    assert len(new_cents) == 5, new_cents
    promoted = [tuple(c) for c, _ in new_cents[3:]]
    assert len(set(promoted)) == len(promoted), new_cents
