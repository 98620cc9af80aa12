"""Incremental IVF-PQ index (operators/ivfpqindex.py): probes must match
the one-shot ivf_pq_topk, and refresh must leave the code table identical
to a from-scratch rebuild across the insert/delete/update lifecycle."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import ivfpqindex as PQ
from cernbox_migration_database_spark.operators import similarity as S
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF


def _vec(i: int) -> list[float]:
    axis = i % 2
    v = [
        0.05 * ((i * 7) % 5), 0.05 * ((i * 11) % 5),
        0.05 * ((i * 13) % 5), 0.05 * ((i * 3) % 5),
    ]
    v[axis * 2] += 2.0 + 0.01 * i
    return v


def _emb(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids],
        "vec_id long, embedding array<float>",
    )


def _mk(spark, tmp_path, ids=range(24)):
    base, idx = str(tmp_path / "emb"), str(tmp_path / "idx")
    df = _emb(spark, ids)
    TF.create_table(df, base)
    cents = S.seed_centroids(df, k=2)
    books = S.pq_codebooks(df, m=2, k=4)  # dim 4 -> 2 subspaces of 2
    PQ.build_ivfpq_index(spark, base, idx, cents, books)
    return base, idx, cents, books


def _rows(df):
    return sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["adc"])
        for r in df.collect()
    )


def test_probe_matches_one_shot_ivf_pq(spark, tmp_path):
    base, idx, cents, books = _mk(spark, tmp_path)
    corpus = TF.read_table(spark, base)
    queries = _emb(spark, [0, 1, 3])
    got = _rows(PQ.probe_ivfpq_index(spark, idx, queries, nprobe=1, top_k=3))
    want = _rows(
        S.ivf_pq_topk(corpus, queries, cents, books, nprobe=1, top_k=3)
    )
    assert got == want and len(got) > 0
    # nprobe = n_cells degenerates to full-corpus ADC (both paths)
    got2 = _rows(PQ.probe_ivfpq_index(spark, idx, queries, nprobe=2, top_k=3))
    codes = S.pq_encode(corpus, books)
    want2 = _rows(S.pq_adc_topk(codes, queries, books, top_k=3))
    assert got2 == want2


def test_refresh_equals_rebuild_across_lifecycle(spark, tmp_path):
    base, idx, cents, books = _mk(spark, tmp_path)
    TF.merge_into(
        spark, base, _emb(spark, [40, 41]), on="vec_id", when_matched=None
    )
    TF.delete_where(spark, base, F.col("vec_id") == 6)
    moved = spark.createDataFrame(
        [(7, [9.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    TF.merge_into(spark, base, moved, on="vec_id")  # cross-cell move
    assert PQ.refresh_ivfpq_index(spark, idx) == TF.current_version(base)

    idx2 = str(tmp_path / "idx2")
    PQ.build_ivfpq_index(spark, base, idx2, cents, books)

    def rows(root):
        return sorted(
            tuple(r)
            for r in TF.read_table(
                spark, os.path.join(root, "codes")
            ).collect()
        )

    assert rows(idx) == rows(idx2)
    by_id = {}
    for r in TF.read_table(spark, os.path.join(idx, "codes")).collect():
        by_id.setdefault(r["vec_id"], set()).add(r["cell"])
    assert 6 not in by_id
    assert by_id[7] == {0}  # moved onto the x-axis cell
    # probes through the refreshed index match one-shot on final corpus
    queries = _emb(spark, [1, 3])
    got = _rows(PQ.probe_ivfpq_index(spark, idx, queries, nprobe=2, top_k=3))
    want = _rows(
        S.ivf_pq_topk(
            TF.read_table(spark, base), queries, cents, books,
            nprobe=2, top_k=3,
        )
    )
    assert got == want
    # no-op refresh + compaction no-op
    v = TF.current_version(os.path.join(idx, "codes"))
    assert PQ.refresh_ivfpq_index(spark, idx) == TF.current_version(base)
    assert TF.current_version(os.path.join(idx, "codes")) == v
    TF.compact(spark, base)
    assert PQ.refresh_ivfpq_index(spark, idx) == TF.current_version(base)
    assert rows(idx) == rows(idx2)


def test_ivfpq_population_drift_report(spark, tmp_path):
    """Cell-population drift for the packed-code index: a drifted insert
    cohort piling into one cell trips PSI + hot-cell naming; the
    prescription is a loud rebuild (quantizers are frozen at build)."""
    base, idx, cents, books = _mk(spark, tmp_path)
    rep0 = PQ.ivfpq_drift_report(spark, idx, share_factor=1.3)
    assert rep0["drifted"] is False and rep0["psi"] == 0.0

    drifted = spark.createDataFrame(
        [(100 + i, [3.0, 0.5, 0.2, 0.001 * i]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    TF.merge_into(spark, base, drifted, on="vec_id", when_matched=None)
    PQ.refresh_ivfpq_index(spark, idx)

    rep1 = PQ.ivfpq_drift_report(spark, idx, share_factor=1.3)
    assert rep1["drifted"] is True, rep1
    assert rep1["hot_cells"] and rep1["psi"] > rep1["psi_threshold"]
    assert "rebuild" in rep1["action"]


def test_ivfpq_rebuild_reassigns_cells_and_is_crash_safe(
    spark, tmp_path, monkeypatch
):
    """rebuild_ivfpq_index: coarse re-assignment under new centroids with
    frozen codebooks — codes identical, cells moved; crash-guarded like
    the full-vector sibling (loud while flagged, resume completes)."""
    import pytest

    base, idx, cents, books = _mk(spark, tmp_path)
    # new coarse set: the old two + a third along the y-ish axis
    extra = S.seed_centroids(
        spark.createDataFrame(
            [(0, [0.1, 0.1, 2.5, 0.1])], "vec_id long, embedding array<float>"
        ),
        k=1,
    )
    new_cents = cents + extra

    real = TF.merge_into

    def boom(*a, **k):
        raise RuntimeError("crash mid-rebuild")

    monkeypatch.setattr(TF, "merge_into", boom)
    with pytest.raises(RuntimeError, match="crash mid-rebuild"):
        PQ.rebuild_ivfpq_index(spark, idx, new_cents)
    monkeypatch.setattr(TF, "merge_into", real)
    assert store_state.read(os.path.join(idx, PQ._META))["rebuilding"] is True
    queries = _emb(spark, [0, 1])
    for fn in (
        lambda: PQ.refresh_ivfpq_index(spark, idx),
        lambda: PQ.probe_ivfpq_index(spark, idx, queries).collect(),
        lambda: PQ.ivfpq_drift_report(spark, idx),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            fn()
    # resume picks up the staged plan
    PQ.rebuild_ivfpq_index(spark, idx)
    st = store_state.read(os.path.join(idx, PQ._META))
    assert st["rebuilding"] is False and "pending_centroids" not in st
    assert len(st["centroids"]) == 3
    # rebuilt == from-scratch build under the new coarse set (codes
    # bit-identical, cells re-assigned)
    idx2 = str(tmp_path / "idx_scratch")
    PQ.build_ivfpq_index(spark, base, idx2, new_cents, books)

    def rows(root):
        return sorted(
            (r["vec_id"], tuple(r["codes"]), r["cell"])
            for r in TF.read_table(
                spark, os.path.join(root, "codes")
            ).collect()
        )

    assert rows(idx) == rows(idx2)
    # probes through the rebuilt index match the one-shot path
    got = _rows(PQ.probe_ivfpq_index(spark, idx, queries, nprobe=2, top_k=3))
    want = _rows(
        S.ivf_pq_topk(
            TF.read_table(spark, base), queries, new_cents, books,
            nprobe=2, top_k=3,
        )
    )
    assert got == want
    # plan-less rebuild on a clean index raises
    with pytest.raises(ValueError, match="centroid set"):
        PQ.rebuild_ivfpq_index(spark, idx)
