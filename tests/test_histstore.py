"""Mergeable per-partition fixed-bin histogram store (operators/histstore.py).

The store's promise is exactness of the STATE (counts are exact integers;
only the served quantile is approximate, bounded by one bin width), so the
battery here is the strongest form the index family has: refresh ≡ rebuild
bit-for-bit across ALL THREE change types — the KMV store can't do that
(minima don't subtract), which is this operator's reason to exist.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import histstore as HS
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF

NBINS = 8

_ROWS = [
    # (k, part, price) — two-decimal doubles, several per (part, bin)
    (1, "a", 10.00),
    (2, "a", 12.50),
    (3, "a", 45.25),
    (4, "a", 99.99),
    (5, "b", 10.00),
    (6, "b", 55.00),
    (7, "b", 77.77),
    (8, "c", 33.33),
    (9, "c", 60.60),
    (10, "c", 99.99),
]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "k long, part string, price double"
    )


def _mk(spark, tmp_path, rows=_ROWS, nbins=NBINS):
    base, store = str(tmp_path / "base"), str(tmp_path / "hist")
    TF.create_table(_df(spark, rows), base)
    HS.build_hist_store(
        spark, base, store,
        part_col="part", value_col="price", key="k", nbins=nbins,
    )
    return base, store


def _hist_rows(spark, store):
    return sorted(
        (r["part"], int(r["bin"]), int(r["n"]))
        for r in TF.read_table(spark, store).collect()
    )


def _scratch_hist(spark, base, st):
    """Re-derive the counts from the current base snapshot through the
    store's FROZEN bin edges (pure-plan replay of _binned + groupBy)."""
    df = TF.read_table(spark, base)
    return sorted(
        (r["part"], int(r["bin"]), int(r["n"]))
        for r in HS._binned(df, st)
        .groupBy("part", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )


def test_build_counts_match_scratch(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    st = store_state.read(os.path.join(store, HS._STATE))
    assert _hist_rows(spark, store) == _scratch_hist(spark, base, st)
    assert sum(n for _, _, n in _hist_rows(spark, store)) == len(_ROWS)


def test_insert_delete_update_folds_equal_rebuild(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    st = store_state.read(os.path.join(store, HS._STATE))
    # insert window — includes values OUTSIDE the frozen [lo, hi] on both
    # sides, exercising edge-bin clamping
    TF.merge_into(
        spark, base,
        _df(spark, [(11, "a", 1.00), (12, "b", 500.00), (13, "c", 50.0)]),
        on="k", when_matched=None,
    )
    HS.refresh_hist_store(spark, store)
    assert _hist_rows(spark, store) == _scratch_hist(spark, base, st)
    # mixed delete + update window, one refresh folds both commits
    TF.delete_where(spark, base, "k % 5 = 0")
    TF.update_where(spark, base, "k = 3", {"price": "price * 2"})
    HS.refresh_hist_store(spark, store)
    assert _hist_rows(spark, store) == _scratch_hist(spark, base, st)
    total = sum(n for _, _, n in _hist_rows(spark, store))
    assert total == TF.read_table(spark, base).count()


def test_emptied_bins_are_physically_pruned(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    before = {(p, b) for p, b, _ in _hist_rows(spark, store)}
    # delete every 'c' row: its bins must VANISH from the state table,
    # not linger as n=0 rows
    TF.delete_where(spark, base, "part = 'c'")
    HS.refresh_hist_store(spark, store)
    after = _hist_rows(spark, store)
    assert all(p != "c" for p, _, _ in after)
    assert all(n > 0 for _, _, n in after)
    assert {(p, b) for p, b, _ in after} < before


def test_double_applied_window_raises(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    # k=4 (a, 99.99) is ALONE in its bin, so re-applying its delete drives
    # that count to -1 (a shared bin would merely prune to zero silently)
    TF.delete_where(spark, base, "k = 4")
    HS.refresh_hist_store(spark, store)
    # rewind the recorded base version to re-fold the same delete window:
    # the second application must be loud, not a silent corruption
    st = store_state.read(os.path.join(store, HS._STATE))
    st["base_version"] -= 1
    import json

    with open(os.path.join(store, HS._STATE), "w", encoding="utf-8") as fh:
        json.dump(st, fh)
    with pytest.raises(ValueError, match="negative bin count"):
        HS.refresh_hist_store(spark, store)


def test_noop_refresh_and_quantile_scopes(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    v = HS.refresh_hist_store(spark, store)
    assert v == TF.current_version(base)
    est = HS.estimate_quantiles(
        spark, store, {"all": None, "ab": ["a", "b"]},
        quantiles=(("p50", 1, 2), ("p100", 1, 1)),
    ).collect()
    got = {(r["scope"], r["q_label"]): r for r in est}
    assert set(got) == {
        ("all", "p50"), ("all", "p100"), ("ab", "p50"), ("ab", "p100")
    }
    st = store_state.read(os.path.join(store, HS._STATE))
    lo, span, nbins = st["lo"], st["span"], st["nbins"]
    # hand oracle: bin of the ceil-rank-th value, served as lower edge
    import math

    def oracle(rows, q):
        cents = sorted(round(p * 100) for _, _, p in rows)
        r = math.ceil(q * len(cents))
        c = min(lo + span - 1, max(lo, cents[r - 1]))
        b = ((c - lo) * nbins) // span
        return b, lo + (b * span) // nbins

    for scope, parts in (("all", None), ("ab", {"a", "b"})):
        rows = [
            t for t in _ROWS if parts is None or t[1] in parts
        ]
        for ql, q in (("p50", 0.5), ("p100", 1.0)):
            b, edge = oracle(rows, q)
            r = got[(scope, ql)]
            assert (int(r["bin"]), int(r["est_cents"])) == (b, edge), (
                scope, ql,
            )
            assert int(r["total_n"]) == len(rows)


def test_streaming_sink_maintains_store_through_post_batch(spark, tmp_path):
    """Live-pipeline wiring: a streaming sink whose post_batch hook runs
    refresh_hist_store keeps the store exact through insert microbatches
    AND an RTBF delete landing between them — no repair path needed
    (counts subtract), and a crash-replayed microbatch stays a no-op."""
    from cernbox_migration_database_spark.streaming.table_sink import (
        exactly_once_batch_writer,
    )

    base, store = _mk(spark, tmp_path)
    st = store_state.read(os.path.join(store, HS._STATE))
    apply = exactly_once_batch_writer(
        base, app_id="hist", key="k",
        post_batch=lambda sp: HS.refresh_hist_store(sp, store),
    )
    apply(_df(spark, [(11, "a", 20.20), (12, "b", 200.0)]), 1)
    TF.delete_where(spark, base, "k = 4")  # RTBF between microbatches
    apply(_df(spark, [(13, "c", 3.00)]), 2)
    assert _hist_rows(spark, store) == _scratch_hist(spark, base, st)
    # crash-replay: the merge no-ops and the hook sees no new version
    apply(_df(spark, [(13, "c", 3.00)]), 2)
    assert _hist_rows(spark, store) == _scratch_hist(spark, base, st)
    assert sum(n for _, _, n in _hist_rows(spark, store)) == TF.read_table(
        spark, base
    ).count()


def test_crash_between_fold_commit_and_state_write_is_recovered(
    spark, tmp_path
):
    """The joinview recovery discipline: the fold merge carries
    txn=(hs, fold_seq) + the folded window, so a crash BEFORE the state
    write (simulated by restoring the whole pre-fold state file) is
    healed — the replayed refresh adopts the committed window from the
    commit log and folds only what came after, instead of double-applying
    the window into the counts."""
    import json

    base, store = _mk(spark, tmp_path)
    st0 = store_state.read(os.path.join(store, HS._STATE))
    pre_fold_state = json.dumps(st0)
    TF.delete_where(spark, base, "k = 4")  # alone in its bin
    HS.refresh_hist_store(spark, store)
    # crash: the fold merge committed but the state write was lost
    with open(os.path.join(store, HS._STATE), "w", encoding="utf-8") as fh:
        fh.write(pre_fold_state)
    # the base moves further; the replayed refresh must adopt THEN fold
    TF.merge_into(
        spark, base, _df(spark, [(14, "a", 99.99)]),
        on="k", when_matched=None,
    )
    HS.refresh_hist_store(spark, store)
    assert _hist_rows(spark, store) == _scratch_hist(spark, base, st0)
    assert store_state.read(os.path.join(store, HS._STATE))["base_version"] == TF.current_version(base)


def test_drift_flag_and_rebuild_with_new_edges(spark, tmp_path):
    """r9 verdict item 5: frozen edges silently clamp a drifted tail into
    the top bin — drifted folds must trip the drift flag, and the
    prescribed rebuild (re-frozen edges) must match a from-scratch build
    bit-for-bit."""
    base, store = _mk(spark, tmp_path)
    rep0 = HS.drift_report(spark, store)
    assert rep0["drifted"] is False and rep0["n_added"] == 0

    # drifted ingest: every new value far above the frozen hi (99.99)
    drifted = [(100 + i, "a", 500.0 + i) for i in range(20)]
    TF.merge_into(spark, base, _df(spark, drifted), on="k")
    HS.refresh_hist_store(spark, store)
    rep1 = HS.drift_report(spark, store)
    assert rep1["n_added"] == 20 and rep1["n_clamped"] == 20
    assert rep1["clamp_rate"] == 1.0
    assert rep1["drifted"] is True
    assert rep1["action"] == "rebuild_hist_store"
    # saturation is real pre-rebuild: p50 and p99 both serve the top edge
    q = {
        r["q_label"]: int(r["est_cents"])
        for r in HS.estimate_quantiles(
            spark, store, {"all": None}
        ).collect()
    }
    assert q["p90"] == q["p99"]  # tail collapsed into the clamp bin

    # rebuild re-freezes edges from the current snapshot
    v = HS.rebuild_hist_store(spark, store)
    st = store_state.read(os.path.join(store, HS._STATE))
    assert st["lo"] == 1000 and st["span"] == 51900 - 1000 + 1
    assert st["n_added"] == 0 and st["n_clamped"] == 0
    # rebuilt state == a from-scratch build over the same snapshot
    scratch_store = str(tmp_path / "scratch")
    HS.build_hist_store(
        spark, base, scratch_store,
        part_col="part", value_col="price", key="k", nbins=NBINS,
    )
    assert _hist_rows(spark, store) == _hist_rows(spark, scratch_store)
    assert store_state.read(os.path.join(scratch_store, HS._STATE))["ref_dist"] == st["ref_dist"]
    assert HS.drift_report(spark, store)["drifted"] is False
    # the rebuilt store keeps folding incrementally
    TF.delete_where(spark, base, "k = 105")
    assert HS.refresh_hist_store(spark, store) > v - 1
    st2 = store_state.read(os.path.join(store, HS._STATE))
    assert _hist_rows(spark, store) == _scratch_hist(spark, base, st2)


def test_psi_drift_inside_range_trips_without_clamping(spark, tmp_path):
    """Mass reshaping INSIDE the frozen range clamps nothing — PSI must
    catch it anyway."""
    base, store = _mk(spark, tmp_path)
    # pile a large in-range cohort into one low bin: clamp rate stays 0
    surge = [(200 + i, "b", 11.00) for i in range(300)]
    TF.merge_into(spark, base, _df(spark, surge), on="k")
    HS.refresh_hist_store(spark, store)
    rep = HS.drift_report(spark, store)
    assert rep["n_clamped"] == 0 and rep["clamp_rate"] == 0.0
    assert rep["psi"] > 0.2 and rep["drifted"] is True


def test_crashed_rebuild_is_loud_and_repairable(spark, tmp_path, monkeypatch):
    """ADVICE r10: rebuild_hist_store runs a delete-all merge then an
    insert merge — a crash between them used to leave an empty store
    under the OLD sidecar edges, into which later refreshes silently
    folded garbage and quantiles served nonsense. The `rebuilding`
    sidecar flag must make every entry point raise until a re-run
    completes the repair."""
    base, store = _mk(spark, tmp_path)
    drifted = [(100 + i, "a", 500.0 + i) for i in range(20)]
    TF.merge_into(spark, base, _df(spark, drifted), on="k")
    HS.refresh_hist_store(spark, store)
    assert HS.drift_report(spark, store)["drifted"] is True

    real = TF.merge_into
    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:  # 1 = delete-all, 2 = insert
            raise RuntimeError("crash mid-rebuild")
        return real(*a, **k)

    monkeypatch.setattr(TF, "merge_into", boom)
    with pytest.raises(RuntimeError, match="crash mid-rebuild"):
        HS.rebuild_hist_store(spark, store)
    monkeypatch.setattr(TF, "merge_into", real)

    # the store is mid-repair: state table emptied, sidecar still holds
    # the pre-rebuild edges — every consumer must refuse to touch it
    assert store_state.read(os.path.join(store, HS._STATE))["rebuilding"] is True
    for fn in (
        lambda: HS.refresh_hist_store(spark, store),
        lambda: HS.estimate_quantiles(spark, store, {"all": None}).collect(),
        lambda: HS.drift_report(spark, store),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            fn()

    # re-running the rebuild completes the repair exactly
    HS.rebuild_hist_store(spark, store)
    st = store_state.read(os.path.join(store, HS._STATE))
    assert st["rebuilding"] is False
    scratch_store = str(tmp_path / "scratch_crash")
    HS.build_hist_store(
        spark, base, scratch_store,
        part_col="part", value_col="price", key="k", nbins=NBINS,
    )
    assert _hist_rows(spark, store) == _hist_rows(spark, scratch_store)
    assert HS.drift_report(spark, store)["drifted"] is False
    # and it keeps folding afterwards
    TF.delete_where(spark, base, "k = 101")
    HS.refresh_hist_store(spark, store)
    assert _hist_rows(spark, store) == _scratch_hist(
        spark, base, store_state.read(os.path.join(store, HS._STATE))
    )
