"""Incremental heavy-hitters store (operators/freqstore.py): linear CMS
folds for every change type (refresh ≡ rebuild bit-for-bit), bounded
candidate maintenance with the margin-2 soundness rule, deletion-drift
rescan repair, and double-apply loudness."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import freqstore as FS
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as T


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_ROWS = [
    (1, "a a a b"),
    (2, "a b c"),
    (3, "a c d e"),
    (4, "b b f"),
    (5, "a g"),
]


def _mk(spark, tmp_path, rows=_ROWS, theta=(1, 5)):
    base, store = str(tmp_path / "docs"), str(tmp_path / "freq")
    T.create_table(_docs(spark, rows), base)
    FS.build_freq_store(
        spark, base, store, key="doc_id",
        theta_num=theta[0], theta_den=theta[1],
    )
    return base, store


def _sketch(spark, store):
    return sorted(
        (r["row"], r["bucket"], r["counter"])
        for r in T.read_table(spark, store + "/sketch").collect()
    )


def _hh(spark, store):
    return {
        r["token"]: r["est"]
        for r in FS.heavy_hitters(spark, store).collect()
    }


def test_build_and_serve_matches_exact_counts(spark, tmp_path):
    # 17 tokens total; θ=1/5 → threshold 3.4 → 'a' (6) and 'b' (4)
    base, store = _mk(spark, tmp_path)
    got = _hh(spark, store)
    assert set(got) == {"a", "b"}
    assert got["a"] >= 6 and got["b"] >= 4  # one-sided CMS error


def test_folds_equal_rebuild_all_change_types(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    # insert, update (pre-image tokens must subtract), delete
    T.merge_into(spark, base, _docs(spark, [(6, "b b b b")]), on="doc_id")
    T.merge_into(spark, base, _docs(spark, [(1, "h h")]), on="doc_id")
    T.delete_where(spark, base, "doc_id = 5")
    FS.refresh_freq_store(spark, store)
    # scratch rebuild over the same final snapshot: sketch bit-identical
    scratch = str(tmp_path / "scratch")
    FS.build_freq_store(spark, base, scratch, key="doc_id",
                        theta_num=1, theta_den=5)
    assert _sketch(spark, store) == _sketch(spark, scratch)
    assert store_state.read(os.path.join(store, FS._STATE))["total"] == store_state.read(os.path.join(scratch, FS._STATE))["total"]
    # candidates: 'b' is now heavy (6 of 17), 'a' fell to 3 of 17
    got = _hh(spark, store)
    assert set(got) == {"b"}
    assert _hh(spark, scratch) == got


def test_noop_refresh_and_double_apply_guard(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    v = FS.refresh_freq_store(spark, store)
    assert v == T.current_version(base)  # noop: base unmoved
    T.delete_where(spark, base, "doc_id = 4")
    FS.refresh_freq_store(spark, store)
    # forge a replay: reset fold_seq + base_version as if the fold never
    # happened — the negative-counter guard must refuse the double apply
    st = store_state.read(os.path.join(store, FS._STATE))
    st["fold_seq"] = 0
    st["base_version"] = 1
    with open(os.path.join(store, FS._STATE), "w", encoding="utf-8") as fh:
        json.dump(st, fh)
    # recovery path: the committed txn marker re-adopts the window, so
    # the replay folds nothing and the state heals
    v2 = FS.refresh_freq_store(spark, store)
    assert v2 == T.current_version(base)
    scratch = str(tmp_path / "scratch2")
    FS.build_freq_store(spark, base, scratch, key="doc_id",
                        theta_num=1, theta_den=5)
    assert _sketch(spark, store) == _sketch(spark, scratch)


def test_deletion_drift_flags_and_rescan_repairs(spark, tmp_path):
    # corpus with a dominant filler vocabulary and one modest token 'z'
    rows = [(i, "w%d w%d w%d w%d" % (i, i, i + 1, i + 2)) for i in range(20)]
    rows += [(100, "z z z")]
    base, store = _mk(spark, tmp_path, rows=rows, theta=(1, 4))
    assert _hh(spark, store) == {}  # nothing is 1/4 of 83 tokens
    # RTBF wipes the filler: total collapses far below half of vet_total,
    # 'z' (untouched) is now dominant but was never vetted
    T.delete_where(spark, base, "doc_id < 100")
    FS.refresh_freq_store(spark, store)
    st = store_state.read(os.path.join(store, FS._STATE))
    assert st["needs_rescan"] is True
    with pytest.raises(ValueError, match="rescan"):
        FS.heavy_hitters(spark, store)
    n = FS.rescan_candidates(spark, store)
    assert n >= 1
    got = _hh(spark, store)
    assert set(got) == {"z"} and got["z"] >= 3
    # flag cleared, serve works, and state equals a from-scratch build
    scratch = str(tmp_path / "scratch3")
    FS.build_freq_store(spark, base, scratch, key="doc_id",
                        theta_num=1, theta_den=4)
    assert _sketch(spark, store) == _sketch(spark, scratch)
    assert _hh(spark, scratch) == got


def test_candidates_stay_bounded(spark, tmp_path):
    # every token unique → nothing close to θ: candidate table is EMPTY
    rows = [(i, "t%d u%d" % (i, i)) for i in range(40)]
    base, store = _mk(spark, tmp_path, rows=rows, theta=(1, 10))
    cands = T.read_table(spark, store + "/cand").count()
    assert cands == 0
    assert _hh(spark, store) == {}


def test_streaming_sink_maintains_freq_store(spark, tmp_path):
    """Live-pipeline wiring: the exactly-once streaming sink's post_batch
    hook runs refresh_freq_store, keeping the sketch exact through insert
    microbatches AND an RTBF delete landing between them; a crash-replayed
    microbatch stays a no-op (linear sketch + version-driven fold)."""
    from cernbox_migration_database_spark.streaming.table_sink import (
        exactly_once_batch_writer,
    )

    base, store = _mk(spark, tmp_path)
    apply = exactly_once_batch_writer(
        base, app_id="freq", key="doc_id",
        post_batch=lambda sp: FS.refresh_freq_store(sp, store),
    )
    apply(_docs(spark, [(10, "a a b"), (11, "k k k")]), 1)
    T.delete_where(spark, base, "doc_id = 4")  # RTBF between batches
    apply(_docs(spark, [(12, "a k")]), 2)
    scratch = str(tmp_path / "scratch_s")
    FS.build_freq_store(spark, base, scratch, key="doc_id",
                        theta_num=1, theta_den=5)
    assert _sketch(spark, store) == _sketch(spark, scratch)
    assert _hh(spark, store) == _hh(spark, scratch)
    # crash-replay of microbatch 2: merge no-ops, fold sees no version
    apply(_docs(spark, [(12, "a k")]), 2)
    assert _sketch(spark, store) == _sketch(spark, scratch)


def test_grow_then_shrink_trips_rescan_via_vet_anchor(spark, tmp_path):
    """ADVICE r10 soundness hole: a candidate dropped at a vet while the
    corpus was GROWN can become relatively heavy again when the corpus
    shrinks back toward the build total — the old `2·T < vet_total(build)`
    check never tripped, so heavy_hitters silently omitted a true heavy
    hitter. The anchor must ratchet to the max total any drop decision
    was made at."""
    rows = [(1, "z z z"), (2, "a b c d e f g")]  # total 10, θ=1/4 → z heavy
    base, store = _mk(spark, tmp_path, rows=rows, theta=(1, 4))
    assert set(_hh(spark, store)) == {"z"}
    # grow to 40 tokens: at the vet, z (est 3) falls under θ·T/2 = 5 and
    # is DROPPED — a drop decision anchored at total 40
    filler = [
        (10 + d, " ".join(f"f{d}_{i}" for i in range(10))) for d in range(3)
    ]
    T.merge_into(spark, base, _docs(spark, filler), on="doc_id")
    FS.refresh_freq_store(spark, store)
    st = store_state.read(os.path.join(store, FS._STATE))
    assert st["total"] == 40 and st["vet_total"] == 40  # ratcheted up
    assert T.read_table(spark, store + "/cand").count() == 0
    # shrink back to 10: z (untouched by either window) is heavy again
    T.delete_where(spark, base, "doc_id >= 10")
    FS.refresh_freq_store(spark, store)
    st = store_state.read(os.path.join(store, FS._STATE))
    assert st["total"] == 10
    assert st["needs_rescan"] is True  # 2·10 < 40, the ratcheted anchor
    with pytest.raises(ValueError, match="rescan"):
        FS.heavy_hitters(spark, store)
    FS.rescan_candidates(spark, store)
    got = _hh(spark, store)
    assert set(got) == {"z"} and got["z"] >= 3
    assert store_state.read(os.path.join(store, FS._STATE))["vet_total"] == 10  # full vet re-anchors down


def test_crash_between_sketch_commit_and_vet_recovers_the_vet(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 crash-recovery gap: a refresh that commits the sketch
    merge but dies before the candidate re-vet used to be adopted as
    complete on the next refresh — a token that crossed θ·T/2 inside
    that window was permanently unvetted and heavy_hitters served an
    incomplete set without raising. Recovery must re-run the vet over
    the committed window's tokens."""
    base, store = _mk(spark, tmp_path, theta=(1, 3))  # total 17 at build
    T.merge_into(
        spark, base, _docs(spark, [(6, "k k k k k k k k")]), on="doc_id"
    )
    real = FS._revet

    def boom(*a, **k):
        raise RuntimeError("crash before vet")

    monkeypatch.setattr(FS, "_revet", boom)
    with pytest.raises(RuntimeError, match="crash before vet"):
        FS.refresh_freq_store(spark, store)
    monkeypatch.setattr(FS, "_revet", real)
    # sketch committed, state + candidates stale — 'k' is not yet vetted
    assert store_state.read(os.path.join(store, FS._STATE))["fold_seq"] == 0
    assert "k" not in {
        r["token"]
        for r in T.read_table(spark, store + "/cand").collect()
    }
    # the next refresh adopts the committed fold AND redoes the vet
    v = FS.refresh_freq_store(spark, store)
    assert v == T.current_version(base)
    st = store_state.read(os.path.join(store, FS._STATE))
    assert st["fold_seq"] == 1
    got = _hh(spark, store)
    assert got.get("k", 0) >= 8  # served — the window's riser was vetted
    # and the whole store equals a from-scratch build
    scratch = str(tmp_path / "scratch_v")
    FS.build_freq_store(spark, base, scratch, key="doc_id",
                        theta_num=1, theta_den=3)
    assert _sketch(spark, store) == _sketch(spark, scratch)
    assert _hh(spark, scratch) == got
