"""Mergeable per-partition KMV sketch store (operators/sketchstore.py).

The store's load-bearing promise is DIFFERENTIAL, not statistical: the k
smallest 52-bit md5 hashes of a union are exactly the k smallest of the
per-partition k-minima, so an estimate served from the KiB-sized states
must be bit-identical to one computed from scratch over the same rows.
Every test here pins that equality against a pure-Python oracle, plus
the bloomindex-style lifecycle battery: build ≡ scratch, CDF insert-only
refresh, deletes/updates ⇒ loud raise + rebuild_partitions repair.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import sketchstore as KS
from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF

K = 8

_CORPUS = [
    # (doc_id, lang, text) — small ints force the k=8 trim paths
    (1, "en", "the quick brown fox jumps over the lazy dog"),
    (2, "en", "pack my box with five dozen liquor jugs"),
    (3, "en", "sphinx of black quartz judge my vow"),
    (4, "es", "el rapido zorro marron salta sobre el perro"),
    (5, "es", "cargue mi caja con cinco docenas de jarras"),
    (6, "fr", "portez ce vieux whisky au juge blond"),
    (7, "fr", "le renard brun rapide saute par dessus"),
    (8, "de", "zwei boxkaempfer jagen viktor quer durch"),
]


def _h(token: str) -> int:
    return int(hashlib.md5(token.encode()).hexdigest()[:13], 16)


def _scratch(rows, parts=None, k=K):
    """From-scratch KMV over the given (lang, text) rows — the oracle the
    store must match bit-for-bit (pure integer estimator)."""
    hs = set()
    for lang, text in rows:
        if parts is not None and lang not in parts:
            continue
        for t in text.split(" "):
            if t:
                hs.add(_h(t))
    mins = sorted(hs)[:k]
    kk, kth = len(mins), mins[-1]
    return kk, kth, (kk - 1) * (2**52) // kth


def _mk(spark, tmp_path, docs=_CORPUS):
    base, store = str(tmp_path / "docs"), str(tmp_path / "kmv")
    TF.create_table(
        spark.createDataFrame(docs, "doc_id long, lang string, text string"),
        base,
    )
    KS.build_kmv_store(spark, base, store, part_col="lang", k=K)
    return base, store


def _served(spark, store, scopes):
    out = {}
    for r in KS.estimate(spark, store, scopes).collect():
        out[r["scope"]] = (r["k"], r["kth_hash"], r["est_distinct"])
    return out


def test_build_estimate_matches_scratch_over_any_scope(spark, tmp_path):
    """Mergeability theorem end-to-end: estimates served from per-lang
    minima equal a from-scratch KMV over the union'd rows — for the full
    corpus, one partition, and an arbitrary subset."""
    _, store = _mk(spark, tmp_path)
    rows = [(l, t) for _, l, t in _CORPUS]
    got = _served(
        spark, store,
        {"all": None, "en": ["en"], "latin": ["es", "fr"], "one": ["de"]},
    )
    assert got["all"] == _scratch(rows)
    assert got["en"] == _scratch(rows, {"en"})
    assert got["latin"] == _scratch(rows, {"es", "fr"})
    assert got["one"] == _scratch(rows, {"de"})


def test_states_hold_exactly_the_k_minima_per_partition(spark, tmp_path):
    _, store = _mk(spark, tmp_path)
    by_part: dict[str, list[int]] = {}
    for r in TF.read_table(spark, store).collect():
        by_part.setdefault(r["part"], []).append(r["v"])
    for lang in {l for _, l, _ in _CORPUS}:
        toks = {
            t for _, l, x in _CORPUS if l == lang for t in x.split() if t
        }
        want = sorted(_h(t) for t in toks)[:K]
        assert sorted(by_part[lang]) == want, lang


def test_refresh_folds_insert_window_and_is_idempotent(spark, tmp_path):
    """Insert-only CDF window: new docs (one touching an existing lang,
    one creating a new lang) fold in via refresh; estimates then match a
    from-scratch KMV over the grown corpus; refresh with no base movement
    is a no-op."""
    base, store = _mk(spark, tmp_path)
    extra = [
        (9, "en", "how vexingly quick daft zebras jump"),
        (10, "it", "ma la volpe col suo balzo ha raggiunto"),
    ]
    TF.merge_into(
        spark, base,
        spark.createDataFrame(extra, "doc_id long, lang string, text string"),
        on="doc_id", when_matched=None,
    )
    v = KS.refresh_kmv_store(spark, store)
    assert v == TF.current_version(base)
    rows = [(l, t) for _, l, t in _CORPUS + extra]
    got = _served(spark, store, {"all": None, "en": ["en"], "it": ["it"]})
    assert got["all"] == _scratch(rows)
    assert got["en"] == _scratch(rows, {"en"})
    assert got["it"] == _scratch(rows, {"it"})
    # trim discipline survived the fold: never more than k per partition
    sizes = (
        TF.read_table(spark, store).groupBy("part").count().collect()
    )
    assert all(r["count"] <= K for r in sizes)
    # no-op refresh: base unmoved, store version unchanged
    sv = TF.current_version(store)
    assert KS.refresh_kmv_store(spark, store) == v
    assert TF.current_version(store) == sv


def test_delete_window_raises_and_rebuild_repairs(spark, tmp_path):
    """KMV minima are add-only: a window containing deletes raises
    (loud staleness, never a silent bias) and rebuild_partitions re-points
    the affected partitions from the current base snapshot."""
    base, store = _mk(spark, tmp_path)
    TF.delete_where(spark, base, F.col("doc_id") == 1)
    with pytest.raises(ValueError, match="deletes/updates"):
        KS.refresh_kmv_store(spark, store)
    KS.rebuild_partitions(spark, store, ["en"])
    rows = [(l, t) for d, l, t in _CORPUS if d != 1]
    got = _served(spark, store, {"all": None, "en": ["en"]})
    assert got["all"] == _scratch(rows)
    assert got["en"] == _scratch(rows, {"en"})
    # rebuild re-pointed the base version: refresh is a clean no-op again
    assert KS.refresh_kmv_store(spark, store) == TF.current_version(base)


def test_update_preimage_also_raises(spark, tmp_path):
    base, store = _mk(spark, tmp_path)
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(2, "en", "totally rewritten text")],
            "doc_id long, lang string, text string",
        ),
        on="doc_id",
    )
    with pytest.raises(ValueError, match="deletes/updates"):
        KS.refresh_kmv_store(spark, store)


def test_estimate_reads_the_store_alone(spark, tmp_path):
    """Zero base IO at query time: estimates keep serving after the base
    table is physically gone."""
    base, store = _mk(spark, tmp_path)
    rows = [(l, t) for _, l, t in _CORPUS]
    want = _scratch(rows)
    os.rename(base, base + ".gone")
    assert _served(spark, store, {"all": None})["all"] == want


def test_refresh_or_repair_mixed_window_converges(spark, tmp_path):
    """R7 verdict item 5 (core): a window carrying BOTH an RTBF delete
    (en partition) and inserts into other partitions converges without
    manual intervention — inserts outside the affected partitions fold
    through the normal path, the affected partitions are rebuilt from
    the snapshot, and every served estimate matches from-scratch."""
    base, store = _mk(spark, tmp_path)
    TF.delete_where(spark, base, F.col("doc_id") == 2)
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(9, "de", "franz jagt im komplett verwahrlosten taxi")],
            "doc_id long, lang string, text string",
        ),
        on="doc_id", when_matched=None,
    )
    cur, rebuilt = KS.refresh_or_repair(spark, store)
    assert cur == TF.current_version(base)
    assert rebuilt == ["en"]
    rows = [
        (r["lang"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    scopes = {"all": None, "en": ["en"], "de": ["de"], "fr": ["fr"]}
    got = _served(spark, store, scopes)
    assert got["all"] == _scratch(rows)
    assert got["en"] == _scratch(rows, parts={"en"})
    assert got["de"] == _scratch(rows, parts={"de"})
    # insert-only windows keep taking the cheap path (nothing rebuilt)
    TF.merge_into(
        spark, base,
        spark.createDataFrame(
            [(10, "fr", "grand vieux chateau pres du fleuve calme")],
            "doc_id long, lang string, text string",
        ),
        on="doc_id", when_matched=None,
    )
    cur2, rebuilt2 = KS.refresh_or_repair(spark, store)
    assert cur2 == TF.current_version(base) and rebuilt2 == []
    rows2 = [
        (r["lang"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    assert _served(spark, store, {"fr": ["fr"]})["fr"] == _scratch(
        rows2, parts={"fr"}
    )


def test_concurrent_base_commit_during_repair_is_not_skipped(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8: refresh_or_repair folds inserts only up to the ``cur``
    it diffed, but rebuild_partitions used to re-read current_version and
    record THAT as base_version — a base commit landing between the two
    reads had its insert window silently skipped for partitions outside
    the rebuilt set. The rebuild's recorded version is now pinned to the
    diffed ``cur``, so the late commit stays in the NEXT window."""
    base, store = _mk(spark, tmp_path)
    # a delete window (en) forces the repair path
    TF.delete_where(spark, base, F.col("doc_id") == 3)
    real = KS.rebuild_partitions

    def racy(spark_, store_root, parts, version=None):
        # a concurrent writer commits an fr insert between the refresh's
        # diff and the rebuild's own version read
        TF.merge_into(
            spark_, base,
            spark_.createDataFrame(
                [(11, "fr", "jugez que ce texte porte dix mots nets")],
                "doc_id long, lang string, text string",
            ),
            on="doc_id", when_matched=None,
        )
        real(spark_, store_root, parts, version=version)

    monkeypatch.setattr(KS, "rebuild_partitions", racy)
    cur, rebuilt = KS.refresh_or_repair(spark, store)
    monkeypatch.undo()
    assert rebuilt == ["en"]
    # the racy fr commit must remain unfolded: recorded base_version == cur
    st = store_state.read(os.path.join(store, KS._STATE))
    assert st["base_version"] == cur == TF.current_version(base) - 1
    # ... and the NEXT refresh folds it, converging to from-scratch
    KS.refresh_or_repair(spark, store)
    rows = [
        (r["lang"], r["text"]) for r in TF.read_table(spark, base).collect()
    ]
    got = _served(spark, store, {"all": None, "fr": ["fr"]})
    assert got["all"] == _scratch(rows)
    assert got["fr"] == _scratch(rows, parts={"fr"})


def test_streaming_sink_auto_repairs_through_post_batch(spark, tmp_path):
    """R7 verdict item 5 (wiring): RTBF deletes flow through a streaming
    pipeline whose sink post_batch hook runs refresh_or_repair — the
    store converges to from-scratch estimates with zero manual repair,
    and a replayed microbatch (crash/replay) stays a no-op."""
    from cernbox_migration_database_spark.streaming.table_sink import (
        exactly_once_batch_writer,
    )

    base, store = _mk(spark, tmp_path)
    repairs = []

    def hook(sp):
        _, rebuilt = KS.refresh_or_repair(sp, store)
        repairs.append(rebuilt)

    apply = exactly_once_batch_writer(
        base, app_id="kmv", key="doc_id", post_batch=hook
    )
    # microbatch 1: plain inserts
    b1 = spark.createDataFrame(
        [(20, "en", "new english words arriving from the stream")],
        "doc_id long, lang string, text string",
    )
    apply(b1, 1)
    # an RTBF delete lands on the base table between microbatches
    TF.delete_where(spark, base, F.col("doc_id") == 4)  # an es doc
    # microbatch 2: more inserts — the hook must fold them AND repair es
    b2 = spark.createDataFrame(
        [(21, "fr", "encore des mots francais tout neufs ici")],
        "doc_id long, lang string, text string",
    )
    apply(b2, 2)
    assert repairs[0] == [] and repairs[1] == ["es"]
    # crash-replay of microbatch 2: merge no-ops, hook runs, no churn
    apply(b2, 2)
    assert repairs[2] == []
    rows = [
        (r["lang"], r["text"])
        for r in TF.read_table(spark, base).collect()
    ]
    got = _served(
        spark, store, {"all": None, "es": ["es"], "fr": ["fr"]}
    )
    assert got["all"] == _scratch(rows)
    assert got["es"] == _scratch(rows, parts={"es"})
    assert got["fr"] == _scratch(rows, parts={"fr"})
