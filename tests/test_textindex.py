"""Inverted text index: bucket-pruned probes, additive refresh."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import textindex as TI


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows]
    )


def test_probe_reads_only_probed_buckets(spark, tmp_path):
    docs = _docs(
        spark,
        [(i, f"alpha beta w{i} w{i} gamma") for i in range(20)]
        + [(100, "alpha alpha alpha"), (101, "delta")],
    )
    base = str(tmp_path / "idx")
    TI.build_text_index(spark, docs, base, n_buckets=8)
    out = TI.bm25_probe(spark, base, ["alpha"], top_k=5)
    rows = out.collect()
    # doc 100 is pure 'alpha' and shortest -> best score
    assert rows[0].doc_id == 100 and rows[0].rank == 1
    # pruning evidence: the postings scan opened only alpha's bucket
    probed = TI._term_buckets(spark, ["alpha"], 8)
    tf_files = (
        TI.TF.scan_partitions(
            spark, os.path.join(base, "postings"),
            [f"bucket={b}" for b in probed],
        )
        .select(F.input_file_name())
        .distinct()
        .collect()
    )
    dirs = {os.path.basename(os.path.dirname(r[0])) for r in tf_files}
    assert dirs == {f"bucket={b}" for b in probed}
    assert len(dirs) < 8  # genuinely pruned


def test_refresh_matches_rebuild(spark, tmp_path):
    first = _docs(spark, [(1, "a b a"), (2, "b c"), (3, "c c d")])
    extra = _docs(spark, [(4, "a d d"), (5, "e")])
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    TI.build_text_index(spark, first, inc, n_buckets=4)
    TI.refresh_text_index(spark, inc, extra)
    TI.build_text_index(spark, first.unionByName(extra), full, n_buckets=4)
    for terms in (["a"], ["c", "d"], ["e"], ["a", "b", "c", "d", "e"]):
        got = sorted(
            (r.doc_id, r.rank, r.score)
            for r in TI.bm25_probe(spark, inc, terms, top_k=10).collect()
        )
        want = sorted(
            (r.doc_id, r.rank, r.score)
            for r in TI.bm25_probe(spark, full, terms, top_k=10).collect()
        )
        assert got == want, terms


def test_probe_unknown_term_is_empty_without_scanning(spark, tmp_path):
    docs = _docs(spark, [(1, "only these words")])
    base = str(tmp_path / "idx")
    TI.build_text_index(spark, docs, base, n_buckets=4)
    # with 1 doc the postings occupy few buckets; a term hashing to an
    # empty bucket returns an empty frame straight from the manifest
    for t in ("zz1", "zz2", "zz3", "zz4", "zz5", "zz6", "zz7", "zz8"):
        have = {
            e["path"].split("/", 1)[0]
            for e in TI.TF.manifest(os.path.join(base, "postings"))
        }
        bk = TI._term_buckets(spark, [t], 4)[0]
        if f"bucket={bk}" not in have:
            out = TI.bm25_probe(spark, base, [t])
            assert out.count() == 0
            assert out.columns == ["doc_id", "score", "rank"]
            break
    else:  # pragma: no cover - astronomically unlikely with 8 probes
        raise AssertionError("no empty bucket found to exercise the path")


def test_refresh_rejects_replayed_doc_ids_and_leaves_meta_intact(
    spark, tmp_path
):
    """ADVICE r6: a re-delivered doc_id used to have its postings
    silently dropped by when_matched=None while meta n_docs/total_tokens
    still incremented, drifting idf/avgdl. Refresh now anti-joins the
    batch's doc_ids against existing postings and raises on overlap."""
    import json as _json

    import pytest

    base = str(tmp_path / "idx")
    TI.build_text_index(
        spark, _docs(spark, [(1, "a b a"), (2, "b c")]), base, n_buckets=4
    )
    meta_before = _json.load(open(os.path.join(base, TI._META)))
    replay = _docs(spark, [(2, "b c"), (3, "new doc")])
    with pytest.raises(ValueError, match=r"doc_id.*\[2\]"):
        TI.refresh_text_index(spark, base, replay)
    # nothing moved: meta intact, postings table still at version 1
    assert _json.load(open(os.path.join(base, TI._META))) == meta_before
    assert TI.TF.current_version(os.path.join(base, "postings")) == 1
    # a clean batch still folds in
    TI.refresh_text_index(spark, base, _docs(spark, [(3, "new doc")]))
    meta_after = _json.load(open(os.path.join(base, TI._META)))
    assert meta_after["n_docs"] == meta_before["n_docs"] + 1


def test_phrase_probe_adjacency_overlaps_and_edges(spark, tmp_path):
    """Positional phrase search: exact adjacency (not mere co-occurrence),
    overlap counting, repeated-term phrases, and the phrase-at-document-
    end edge (the off-by-one a range-based oracle is prone to)."""
    docs = _docs(
        spark,
        [
            (1, "alpha table hash beta table hash"),   # 2 occurrences
            (2, "table beta hash table alpha hash"),   # co-occur, never adjacent
            (3, "alpha beta gamma table hash"),        # at document end
            (4, "hash table"),                         # reversed order only
            (5, "spam spam spam spam"),                # repeated-term phrase
        ],
    )
    base = str(tmp_path / "ti")
    TI.build_text_index(spark, docs, base, n_buckets=4)

    got = {
        r["doc_id"]: r["n_occ"]
        for r in TI.phrase_probe(spark, base, ["table", "hash"]).collect()
    }
    assert got == {1: 2, 3: 1}
    # overlapping occurrences all count: 'spam spam' starts at 0,1,2
    rep = {
        r["doc_id"]: r["n_occ"]
        for r in TI.phrase_probe(spark, base, ["spam", "spam"]).collect()
    }
    assert rep == {5: 3}
    # three-term phrase crosses more buckets, same contract
    tri = {
        r["doc_id"]: r["n_occ"]
        for r in TI.phrase_probe(
            spark, base, ["alpha", "table", "hash"]
        ).collect()
    }
    assert tri == {1: 1}
    # absent phrase: clean empty frame with the contract schema
    none = TI.phrase_probe(spark, base, ["nosuch", "phrase"])
    assert none.count() == 0
    assert none.columns == ["doc_id", "n_occ"]


def test_phrase_probe_sees_refreshed_documents(spark, tmp_path):
    docs = _docs(spark, [(1, "alpha table hash beta")])
    base = str(tmp_path / "ti")
    TI.build_text_index(spark, docs, base, n_buckets=4)
    TI.refresh_text_index(
        spark, base, _docs(spark, [(9, "gamma table hash table hash")])
    )
    got = {
        r["doc_id"]: r["n_occ"]
        for r in TI.phrase_probe(spark, base, ["table", "hash"]).collect()
    }
    assert got == {1: 1, 9: 2}


def test_near_probe_ordered_window_semantics(spark, tmp_path):
    """Span-near: ordered pairs within slop intervening tokens; slop=0
    degenerates to bigram adjacency; reversed-order occurrences never
    match; pair counting multiplies evidence."""
    docs = _docs(
        spark,
        [
            (1, "table alpha beta hash"),        # gap 2: slop>=2 only
            (2, "table hash"),                   # adjacent
            (3, "hash alpha table"),             # wrong order only
            (4, "table hash table gamma hash"),  # multiple pairs
        ],
    )
    base = str(tmp_path / "ti")
    TI.build_text_index(spark, docs, base, n_buckets=4)

    def near(slop):
        return {
            r["doc_id"]: r["n_pairs"]
            for r in TI.near_probe(
                spark, base, "table", "hash", slop=slop
            ).collect()
        }

    # doc4 positions: table@0, hash@1, table@2, hash@4
    assert near(0) == {2: 1, 4: 1}          # only adjacent (0,1)
    assert near(2) == {1: 1, 2: 1, 4: 2}    # + doc1 gap-2, doc4 (2,4)
    assert near(5) == {1: 1, 2: 1, 4: 3}    # doc4: (0,1),(0,4),(2,4)
    assert 3 not in near(5)  # order matters


def _probe_state(spark, base):
    """Everything the index serves, for rebuild differentials: bm25 over a
    broad term set (OR and AND), a phrase, a near, and the meta scalars."""
    import json

    terms = ["a", "b", "c", "d", "e", "table", "hash"]
    bm = sorted(
        (r.doc_id, r.rank, r.score)
        for r in TI.bm25_probe(spark, base, terms, top_k=50).collect()
    )
    bm_and = sorted(
        (r.doc_id, r.rank, r.score)
        for r in TI.bm25_probe(
            spark, base, ["a", "b"], top_k=50, require_all=True
        ).collect()
    )
    ph = sorted(
        (r.doc_id, r.n_occ)
        for r in TI.phrase_probe(spark, base, ["a", "b"]).collect()
    )
    nr = sorted(
        (r.doc_id, r.n_pairs)
        for r in TI.near_probe(spark, base, "a", "c", slop=2).collect()
    )
    meta = json.load(open(os.path.join(base, TI._META)))
    return bm, bm_and, ph, nr, meta


def _cdf(spark, rows):
    """CDF-shaped window: rows of (doc_id, text, _change_type)."""
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, _change_type string"
    )


def test_fold_delete_window_matches_rebuild(spark, tmp_path):
    """r8 verdict item 5: a delete window folds through the pre-image
    (bounded blast radius) and the folded index is indistinguishable —
    probes AND meta scalars — from one rebuilt over the survivors."""
    corpus = [
        (1, "a b a c"), (2, "b c b"), (3, "c c d a b"),
        (4, "a d d"), (5, "e a b"), (6, "b a b a"),
    ]
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    TI.build_text_index(spark, _docs(spark, corpus), inc, n_buckets=4)
    gone = {2, 5}
    win = _cdf(
        spark, [(i, t, "delete") for i, t in corpus if i in gone]
    )
    stats = TI.fold_text_index_changes(spark, inc, win)
    assert stats["docs_removed"] == 2
    assert stats["tokens_removed"] == 3 + 3  # dlen(2) + dlen(5)
    assert stats["docs_added"] == 0
    TI.build_text_index(
        spark,
        _docs(spark, [(i, t) for i, t in corpus if i not in gone]),
        full,
        n_buckets=4,
    )
    assert _probe_state(spark, inc) == _probe_state(spark, full)
    # no orphan postings for the deleted ids anywhere in the table
    left = (
        TI.TF.read_table(spark, os.path.join(inc, "postings"))
        .where(F.col("doc_id").isin(*gone))
        .count()
    )
    assert left == 0


def test_fold_update_window_is_delete_and_readd(spark, tmp_path):
    """An update folds as delete(pre-image) + re-add(post-image); mixed
    windows (insert + delete + update together) ≡ rebuild."""
    corpus = [(1, "a b a c"), (2, "b c b"), (3, "c c d a b")]
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    TI.build_text_index(spark, _docs(spark, corpus), inc, n_buckets=4)
    win = _cdf(
        spark,
        [
            (2, "b c b", "update_preimage"),
            (2, "e e a b", "update_postimage"),   # doc 2 rewritten
            (3, "c c d a b", "delete"),           # doc 3 gone
            (7, "a b a b c", "insert"),           # doc 7 new
        ],
    )
    stats = TI.fold_text_index_changes(spark, inc, win)
    assert stats == {
        "docs_removed": 2,
        "tokens_removed": 3 + 5,
        "docs_added": 2,
        "tokens_added": 4 + 5,
    }
    TI.build_text_index(
        spark,
        _docs(spark, [(1, "a b a c"), (2, "e e a b"), (7, "a b a b c")]),
        full,
        n_buckets=4,
    )
    assert _probe_state(spark, inc) == _probe_state(spark, full)
    # the folded index keeps accepting ordinary refreshes afterwards
    TI.refresh_text_index(spark, inc, _docs(spark, [(8, "d e")]))
    got = {
        r.doc_id
        for r in TI.bm25_probe(spark, inc, ["e"], top_k=10).collect()
    }
    assert 8 in got and 2 in got


def test_fold_delete_then_readd_same_doc_id(spark, tmp_path):
    """After a delete fold, the same doc_id re-inserts cleanly (the
    immutable-unit guard sees no leftover postings)."""
    inc = str(tmp_path / "inc")
    TI.build_text_index(
        spark, _docs(spark, [(1, "a b"), (2, "b c")]), inc, n_buckets=4
    )
    TI.fold_text_index_changes(spark, inc, _cdf(spark, [(1, "a b", "delete")]))
    TI.refresh_text_index(spark, inc, _docs(spark, [(1, "c c c")]))
    full = str(tmp_path / "full")
    TI.build_text_index(
        spark, _docs(spark, [(1, "c c c"), (2, "b c")]), full, n_buckets=4
    )
    assert _probe_state(spark, inc) == _probe_state(spark, full)


def test_delete_docs_without_preimage_matches_rebuild(spark, tmp_path):
    """The RTBF path: doc_ids only — one semi-join pass finds the victim
    keys; result ≡ rebuild over survivors; unknown ids are a no-op."""
    corpus = [(1, "a b a c"), (2, "b c b"), (3, "c c d a b"), (4, "a d")]
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    TI.build_text_index(spark, _docs(spark, corpus), inc, n_buckets=4)
    assert TI.delete_docs_from_text_index(spark, inc, [2, 4, 999]) == 2
    TI.build_text_index(
        spark, _docs(spark, [(1, "a b a c"), (3, "c c d a b")]),
        full, n_buckets=4,
    )
    assert _probe_state(spark, inc) == _probe_state(spark, full)
    assert TI.delete_docs_from_text_index(spark, inc, [999]) == 0
    assert _probe_state(spark, inc) == _probe_state(spark, full)


def test_bind_sync_is_version_driven_and_replay_safe(spark, tmp_path):
    """sync_text_index advances a BOUND index to the document table's
    current version across insert / delete / update commits, equals a
    from-scratch rebuild after every sync, and no-ops when the version
    didn't move (the microbatch-replay case)."""
    from cernbox_migration_database_spark.operators import (
        table_format as TF,
    )

    rows = [(i, f"alpha w{i} beta gamma") for i in range(8)]
    root = str(tmp_path / "docs")
    base = str(tmp_path / "idx")
    TF.create_table(_docs(spark, rows), root)
    TI.build_text_index(
        spark, TF.read_table(spark, root), base, n_buckets=8
    )
    TI.bind_text_index(base, root)

    def probe():
        return [
            (r["doc_id"], r["score"])
            for r in TI.bm25_probe(
                spark, base, ["alpha", "beta"], top_k=50
            ).collect()
        ]

    def rebuilt():
        alt = str(tmp_path / f"re{TF.current_version(root)}")
        TI.build_text_index(
            spark, TF.read_table(spark, root), alt, n_buckets=8
        )
        return [
            (r["doc_id"], r["score"])
            for r in TI.bm25_probe(
                spark, alt, ["alpha", "beta"], top_k=50
            ).collect()
        ]

    # insert + delete + update commits, ONE sync folds the whole window
    TF.merge_into(
        spark, root, _docs(spark, [(20, "beta beta fresh")]),
        on="doc_id", when_matched=None,
    )
    TF.delete_where(spark, root, "doc_id = 3")
    TF.update_where(spark, root, "doc_id = 5", {"text": "'alpha only now'"})
    v = TI.sync_text_index(spark, base)
    assert v == TF.current_version(root)
    assert probe() == rebuilt()
    # no version movement -> no-op (replayed microbatch shape)
    meta_before = open(os.path.join(base, TI._META)).read()
    assert TI.sync_text_index(spark, base) == v
    assert open(os.path.join(base, TI._META)).read() == meta_before
    # unbound index is loud
    import pytest as _pytest

    other = str(tmp_path / "unbound")
    TI.build_text_index(spark, _docs(spark, rows[:2]), other, n_buckets=8)
    with _pytest.raises(ValueError, match="not bound"):
        TI.sync_text_index(spark, other)
def test_sync_recovers_crashed_window_at_all_crash_points(spark, tmp_path):
    """The pending record carries the postings version the fold started
    from, so recovery reads EXACTLY how many fold phases landed from the
    postings commit count and applies only the missing suffix, then
    recomputes the meta scalars. Three crash shapes: (1) pending written,
    fold never ran; (2) delete phase committed, add phase lost (the
    mid-fold crash — doc-id presence cannot detect this for updated
    documents); (3) fold fully committed, pointer write lost (the shape
    where a naive replay would double-decrement scalars or re-delete an
    updated document's surviving rows)."""
    import json

    from cernbox_migration_database_spark.operators import (
        table_format as TF,
    )

    rows = [(i, f"alpha w{i} beta gamma") for i in range(8)]
    root, base = str(tmp_path / "docs"), str(tmp_path / "idx")
    TF.create_table(_docs(spark, rows), root)
    TI.build_text_index(spark, TF.read_table(spark, root), base, n_buckets=8)
    TI.bind_text_index(base, root)
    postings = os.path.join(base, "posting" "s")
    v0 = TF.current_version(root)
    p0 = TF.current_version(postings)

    def meta():
        return json.load(open(os.path.join(base, TI._META)))

    def state():
        m = meta()
        return (
            m["n_docs"], m["total_tokens"],
            [
                (r["doc_id"], r["score"])
                for r in TI.bm25_probe(
                    spark, base, ["alpha", "beta"], top_k=50
                ).collect()
            ],
        )

    seq = [0]

    def rebuilt():
        seq[0] += 1
        alt = str(tmp_path / f"re{seq[0]}")
        TI.build_text_index(
            spark, TF.read_table(spark, root), alt, n_buckets=8
        )
        m = json.load(open(os.path.join(alt, TI._META)))
        return (
            m["n_docs"], m["total_tokens"],
            [
                (r["doc_id"], r["score"])
                for r in TI.bm25_probe(
                    spark, alt, ["alpha", "beta"], top_k=50
                ).collect()
            ],
        )

    # the window: a delete, an update KEEPING a shared term (beta), and
    # an insert — the update is what breaks presence-based detection
    TF.delete_where(spark, root, "doc_id = 2")
    TF.update_where(spark, root, "doc_id = 5", {"text": "'beta beta moved'"})
    TF.merge_into(
        spark, root, _docs(spark, [(30, "gamma gamma new")]),
        on="doc_id", when_matched=None,
    )
    v1 = TF.current_version(root)
    want = rebuilt()

    def set_pending(p_start):
        m = meta()
        m["pending"] = [v0, v1, p_start]
        m["corpus_version"] = v0
        store_state.write(os.path.join(base, TI._META), m)

    # shape 1: fold never ran
    set_pending(p0)
    TI.sync_text_index(spark, base)
    assert state() == want and "pending" not in meta()

    # shape 3 setup happens to be the current state (fold fully applied
    # by shape 1's recovery): re-mark the same window pending with the
    # ORIGINAL postings version + 2 landed phases
    set_pending(TF.current_version(postings) - 2)
    TI.sync_text_index(spark, base)
    assert state() == want and meta()["corpus_version"] == v1

    # shape 2: rebuild a fresh index, apply ONLY the delete phase, then
    # recover — the add phase must be replayed, nothing re-deleted
    base2 = str(tmp_path / "idx2")
    TF.create_table(
        _docs(spark, rows), str(tmp_path / "d2")
    )  # pristine corpus twin for the pre-window snapshot
    TI.build_text_index(
        spark, TF.read_table(spark, root, v0), base2, n_buckets=8
    )
    TI.bind_text_index(base2, root, version=v0)
    p2 = TF.current_version(os.path.join(base2, "postings"))
    ch = TF.read_changes(
        spark, root, key="doc_id", from_version=v0, to_version=v1,
        include_preimage=True,
    )
    removed = ch.where(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("doc_id", "text")
    rtoks = removed.select(
        "doc_id", F.posexplode(TI.TXT.tokens("text")).alias("pos", "tok")
    )
    m2 = json.load(open(os.path.join(base2, TI._META)))
    TI._delete_posting_keys(
        spark, base2, m2,
        TI.TF.with_bucket(
            TI._postings(rtoks), key="tok", n_buckets=m2["n_buckets"]
        ),
    )
    m2 = json.load(open(os.path.join(base2, TI._META)))
    m2["pending"] = [v0, v1, p2]
    store_state.write(os.path.join(base2, TI._META), m2)
    TI.sync_text_index(spark, base2)
    m2 = json.load(open(os.path.join(base2, TI._META)))
    got2 = (
        m2["n_docs"], m2["total_tokens"],
        [
            (r["doc_id"], r["score"])
            for r in TI.bm25_probe(
                spark, base2, ["alpha", "beta"], top_k=50
            ).collect()
        ],
    )
    assert got2 == want and m2["corpus_version"] == v1
