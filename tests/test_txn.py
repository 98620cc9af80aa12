from __future__ import annotations

import json
import os

import pytest

from cernbox_migration_database_spark.operators import store_state
from cernbox_migration_database_spark.operators import table_format as TF
from cernbox_migration_database_spark.operators import txn as TX


def _mk_tables(spark, tmp_path):
    """Two tables whose contents must move together: facts + a summary."""
    facts = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id long, g string, v long"
    )
    summ = spark.createDataFrame(
        [("a", 2, 30), ("b", 1, 30)], "g string, n long, sv long"
    )
    froot, sroot = str(tmp_path / "facts"), str(tmp_path / "summary")
    TF.create_table(facts, froot)
    TF.create_table(summ, sroot)
    cat = str(tmp_path / "catalog.json")
    TX.create_catalog(cat, {"facts": froot, "summary": sroot})
    return cat, froot, sroot


def _stage_both(spark, txn, delta_id=4):
    new_fact = spark.createDataFrame(
        [(delta_id, "b", 40)], "id long, g string, v long"
    )
    new_summ = spark.createDataFrame([("b", 1, 40)], "g string, n long, sv long")
    txn.stage(
        "facts",
        lambda root: TF.merge_into(spark, root, new_fact, on="id", publish=False),
    )
    txn.stage(
        "summary",
        lambda root: TF.merge_into(
            spark,
            root,
            new_summ,
            on="g",
            update_set={
                "n": lambda t, s: t["n"] + s["n"],
                "sv": lambda t, s: t["sv"] + s["sv"],
            },
            publish=False,
        ),
    )


def test_txn_commit_is_atomic_for_catalog_readers(spark, tmp_path):
    cat, froot, sroot = _mk_tables(spark, tmp_path)
    before = TX.read_catalog(cat)
    txn = TX.MultiTableTxn(cat)
    _stage_both(spark, txn)
    # staged but uncommitted: catalog AND per-table pointers unchanged
    assert TX.read_catalog(cat) == before
    assert TF.current_version(froot) == 1 and TF.current_version(sroot) == 1
    versions = txn.commit()
    assert versions == {"facts": 2, "summary": 2}
    after = TX.read_catalog(cat)
    assert after["seq"] == before["seq"] + 1
    rows = {r.g: r for r in TX.catalog_table(spark, cat, "summary").collect()}
    assert (rows["b"].n, rows["b"].sv) == (2, 70)
    assert TX.catalog_table(spark, cat, "facts").count() == 4
    # double-commit refused
    with pytest.raises(ValueError, match="committed"):
        txn.commit()


def test_crash_mid_commit_rolls_forward(spark, tmp_path):
    cat, froot, sroot = _mk_tables(spark, tmp_path)
    txn = TX.MultiTableTxn(cat)
    _stage_both(spark, txn)
    # simulate the crash window: intent says committing, only the first
    # table (sorted order: facts) was published, catalog not swapped
    txn._state = "committing"
    txn._write_intent()
    TF.publish_staged(froot, 2)
    assert TF.current_version(froot) == 2
    assert TF.current_version(sroot) == 1
    assert TX.read_catalog(cat)["tables"]["facts"]["version"] == 1
    # catalog readers still see the consistent OLD view
    assert TX.catalog_table(spark, cat, "facts").count() == 3

    actions = TX.recover(cat)
    assert list(actions.values()) == ["rolled_forward"]
    assert TF.current_version(sroot) == 2
    assert TX.read_catalog(cat)["tables"]["facts"]["version"] == 2
    rows = {r.g: r for r in TX.catalog_table(spark, cat, "summary").collect()}
    assert (rows["b"].n, rows["b"].sv) == (2, 70)
    # recover is idempotent
    assert TX.recover(cat) == {}


def test_crash_while_staging_rolls_back(spark, tmp_path):
    cat, froot, sroot = _mk_tables(spark, tmp_path)
    txn = TX.MultiTableTxn(cat)
    new_fact = spark.createDataFrame([(9, "c", 1)], "id long, g string, v long")
    txn.stage(
        "facts",
        lambda root: TF.merge_into(spark, root, new_fact, on="id", publish=False),
    )
    del txn  # crash: claim v2 of facts held, nothing visible
    actions = TX.recover(cat)
    assert list(actions.values()) == ["rolled_back"]
    assert TF.current_version(froot) == 1
    # the claim is released: a fresh writer can commit v2 normally
    v = TF.merge_into(spark, froot, new_fact, on="id")
    assert v == 2 and TF.read_table(spark, froot).count() == 4


def test_abort_releases_claims(spark, tmp_path):
    cat, froot, sroot = _mk_tables(spark, tmp_path)
    txn = TX.MultiTableTxn(cat)
    _stage_both(spark, txn)
    txn.abort()
    assert TF.current_version(froot) == 1 and TF.current_version(sroot) == 1
    with pytest.raises(ValueError, match="aborted"):
        txn.commit()
    # claims released on both tables
    f2 = TF.merge_into(
        spark,
        froot,
        spark.createDataFrame([(7, "a", 5)], "id long, g string, v long"),
        on="id",
    )
    assert f2 == 2


def test_stage_validations(spark, tmp_path):
    cat, froot, sroot = _mk_tables(spark, tmp_path)
    txn = TX.MultiTableTxn(cat)
    with pytest.raises(KeyError):
        txn.stage("nope", lambda root: 2)
    with pytest.raises(TypeError, match="publish=True"):
        txn.stage("facts", lambda root: None)
    new_fact = spark.createDataFrame([(9, "c", 1)], "id long, g string, v long")
    txn.stage(
        "facts",
        lambda root: TF.merge_into(spark, root, new_fact, on="id", publish=False),
    )
    with pytest.raises(ValueError, match="already staged"):
        txn.stage("facts", lambda root: 3)
    txn.abort()


def test_catalog_lock_mutual_exclusion_and_stale_break(tmp_path):
    import threading
    import time as _time

    cat = str(tmp_path / "c.json")
    store_state.write(cat, {"seq": 1, "tables": {}})
    order = []
    lk = TX._CatalogLock(cat)
    lk.__enter__()

    def second():
        with TX._CatalogLock(cat, timeout=5.0):
            order.append("second")

    t = threading.Thread(target=second)
    t.start()
    _time.sleep(0.15)
    order.append("first-release")
    lk.__exit__()
    t.join(timeout=5)
    assert order == ["first-release", "second"]

    # a dead holder's lock is broken after the grace period
    os.mkdir(cat + ".lock")
    old = _time.time() - 120
    os.utime(cat + ".lock", (old, old))
    with TX._CatalogLock(cat, timeout=2.0, stale_after=60.0):
        order.append("broke-stale")
    assert order[-1] == "broke-stale"


def test_disjoint_txns_preserve_both_catalog_updates(spark, tmp_path):
    cat, froot, sroot = _mk_tables(spark, tmp_path)
    new_fact = spark.createDataFrame([(8, "a", 1)], "id long, g string, v long")
    new_summ = spark.createDataFrame([("a", 0, 1)], "g string, n long, sv long")
    t1, t2 = TX.MultiTableTxn(cat), TX.MultiTableTxn(cat)
    t1.stage(
        "facts",
        lambda root: TF.merge_into(spark, root, new_fact, on="id", publish=False),
    )
    t2.stage(
        "summary",
        lambda root: TF.merge_into(spark, root, new_summ, on="g", publish=False),
    )
    t1.commit()
    t2.commit()
    tables = TX.read_catalog(cat)["tables"]
    assert tables["facts"]["version"] == 2
    assert tables["summary"]["version"] == 2
    snap = TX.catalog_snapshot(spark, cat)
    assert set(snap) == {"facts", "summary"}
    assert snap["facts"].count() == 4


def test_stale_break_is_single_winner_and_spares_fresh_locks(tmp_path):
    """ADVICE r6: the stale-lock break was a stat->rmdir TOCTOU — a
    breaker could delete a FRESH holder's re-acquired lock. Breaking now
    claims the dir with one atomic rename (single winner) and re-verifies
    staleness on the captured dir, handing fresh claims straight back."""
    import time as _time

    cat = str(tmp_path / "c.json")
    store_state.write(cat, {"seq": 1, "tables": {}})
    lockdir = cat + ".lock"

    # 1) genuinely stale lock: broken, path freed
    os.mkdir(lockdir)
    old = _time.time() - 120
    os.utime(lockdir, (old, old))
    lk = TX._CatalogLock(cat, stale_after=60.0)
    lk._break_stale(None)
    assert not os.path.exists(lockdir)

    # 2) FRESH lock captured by a breaker that stat'ed before the holder
    # re-acquired: must be handed back intact, not deleted
    os.mkdir(lockdir)
    lk._break_stale(None)
    assert os.path.isdir(lockdir)
    os.rmdir(lockdir)

    # 3) two breakers racing a stale lock: the rename loser is a no-op
    # (simulated by the winner having already captured the dir)
    os.mkdir(lockdir)
    os.utime(lockdir, (old, old))
    lk._break_stale(None)      # winner breaks it
    assert not os.path.exists(lockdir)
    lk._break_stale(None)      # loser: rename fails, returns quietly


def test_stale_break_owner_token_guards(tmp_path):
    """ADVICE r7: even the rename-capture break could free a FRESH
    holder's re-claim for the capture's duration and then rmtree it on a
    failed hand-back, and a displaced holder's __exit__ rmdir'd the NEW
    claimant's lock dir. Claims now carry an owner token (pid+nonce):
    the breaker deletes only a capture whose token matches the one it
    verified stale, and __exit__ releases only its own token."""
    import time as _time

    cat = str(tmp_path / "c.json")
    store_state.write(cat, {"seq": 1, "tables": {}})
    lockdir = cat + ".lock"
    old = _time.time() - 120

    # 1) token mismatch: breaker verified claim A stale, but holder B
    # re-claimed before the capture — B's claim is handed back intact
    lk = TX._CatalogLock(cat, stale_after=60.0)
    os.mkdir(lockdir)
    with open(os.path.join(lockdir, "owner"), "w") as fh:
        fh.write("fresh-holder-token")
    os.utime(os.path.join(lockdir, "owner"), (old, old))  # looks old...
    lk._break_stale("the-token-that-was-seen-stale")      # ...but wrong claim
    # handed back because tokens differ AND... wait, age IS stale here
    # — identity mismatch alone must spare it
    assert os.path.isdir(lockdir)
    with open(os.path.join(lockdir, "owner")) as fh:
        assert fh.read() == "fresh-holder-token"
    import shutil

    shutil.rmtree(lockdir)

    # 2) token match + stale age: really dead — broken
    os.mkdir(lockdir)
    with open(os.path.join(lockdir, "owner"), "w") as fh:
        fh.write("dead-token")
    os.utime(os.path.join(lockdir, "owner"), (old, old))
    lk._break_stale("dead-token")
    assert not os.path.exists(lockdir)

    # 3) displaced holder's __exit__ must NOT remove a new claimant's dir
    holder = TX._CatalogLock(cat, stale_after=60.0)
    holder.__enter__()
    # simulate displacement: a breaker captured+deleted our claim and a
    # new claimant took the path with its own token
    shutil.rmtree(lockdir)
    os.mkdir(lockdir)
    with open(os.path.join(lockdir, "owner"), "w") as fh:
        fh.write("new-claimant-token")
    holder.__exit__()
    assert os.path.isdir(lockdir)
    with open(os.path.join(lockdir, "owner")) as fh:
        assert fh.read() == "new-claimant-token"
    shutil.rmtree(lockdir)

    # 4) normal acquire/release still leaves no residue
    with TX._CatalogLock(cat):
        assert os.path.isfile(os.path.join(lockdir, "owner"))
    assert not os.path.exists(lockdir)
    assert not os.path.exists(lockdir)


def test_release_rename_capture_spares_instant_reclaim(tmp_path, monkeypatch):
    """ADVICE r8: __exit__ had a read-token-then-remove TOCTOU — a breaker
    + new claimant acting between the owner read and the rmdir made the
    displaced holder delete the NEW claimant's lock dir. Release now
    captures by atomic rename first, so the deletion can only ever target
    the capture. Pin it at the most adversarial instant: a claimant
    re-claims the path IMMEDIATELY after the release's rename."""
    import shutil

    cat = str(tmp_path / "c.json")
    store_state.write(cat, {"seq": 1, "tables": {}})
    lockdir = cat + ".lock"

    holder = TX._CatalogLock(cat)
    holder.__enter__()
    real_rename = TX.os.rename
    hits = []

    def racy_rename(src, dst):
        real_rename(src, dst)
        if src == lockdir and not hits:  # only the release's capture
            hits.append(dst)
            os.mkdir(lockdir)  # instant re-claim by a new holder
            with open(os.path.join(lockdir, "owner"), "w") as fh:
                fh.write("instant-reclaimer-token")

    monkeypatch.setattr(TX.os, "rename", racy_rename)
    holder.__exit__()
    monkeypatch.undo()
    assert hits, "release did not capture by rename"
    assert not os.path.exists(hits[0])  # own capture cleaned up
    assert os.path.isdir(lockdir)  # the re-claimer's dir survived
    with open(os.path.join(lockdir, "owner")) as fh:
        assert fh.read() == "instant-reclaimer-token"
    shutil.rmtree(lockdir)
