"""Golden-row tests for the full pipeline — one row per branch
(FIXTURES.md §B.3; expected UPDATE values per main.go:218,228)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cernbox_migration_database_spark import util as U
from cernbox_migration_database_spark.plans.migration import run_migration

EXP = dt.datetime(2030, 1, 1)


SHARES_SCHEMA = (
    "id long, share_type int, share_with string, uid_owner string, "
    "parent long, item_type string, item_source string, item_target string, "
    "file_source long, file_target string, permissions string, stime int, "
    "accepted int, expiration timestamp, token string, mail_send int"
)


def _shares(spark):
    rows = [
        # 1: default, versions folder exists
        (1, 3, None, "jdoe", None, "file", "old", "/old", 101, "/f1", "1", 0, 0, EXP, "t1", 0),
        # 2: default, versions folder missing -> create + re-lookup
        (2, 3, None, "jdoe", None, "file", "old", "/old", 102, "/f2", "1", 0, 0, EXP, "t2", 0),
        # 3: already points at versions folder -> audit only
        (3, 3, None, "jdoe", None, "file", "old", "/old", 103, "/f3", "1", 0, 0, EXP, "t3", 0),
        # 4: not under home -> audit only
        (4, 3, None, "jdoe", None, "file", "old", "/old", 104, "/f4", "1", 0, 0, EXP, "t4", 0),
        # 5: share points at a version FILE -> resolve parent folder
        (5, 3, None, "jdoe", None, "file", "old", "/old", 105, "/f5", "1", 0, 0, EXP, "t5", 0),
        # 6: inode absent from catalog -> dead letter
        (6, 3, None, "jdoe", None, "file", "old", "/old", 999, "/f6", "1", 0, 0, EXP, "t6", 0),
        # 7: filtered out by scan (share_type != 3)
        (7, 1, None, "jdoe", None, "file", "old", "/old", 101, "/f7", "1", 0, 0, EXP, "t7", 0),
        # 8: filtered out by scan (item_type != file)
        (8, 3, None, "jdoe", None, "folder", "old", "/old", 101, "/f8", "1", 0, 0, EXP, "t8", 0),
        # 9: default with SPACES in path, versions folder exists (F10 hazard)
        (9, 3, None, "jdoe", None, "file", "old", "/old", 109, "/f9", "1", 0, 0, EXP, "t9", 0),
    ]
    return spark.createDataFrame(rows, SHARES_SCHEMA)


def _meta(spark):
    cols = ["inode", "path", "uid", "gid", "size"]
    rows = [
        (101, "/eos/user/j/jdoe/a.txt", "u", "g", 10),
        (201, "/eos/user/j/jdoe/.sys.v#.a.txt", "u", "g", 0),      # versions of 101
        (102, "/eos/user/j/jdoe/b.txt", "u2", "g2", 10),           # versions MISSING
        (103, "/eos/user/j/jdoe/.sys.v#.c.txt", "u", "g", 0),      # already-version
        (104, "/tmp/elsewhere/d.txt", "u", "g", 10),               # not under home
        (105, "/eos/user/j/jdoe/.sys.v#.e.txt/v42", "u", "g", 5),  # version FILE
        (205, "/eos/user/j/jdoe/.sys.v#.e.txt", "u", "g", 0),      # its parent
        (109, "/eos/user/j/jdoe/my doc v2.txt", "u", "g", 10),
        (209, "/eos/user/j/jdoe/.sys.v#.my doc v2.txt", "u", "g", 0),
    ]
    return spark.createDataFrame(rows, cols)


def _create_fn(spark):
    calls = []

    def create(missing_df):
        rows = missing_df.select("id", "target_path", "f_uid", "f_gid").collect()
        calls.append(rows)
        return spark.createDataFrame(
            [(1000 + r["id"], r["target_path"], r["f_uid"], r["f_gid"], 0) for r in rows],
            ["inode", "path", "uid", "gid", "size"],
        )

    return create, calls


def test_migration_all_branches(spark):
    create, calls = _create_fn(spark)
    res = run_migration(_shares(spark), _meta(spark), create_fn=create)

    updates = {r["id"]: r.asDict() for r in res.updates.collect()}
    # ids 1 (existing versions folder), 2 (created), 5 (parent), 9 (spaces)
    assert set(updates) == {1, 2, 5, 9}
    assert updates[1]["item_source"] == "201"
    assert updates[1]["item_target"] == "/201"
    assert updates[1]["file_source"] == 201
    assert updates[1]["file_target"] == "/.sys.v#.a.txt"
    assert updates[2]["file_source"] == 1002  # synthesized by create_fn
    assert updates[5]["file_source"] == 205
    assert updates[5]["file_target"] == "/.sys.v#.e.txt"
    assert updates[9]["file_target"] == "/.sys.v#.my doc v2.txt"

    audit = {r["id"]: r["decision"] for r in res.audit.collect()}
    assert audit[3] == "ALREADY_POINTS_TO_VERSION_FOLDER"
    assert audit[4] == "NOT_UNDER_HOME"
    assert audit[5] == "POINTS_TO_A_VERSION"
    assert audit[1] == "DEFAULT"

    dead = {r["id"]: r["error_stage"] for r in res.dead.collect()}
    assert dead == {6: "eos_info_by_inode"}

    # exactly one create call, containing exactly share 2
    assert len(calls) == 1 and [r["id"] for r in calls[0]] == [2]
    # privilege drop (main.go:208-216): the create runs as the FILE OWNER
    # (inode 102 belongs to u2/g2), never root
    assert (calls[0][0]["f_uid"], calls[0][0]["f_gid"]) == ("u2", "g2")

    merged = {r["id"]: r.asDict() for r in res.merged.collect()}
    assert len(merged) == 9  # every base row survives the merge
    assert merged[1]["updated"] is True and merged[1]["item_source"] == "201"
    assert merged[3]["updated"] is False and merged[3]["item_source"] == "old"
    assert merged[7]["updated"] is False  # scan-filtered rows untouched


def test_migration_user_filter(spark):
    create, _ = _create_fn(spark)
    shares = _shares(spark).withColumn(
        "uid_owner", F.when(F.col("id") <= 2, "alice").otherwise("bob")
    )
    res = run_migration(shares, _meta(spark), user="alice", create_fn=create)
    assert {r["id"] for r in res.updates.collect()} == {1, 2}


def test_migration_empty_guard(spark):
    with pytest.raises(ValueError, match="public share files"):
        run_migration(
            _shares(spark).filter(F.col("share_type") == 99), _meta(spark)
        )


@pytest.mark.parametrize("with_create", [True, False])
def test_migration_runs_only_its_guard_and_create(spark, spark_status, with_create):
    """run_migration stays lazy: its only SQL executions are the P7 empty
    guard and the create sink. The A2 duplicate-id check belongs to the
    sink that writes the updates."""
    create = _create_fn(spark)[0] if with_create else None
    shares, meta = _shares(spark), _meta(spark)
    before = spark_status().last_execution
    run_migration(shares, meta, create_fn=create)
    assert spark_status().last_execution - before == (2 if with_create else 1)
    U.release_persisted()


def test_migration_releases_its_cache(spark, spark_status):
    """What run_migration persists for its sinks is freed by
    release_persisted(), so repeated runs in one session do not pile up
    cached blocks."""
    before = spark_status().cached_rdds
    create, _ = _create_fn(spark)
    res = run_migration(_shares(spark), _meta(spark), create_fn=create)
    for df in (res.updates, res.audit, res.dead):
        df.collect()
    U.release_persisted()
    assert not spark_status().cached_rdds - before


def test_missing_create_fn_dead_letters(spark):
    res = run_migration(_shares(spark), _meta(spark), create_fn=None)
    dead = {r["id"]: r["error_stage"] for r in res.dead.collect()}
    assert dead[2] == "versions_folder_missing"
    assert dead[6] == "eos_info_by_inode"


def test_create_command_privilege_drop():
    """createVersionsFolder (main.go:208-216): `eos -r <uid> <gid> file
    version <path>` — the create runs as the file owner, never root, and
    targets the FILE path (eos derives the versions folder)."""
    from cernbox_migration_database_spark.plans.migration import create_command

    args = create_command(
        {"f_uid": "u2", "f_gid": "g2", "f_path": "/eos/user/j/jdoe/b.txt"}
    )
    assert args == [
        "/usr/bin/eos", "-r", "u2", "g2", "file", "version",
        "/eos/user/j/jdoe/b.txt",
    ]


def test_migration_shuffle_join_path(spark):
    """broadcast_meta=False: the enrichment/versions joins run as shuffle
    joins (the 100 TB-metadata shape) — branch results identical to the
    broadcast path."""
    create, calls = _create_fn(spark)
    res = run_migration(
        _shares(spark), _meta(spark), create_fn=create, broadcast_meta=False
    )
    updates = {r["id"]: r.asDict() for r in res.updates.collect()}
    assert set(updates) == {1, 2, 5, 9}
    assert updates[1]["item_source"] == "201"
    dead = {r["id"]: r["error_stage"] for r in res.dead.collect()}
    assert dead == {6: "eos_info_by_inode"}
    assert [r["id"] for r in calls[0]] == [2]
