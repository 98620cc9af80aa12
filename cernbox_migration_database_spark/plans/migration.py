"""The full migration pipeline, set-at-a-time (SURVEY.md §3.1 blueprint).

Reference flow (main.go:241-322): scan oc_share -> per-row goroutine ->
eos-info by inode -> parse -> 4-way route -> maybe create versions folder
(with a 5-retry read loop for replication lag) -> UPDATE row. Row-at-a-time,
20-way bounded concurrency, 2-3 subprocess round-trips per row.

Spark restructuring — six staged DataFrame passes, one Catalyst plan up to
the side-effecting boundary:

  1. scan + filter + project            (P1-P3, pushed to the source)
  2. enrichment join on inode           (J1; dead-letter on miss, P8/X4)
  3. decision column                    (P4-P6 router, single expression)
  4. versions-folder lookup join        (J2 on the derived path)
     + create pass for misses          (S10; an explicit action barrier)
     + re-lookup                       (replaces the X3 retry loop: a
                                         deterministic second join instead of
                                         polling for replication)
  5. update-set construction            (main.go:218,228 semantics)
  6. merge + audit + dead-letter sinks  (S6-S9; the result is lazy, so a
                                         dry run writes nothing)

The per-row subprocess cost model (~20/RTT rows/s) becomes two set-at-a-time
joins — the structural win that makes this shape viable at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.paths import path_base, path_dir, versions_path
from ..operators.enrich import lookup_join
from ..operators.merge import merge_updates
from ..operators.router import (
    ALREADY_VERSION,
    DEFAULT,
    NOT_UNDER_HOME,
    PARENT_IS_VERSION,
    with_decision,
)
from ..util import tracked_persist

UPDATE_COLS = ["item_source", "item_target", "file_source", "file_target"]

# Columns the create sink is guaranteed to receive (stage 4b misses keep the
# full enriched row): the file's path AND its owner. The reference's create
# is privilege-dropped — `eos -r <uid> <gid> file version <path>`
# (main.go:208-216) runs as the FILE OWNER, never root (contrast the root
# `eos -r 0 0 file info` read at main.go:121).
CREATE_SINK_COLS = ["id", "f_path", "f_uid", "f_gid", "target_path"]


def create_command(row) -> list[str]:
    """argv for one versions-folder create, matching createVersionsFolder
    (main.go:208-216): privilege-dropped to the file owner's uid/gid, target
    is the FILE path (eos derives the versions folder itself). Use inside a
    ``create_fn``'s foreachPartition when shelling out for real."""
    return [
        "/usr/bin/eos",
        "-r",
        str(row["f_uid"]),
        str(row["f_gid"]),
        "file",
        "version",
        row["f_path"],
    ]


@dataclass
class MigrationResult:
    """The three first-class output streams + the merged base table, all
    lazy; reading ``merged``'s updated columns checks A2 (``merge_updates``)."""

    merged: DataFrame      # base rows with updates applied (S6), `updated` flag
    updates: DataFrame     # the computed update set (id + 4 columns)
    audit: DataFrame       # (id, decision, detail)  — S8 as a queryable table
    dead: DataFrame        # (id, error_stage)       — S9 dead letters


def _meta_for_join(meta: DataFrame, key: str, prefix: str) -> DataFrame:
    return meta.select(
        F.col(key).alias(f"{prefix}_{key}"),
        *[
            F.col(c).alias(f"{prefix}_{c}")
            for c in meta.columns
            if c != key
        ],
    )


def run_migration(
    shares: DataFrame,
    meta: DataFrame,
    home_prefix: str = "/eos/",
    user: str | None = None,
    create_fn: Callable[[DataFrame], DataFrame] | None = None,
    broadcast_meta: bool = False,
) -> MigrationResult:
    """Run the migration over an ``oc_share``-shaped DataFrame and an
    ``eos_meta``-shaped catalog DataFrame (FIXTURES.md §B).

    ``broadcast_meta`` defaults to False: the meta catalog scales with
    the number of files being migrated, so a hard broadcast hint on it
    is the growing-side anti-pattern plan_audit bans — AQE broadcasts a
    measured-small catalog at runtime anyway. Pass True only when the
    caller KNOWS the catalog slice is bounded (e.g. a single-user run
    against a per-user fixture).

    ``create_fn`` is the S10 side-effecting create sink: given the DataFrame
    of versions folders that do not exist (carrying at least
    ``CREATE_SINK_COLS`` — including ``f_uid``/``f_gid``, because each create
    must run privilege-dropped as the file owner, see :func:`create_command`),
    it must create them and return the catalog rows for the created folders
    (in tests, a synthesizer; in production, a foreachPartition that shells
    out / calls the catalog, then a re-read). Its invocation is an action
    barrier — stage 4's laziness is deliberately broken here and nowhere
    else.

    The result is lazy: only the P7 empty guard and ``create_fn`` run, and
    nothing is written until the caller writes ``updates``, ``audit`` or
    ``dead``, so the returned plan is the dry run. The sink that writes
    ``updates`` checks A2 (``merge_into``, ``merge.write_upserts``).
    The routed rows are persisted for the sinks that share them;
    ``util.release_persisted()`` frees them once the sinks are written.
    """
    # -- 1. scan shape (main.go:86-97): projection + equi-filters (+ user)
    scan = shares.filter(
        (F.col("share_type") == 3) & (F.col("item_type") == "file")
    )
    if user is not None:
        scan = scan.filter(F.col("uid_owner") == user)
    scan = scan.select(
        "id", "share_type", "item_source", "item_target", "file_source", "file_target"
    )

    # P7 empty guard (main.go:255-258). isEmpty is a collect-limit, whose
    # generated classes repeat across runs and hit the codegen cache;
    # limit(1).count() names its limit counter from a global id, so it
    # compiled new classes on every run.
    if scan.isEmpty():
        raise ValueError("share table does not contain public share files")

    # -- 2. J1 enrichment join on inode (main.go:272, 120-127)
    m1 = _meta_for_join(meta, "inode", "f")  # f_inode, f_path, f_uid, f_gid, f_size
    enriched, dead1 = lookup_join(
        scan,
        m1,
        scan["file_source"] == m1["f_inode"],
        required_col="f_inode",
        broadcast=broadcast_meta,
        stage="eos_info_by_inode",
    )

    # -- 3. router (main.go:280-315)
    routed = tracked_persist(with_decision(enriched, "f_path", home_prefix))

    already = routed.filter(F.col("decision") == ALREADY_VERSION)
    nothome = routed.filter(F.col("decision") == NOT_UNDER_HOME)
    parent_ver = routed.filter(F.col("decision") == PARENT_IS_VERSION)
    default = routed.filter(F.col("decision") == DEFAULT)

    # -- 4a. PARENT_IS_VERSION: resolve the *parent folder* metadata (J2 on
    # dirname; main.go:288-303)
    mp = _meta_for_join(meta, "path", "v")  # v_path, v_inode, ...
    parent_ver = parent_ver.withColumn("target_path", path_dir(F.col("f_path")))
    pv_hit, dead2 = lookup_join(
        parent_ver,
        mp,
        parent_ver["target_path"] == mp["v_path"],
        required_col="v_path",
        broadcast=broadcast_meta,
        stage="eos_info_by_parent_path",
    )

    # -- 4b. DEFAULT: versions-folder lookup (J2 on derived path;
    # main.go:141-146); misses go to the create pass.
    default = default.withColumn("target_path", versions_path(F.col("f_path")))
    dj = default.join(
        F.broadcast(mp) if broadcast_meta else mp,
        default["target_path"] == mp["v_path"],
        "left",
    )
    df_hit = dj.filter(F.col("v_path").isNotNull())
    df_miss = dj.filter(F.col("v_path").isNull()).drop(*mp.columns)

    if create_fn is not None:
        # Action barrier: the create sink runs NOW (S10), then a second join
        # replaces the reference's 5-retry replication-lag poll (X3).
        created_meta = create_fn(df_miss)
        mc = _meta_for_join(created_meta, "path", "v")
        created_hit, dead3 = lookup_join(
            df_miss,
            mc,
            df_miss["target_path"] == mc["v_path"],
            required_col="v_path",
            broadcast=broadcast_meta,
            stage="versions_folder_create",
        )
        df_hit = df_hit.unionByName(created_hit)
    else:
        dead3 = df_miss.select("id").withColumn(
            "error_stage", F.lit("versions_folder_missing")
        )

    # -- 5. update set (main.go:218,228): item_source = inode as string,
    # item_target = '/'+inode, file_source = inode, file_target = '/'+basename
    def _updates(hits: DataFrame) -> DataFrame:
        return hits.select(
            F.col("id"),
            F.col("v_inode").cast("string").alias("item_source"),
            F.concat(F.lit("/"), F.col("v_inode").cast("string")).alias("item_target"),
            F.col("v_inode").cast("long").alias("file_source"),
            F.concat(F.lit("/"), path_base(F.col("v_path"))).alias("file_target"),
        )

    updates = _updates(pv_hit).unionByName(_updates(df_hit))

    # -- 6. sinks
    audit = (
        already.select(
            "id",
            F.lit(ALREADY_VERSION).alias("decision"),
            F.col("f_path").alias("detail"),
        )
        .unionByName(
            nothome.select(
                "id", F.lit(NOT_UNDER_HOME).alias("decision"), F.col("f_path").alias("detail")
            )
        )
        .unionByName(
            pv_hit.select(
                "id", F.lit(PARENT_IS_VERSION).alias("decision"), F.col("target_path").alias("detail")
            )
        )
        .unionByName(
            df_hit.select(
                "id", F.lit(DEFAULT).alias("decision"), F.col("target_path").alias("detail")
            )
        )
    )

    dead = dead1.select("id", "error_stage")
    dead = dead.unionByName(dead2.select("id", "error_stage"))
    dead = dead.unionByName(dead3.select("id", "error_stage"))

    merged = merge_updates(shares, updates, key="id", update_cols=UPDATE_COLS)
    return MigrationResult(merged=merged, updates=updates, audit=audit, dead=dead)
