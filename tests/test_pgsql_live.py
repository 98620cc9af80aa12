"""LIVE PostgreSQL integration: a private server is booted for the test
session (initdb + pg_ctl as the unprivileged 'nobody' user over a unix
socket — postgres refuses root) and the psql-subprocess scan/sink paths
run against it end-to-end. This is the REAL-server exercise of the
reference's connect/scan/update-sink contract (main.go:78-97, 217-240)
that the DBAPI twins could only simulate; the whole module skips itself
where the postgres binaries are absent."""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators.merge import assert_exactly_one
from cernbox_migration_database_spark.sources import pgsql as PG

pytestmark = pytest.mark.skipif(
    not (shutil.which("initdb") and shutil.which("pg_ctl") and shutil.which("psql")),
    reason="postgres binaries not installed",
)

_PORT = 54331
_NOBODY_UID, _NOBODY_GID = 65534, 65534


def _as_nobody():
    os.setgid(_NOBODY_GID)
    os.setuid(_NOBODY_UID)


@pytest.fixture(scope="module")
def pg_dsn():
    # NOT pytest's tmp_path: its parents are 0700 root-owned and the
    # unprivileged server process could not traverse into them
    import pathlib
    import tempfile

    base = pathlib.Path(tempfile.mkdtemp(prefix="cbx_pg_", dir="/tmp"))
    data = base / "data"
    data.mkdir()
    os.chmod(base, 0o755)
    os.chown(base, _NOBODY_UID, _NOBODY_GID)
    os.chown(data, _NOBODY_UID, _NOBODY_GID)
    run = dict(
        preexec_fn=_as_nobody, capture_output=True, check=True, cwd="/tmp"
    )
    subprocess.run(
        ["initdb", "-D", str(data), "-A", "trust", "-U", "pguser"],
        timeout=180, **run,
    )
    subprocess.run(
        [
            "pg_ctl", "-D", str(data),
            "-o", f"-k {base} -h '' -p {_PORT}",
            "-l", str(base / "log"), "start",
        ],
        timeout=120, **run,
    )
    dsn = {"host": str(base), "port": _PORT, "user": "pguser", "dbname": "postgres"}
    try:
        yield dsn
    finally:
        subprocess.run(
            ["pg_ctl", "-D", str(data), "stop", "-m", "immediate"],
            preexec_fn=_as_nobody, capture_output=True, timeout=60, cwd="/tmp",
        )
        shutil.rmtree(base, ignore_errors=True)


def test_live_parallel_scan_roundtrip(spark, pg_dsn):
    """Seed a reference-shaped table server-side, scan it back through
    FOUR concurrent psql range slices, and match the aggregate; NULLs and
    quoted strings survive the CSV boundary."""
    PG.psql_exec(
        pg_dsn,
        """
        DROP TABLE IF EXISTS files;
        CREATE TABLE files (
            id BIGINT PRIMARY KEY,
            path TEXT,
            size_bytes BIGINT,
            owner_uid INT
        );
        INSERT INTO files
        SELECT i, CASE WHEN i % 50 = 0 THEN NULL
                       ELSE '/eos/user/u' || i || '/it''s data.txt' END,
               i * 37, (i % 7)
        FROM generate_series(0, 999) AS g(i);
        """,
    )
    df = PG.pg_scan(
        spark, pg_dsn, "files",
        "id bigint, path string, size_bytes bigint, owner_uid int",
        partition_col="id", lo=0, hi=1000, num_partitions=4,
    )
    assert df.count() == 1000
    agg = df.agg(
        F.sum("size_bytes").alias("s"),
        F.sum(F.when(F.col("path").isNull(), 1).otherwise(0)).alias("nulls"),
    ).collect()[0]
    assert agg["s"] == 37 * sum(range(1000))
    assert agg["nulls"] == 20
    row = df.where("id = 7").collect()[0]
    assert row["path"] == "/eos/user/u7/it's data.txt"  # quoting survived
    # unpartitioned (dimension) scan agrees
    assert (
        PG.pg_scan(
            spark, pg_dsn, "files",
            "id bigint, path string, size_bytes bigint, owner_uid int",
        ).count()
        == 1000
    )
    # HASH-sliced parallelism (no numeric bounds — the string/uuid-key
    # shape): slices are disjoint and exhaustive
    hashed = PG.pg_scan(
        spark, pg_dsn, "files",
        "id bigint, path string, size_bytes bigint, owner_uid int",
        partition_col="path", num_partitions=5,
    )
    assert hashed.count() == 1000
    assert hashed.select("id").distinct().count() == 1000


def test_live_end_to_end_migration_pipeline(spark, pg_dsn):
    """The reference's ENTIRE main() against a real database: the
    oc_share-shaped table lives IN PostgreSQL, the flagship migration
    plan scans it live (3 parallel psql slices), runs the full
    enrich→route→versions-lookup→create→update pipeline, and the
    computed updates flow BACK into the live table through the upsert
    sink (the main.go:217-240 UPDATE loop, set-based). Expected final DB
    state matches the parquet-fixture differential row for row —
    including the spaces-in-path share — and a replay is a no-op."""
    import datetime as dt

    from cernbox_migration_database_spark.plans.migration import run_migration

    PG.psql_exec(
        pg_dsn,
        """
        DROP TABLE IF EXISTS oc_share;
        CREATE TABLE oc_share (
            id BIGINT PRIMARY KEY, share_type INT, share_with TEXT,
            uid_owner TEXT, parent BIGINT, item_type TEXT,
            item_source TEXT, item_target TEXT, file_source BIGINT,
            file_target TEXT, permissions TEXT, stime INT, accepted INT,
            expiration TIMESTAMP, token TEXT, mail_send INT
        );
        INSERT INTO oc_share VALUES
          (1, 3, NULL, 'jdoe', NULL, 'file', 'old', '/old', 101, '/f1', '1', 0, 0, '2030-01-01', 't1', 0),
          (2, 3, NULL, 'jdoe', NULL, 'file', 'old', '/old', 102, '/f2', '1', 0, 0, '2030-01-01', 't2', 0),
          (3, 3, NULL, 'jdoe', NULL, 'file', 'old', '/old', 103, '/f3', '1', 0, 0, '2030-01-01', 't3', 0),
          (4, 3, NULL, 'jdoe', NULL, 'file', 'old', '/old', 104, '/f4', '1', 0, 0, '2030-01-01', 't4', 0),
          (5, 3, NULL, 'jdoe', NULL, 'file', 'old', '/old', 105, '/f5', '1', 0, 0, '2030-01-01', 't5', 0),
          (9, 3, NULL, 'jdoe', NULL, 'file', 'old', '/old', 109, '/f9', '1', 0, 0, '2030-01-01', 't9', 0);
        """,
    )
    schema = (
        "id long, share_type int, share_with string, uid_owner string, "
        "parent long, item_type string, item_source string, "
        "item_target string, file_source long, file_target string, "
        "permissions string, stime int, accepted int, "
        "expiration timestamp, token string, mail_send int"
    )
    shares = PG.pg_scan(
        spark, pg_dsn, "oc_share", schema,
        partition_col="id", lo=1, hi=10, num_partitions=3,
    )
    meta = spark.createDataFrame(
        [
            (101, "/eos/user/j/jdoe/a.txt", "u", "g", 10),
            (201, "/eos/user/j/jdoe/.sys.v#.a.txt", "u", "g", 0),
            (102, "/eos/user/j/jdoe/b.txt", "u2", "g2", 10),
            (103, "/eos/user/j/jdoe/.sys.v#.c.txt", "u", "g", 0),
            (104, "/tmp/elsewhere/d.txt", "u", "g", 10),
            (105, "/eos/user/j/jdoe/.sys.v#.e.txt/v42", "u", "g", 5),
            (205, "/eos/user/j/jdoe/.sys.v#.e.txt", "u", "g", 0),
            (109, "/eos/user/j/jdoe/my doc v2.txt", "u", "g", 10),
            (209, "/eos/user/j/jdoe/.sys.v#.my doc v2.txt", "u", "g", 0),
        ],
        ["inode", "path", "uid", "gid", "size"],
    )

    def create(missing_df):
        rows = missing_df.select("id", "target_path", "f_uid", "f_gid").collect()
        return spark.createDataFrame(
            [
                (1000 + r["id"], r["target_path"], r["f_uid"], r["f_gid"], 0)
                for r in rows
            ],
            "inode long, path string, uid string, gid string, size long",
        )

    res = run_migration(shares, meta, create_fn=create)
    # write the updates BACK to the live table: full post-update rows
    # upsert on id (the reference's UPDATE ... WHERE id, set-based)
    upd = res.updates
    full = (
        shares.alias("s")
        .join(upd.alias("u"), "id", "inner")
        .select(
            "id",
            *[F.col(f"s.{c}") for c in (
                "share_type", "share_with", "uid_owner", "parent",
                "item_type",
            )],
            F.col("u.item_source").alias("item_source"),
            F.col("u.item_target").alias("item_target"),
            F.col("u.file_source").alias("file_source"),
            F.col("u.file_target").alias("file_target"),
            *[F.col(f"s.{c}") for c in (
                "permissions", "stime", "accepted", "expiration", "token",
                "mail_send",
            )],
        )
    )
    # pg_upsert_sink keeps the last row of a duplicate key, so A2 is
    # checked here, before any partition writes
    assert_exactly_one(upd, "id")
    PG.pg_upsert_sink(full, pg_dsn, "oc_share", key_cols=["id"])

    def snap():
        return {
            r["id"]: (
                r["item_source"], r["item_target"],
                r["file_source"], r["file_target"],
            )
            for r in PG.pg_scan(spark, pg_dsn, "oc_share", schema).collect()
        }

    got = snap()
    assert got[1] == ("201", "/201", 201, "/.sys.v#.a.txt")
    assert got[2][2] == 1002  # created versions folder inode
    assert got[5] == ("205", "/205", 205, "/.sys.v#.e.txt")
    assert got[9][3] == "/.sys.v#.my doc v2.txt"  # spaces survived DB I/O
    assert got[3] == ("old", "/old", 103, "/f3")  # already-version: untouched
    assert got[4] == ("old", "/old", 104, "/f4")  # not-under-home: untouched

    # replay: re-scan the UPDATED live table and re-run — migrated rows
    # now point at version folders, so the router sends them down the
    # audit-only ALREADY_VERSION branch (ids 1/5/9; id 2's created inode
    # is absent from the catalog fixture → dead letter): the pipeline
    # computes ZERO updates and the database state stays put.
    res2 = run_migration(
        PG.pg_scan(
            spark, pg_dsn, "oc_share", schema,
            partition_col="id", lo=1, hi=10, num_partitions=3,
        ),
        meta,
        create_fn=create,
    )
    assert res2.updates.count() == 0
    audit2 = {r["id"]: r["decision"] for r in res2.audit.collect()}
    assert audit2[1] == "ALREADY_POINTS_TO_VERSION_FOLDER"
    assert snap() == got  # nothing written, state unchanged


def test_live_incremental_ingest_into_versioned_table(spark, pg_dsn, tmp_path):
    """DB→lakehouse bridge: watermark-cursor ingestion from the live
    server into a versioned table. Bootstrap loads everything; a second
    call after server-side inserts AND an update (with a bumped
    updated-at watermark) scans ONLY the delta and merges it; a caught-up
    call is a no-op; crash replay (cursor rewound) converges."""
    PG.psql_exec(
        pg_dsn,
        """
        DROP TABLE IF EXISTS acct;
        CREATE TABLE acct (
            uid BIGINT PRIMARY KEY, balance BIGINT, mtime BIGINT
        );
        INSERT INTO acct SELECT i, i * 100, i FROM generate_series(0, 49) g(i);
        """,
    )
    dest = str(tmp_path / "t")
    cursor = str(tmp_path / "cur")
    schema = "uid bigint, balance bigint, mtime bigint"
    from cernbox_migration_database_spark.operators import table_format as TF

    n = PG.pg_incremental_ingest(
        spark, pg_dsn, "acct", schema, "mtime", cursor, dest, key="uid"
    )
    assert n == 50
    assert TF.read_table(spark, dest).count() == 50

    # server-side delta: 10 inserts + 1 update, all with mtime > watermark
    PG.psql_exec(
        pg_dsn,
        """
        INSERT INTO acct SELECT i, i * 100, i + 1000
        FROM generate_series(50, 59) g(i);
        UPDATE acct SET balance = 777, mtime = 2000 WHERE uid = 7;
        """,
    )
    n2 = PG.pg_incremental_ingest(
        spark, pg_dsn, "acct", schema, "mtime", cursor, dest, key="uid"
    )
    assert n2 == 11  # only the delta crossed the wire
    snap = {
        r["uid"]: r["balance"] for r in TF.read_table(spark, dest).collect()
    }
    assert len(snap) == 60 and snap[7] == 777 and snap[55] == 5500

    assert PG.pg_incremental_ingest(
        spark, pg_dsn, "acct", schema, "mtime", cursor, dest, key="uid"
    ) == 0  # caught up

    # crash replay: rewind the cursor; re-ingest must converge, not dup
    TF.commit_cursor(cursor, 999)
    PG.pg_incremental_ingest(
        spark, pg_dsn, "acct", schema, "mtime", cursor, dest, key="uid"
    )
    snap2 = {
        r["uid"]: r["balance"] for r in TF.read_table(spark, dest).collect()
    }
    assert snap2 == snap


def test_live_upsert_sink_idempotent(spark, pg_dsn):
    """The S6 update-sink contract against the live server: Spark rows
    upsert via batched INSERT ... ON CONFLICT DO UPDATE; re-running the
    same write is a no-op (task-retry safety), and an updated frame
    overwrites in place — verified by scanning the table back."""
    PG.psql_exec(
        pg_dsn,
        """
        DROP TABLE IF EXISTS quotas;
        CREATE TABLE quotas (
            uid BIGINT PRIMARY KEY,
            quota_gb DOUBLE PRECISION,
            note TEXT
        );
        INSERT INTO quotas VALUES (1, 10.0, 'seed'), (2, 20.0, 'seed');
        """,
    )
    df = spark.range(0, 100).select(
        F.col("id").alias("uid"),
        (F.col("id") * 1.5).alias("quota_gb"),
        F.concat(F.lit("mig-"), F.col("id")).alias("note"),
    )
    n = PG.pg_upsert_sink(df, pg_dsn, "quotas", key_cols=["uid"], batch_size=32)
    assert n == 100

    def snap():
        return {
            r["uid"]: (r["quota_gb"], r["note"])
            for r in PG.pg_scan(
                spark, pg_dsn, "quotas",
                "uid bigint, quota_gb double, note string",
            ).collect()
        }

    got = snap()
    assert len(got) == 100  # seeds 1,2 overwritten, 0..99 present
    assert got[1] == (1.5, "mig-1")
    assert got[50] == (75.0, "mig-50")

    PG.pg_upsert_sink(df, pg_dsn, "quotas", key_cols=["uid"], batch_size=32)
    assert snap() == got  # idempotent replay

    df2 = df.withColumn("quota_gb", F.col("quota_gb") * 2)
    PG.pg_upsert_sink(df2, pg_dsn, "quotas", key_cols=["uid"])
    assert snap()[50] == (150.0, "mig-50")


def test_live_ingest_boundary_tie_not_skipped(spark, pg_dsn, tmp_path):
    """Round-5 advice regression: a row that becomes visible AFTER a scan
    with cursor_col EQUAL to the committed watermark (same-second
    updated-at tie / late-committing transaction) must be picked up by
    the next call — the old exclusive (>) re-scan skipped it forever.
    The inclusive re-scan must also not duplicate the boundary rows it
    replays, in keyed AND append modes, and a fully-replayed slice must
    not commit a spurious version."""
    from cernbox_migration_database_spark.operators import table_format as TF

    PG.psql_exec(
        pg_dsn,
        """
        DROP TABLE IF EXISTS tie;
        CREATE TABLE tie (uid BIGINT PRIMARY KEY, v BIGINT, mtime BIGINT);
        INSERT INTO tie VALUES (1, 10, 100), (2, 20, 200);
        """,
    )
    schema = "uid bigint, v bigint, mtime bigint"
    for mode, key in (("keyed", "uid"), ("append", None)):
        dest = str(tmp_path / f"t_{mode}")
        cursor = str(tmp_path / f"cur_{mode}")
        assert PG.pg_incremental_ingest(
            spark, pg_dsn, "tie", schema, "mtime", cursor, dest, key=key
        ) == 2
        # late arrival AT the watermark (mtime=200 == committed max)
        PG.psql_exec(pg_dsn, "INSERT INTO tie VALUES (3, 30, 200)")
        assert PG.pg_incremental_ingest(
            spark, pg_dsn, "tie", schema, "mtime", cursor, dest, key=key
        ) == 1  # the tie row lands; boundary replay of uid=2 does not dup
        snap = {
            r["uid"]: r["v"] for r in TF.read_table(spark, dest).collect()
        }
        assert snap == {1: 10, 2: 20, 3: 30}
        v_before = TF.current_version(dest)
        assert PG.pg_incremental_ingest(
            spark, pg_dsn, "tie", schema, "mtime", cursor, dest, key=key
        ) == 0  # caught up: boundary replays only
        assert TF.current_version(dest) == v_before  # no spurious commit
        assert TF.read_table(spark, dest).count() == 3  # and no dup rows
        PG.psql_exec(pg_dsn, "DELETE FROM tie WHERE uid = 3")


def test_live_upsert_sink_duplicate_keys_in_batch(spark, pg_dsn):
    """Round-5 advice regression: duplicate keys WITHIN one statement
    batch used to abort the write ('command cannot affect row a second
    time'); they must collapse last-wins instead. Duplicates that span
    batches must also land (later statement wins)."""
    PG.psql_exec(
        pg_dsn,
        """
        DROP TABLE IF EXISTS dupes;
        CREATE TABLE dupes (uid BIGINT PRIMARY KEY, v BIGINT);
        """,
    )
    # 3 copies of each key interleaved in ONE partition, so every batch
    # holds in-batch duplicates; the highest v per key is the last seen
    df = (
        spark.range(0, 300)
        .select((F.col("id") % 100).alias("uid"), F.col("id").alias("v"))
        .coalesce(1)
        .sortWithinPartitions("v")
    )
    n = PG.pg_upsert_sink(df, pg_dsn, "dupes", key_cols=["uid"], batch_size=7)
    assert n == 300  # every input row consumed
    got = {
        r["uid"]: r["v"]
        for r in PG.pg_scan(spark, pg_dsn, "dupes", "uid bigint, v bigint").collect()
    }
    assert len(got) == 100
    assert all(got[u] == u + 200 for u in range(100))  # last copy won
