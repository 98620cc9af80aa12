"""LIVE MySQL/MariaDB integration: the reference's ACTUAL target engine
(main.go:78-85 opens a mysql DSN; 217-240 is the UPDATE sink). A private
server is booted for the module (mariadb-install-db/mysqld --initialize
+ a unix socket as the unprivileged 'nobody' user) and the flagship
migration runs end-to-end against it: live parallel scan (format-'%s'
paramstyle through dbapi_parallel_scan), enrich→route→versions-lookup→
create→update, and the computed updates flow back through
dbapi_upsert_writer's '%s' dialect — the same writer test_pgsql_live.py
and the sqlite twin exercise with '?', proving the sink is
dialect-generic, not postgres-shaped. Skips itself wherever the server
binaries or a DBAPI driver are absent."""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators.merge import (
    dbapi_upsert_writer,
    write_upserts,
)
from cernbox_migration_database_spark.sources.io import dbapi_parallel_scan


def _server_binary() -> str | None:
    for b in ("mariadbd", "mysqld"):
        p = shutil.which(b)
        if p:
            return p
    return None


def _driver_name() -> str | None:
    for mod in ("pymysql", "mysql.connector"):
        try:
            __import__(mod)
            return mod
        except ImportError:
            continue
    return None


def _install_binary() -> str | None:
    for b in ("mariadb-install-db", "mysql_install_db"):
        p = shutil.which(b)
        if p:
            return p
    return None


pytestmark = pytest.mark.skipif(
    _server_binary() is None
    or _driver_name() is None
    or (_install_binary() is None and "mariadbd" not in str(_server_binary())),
    reason="mysql/mariadb server binaries or DBAPI driver not installed",
)

_NOBODY_UID, _NOBODY_GID = 65534, 65534


def _as_nobody():
    os.setgid(_NOBODY_GID)
    os.setuid(_NOBODY_UID)


def _make_connect(sock: str, db: str = "test"):
    """Zero-arg executor-side connection factory. CLIENT_FOUND_ROWS so
    cursor.rowcount counts MATCHED rows (retry-safe exactly-one check —
    same reasoning as jdbc_upsert_writer's mysql branch)."""
    driver = _driver_name()

    def connect():
        if driver == "pymysql":
            import pymysql
            from pymysql.constants import CLIENT

            return pymysql.connect(
                unix_socket=sock,
                user="root",
                database=db,
                client_flag=CLIENT.FOUND_ROWS,
                autocommit=False,
            )
        import mysql.connector
        from mysql.connector.constants import ClientFlag

        return mysql.connector.connect(
            unix_socket=sock,
            user="root",
            database=db,
            client_flags=[ClientFlag.FOUND_ROWS],
        )

    return connect


def _exec(connect, *stmts: str) -> None:
    conn = connect()
    try:
        cur = conn.cursor()
        for s in stmts:
            cur.execute(s)
        conn.commit()
    finally:
        conn.close()


@pytest.fixture(scope="module")
def my_sock():
    """Boot a throwaway server on a unix socket; tear it down after."""
    import pathlib
    import tempfile
    import time

    base = pathlib.Path(tempfile.mkdtemp(prefix="cbx_my_", dir="/tmp"))
    data = base / "data"
    sock = str(base / "mysqld.sock")
    data.mkdir()
    os.chmod(base, 0o755)
    os.chown(base, _NOBODY_UID, _NOBODY_GID)
    os.chown(data, _NOBODY_UID, _NOBODY_GID)
    server = _server_binary()
    run = dict(preexec_fn=_as_nobody, capture_output=True, cwd="/tmp")

    inst = _install_binary()
    if inst:
        subprocess.run(
            [
                inst, f"--datadir={data}", "--skip-test-db",
                "--auth-root-authentication-method=normal",
            ],
            timeout=300, **run,
        )
    else:  # oracle mysqld bootstraps itself
        subprocess.run(
            [server, "--initialize-insecure", f"--datadir={data}"],
            timeout=300, **run,
        )
    proc = subprocess.Popen(
        [
            server, f"--datadir={data}", f"--socket={sock}",
            "--skip-networking", "--skip-grant-tables",
        ],
        preexec_fn=_as_nobody,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        cwd="/tmp",
    )
    deadline = time.time() + 120
    while not os.path.exists(sock):
        if time.time() > deadline or proc.poll() is not None:
            proc.kill()
            shutil.rmtree(base, ignore_errors=True)
            pytest.skip("mysql server failed to boot in this sandbox")
        time.sleep(0.5)
    _exec(_make_connect(sock, db="mysql"), "CREATE DATABASE IF NOT EXISTS test")
    try:
        yield sock
    finally:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
        shutil.rmtree(base, ignore_errors=True)


def test_live_parallel_scan_roundtrip(spark, my_sock):
    """Seed a reference-shaped table server-side, scan it back through 4
    concurrent '%s'-dialect range slices, match the aggregate; NULLs and
    quoted strings survive the driver boundary."""
    connect = _make_connect(my_sock)
    _exec(
        connect,
        "DROP TABLE IF EXISTS files",
        """
        CREATE TABLE files (
            id BIGINT PRIMARY KEY, path TEXT,
            size_bytes BIGINT, owner_uid INT
        )
        """,
    )
    conn = connect()
    try:
        cur = conn.cursor()
        cur.executemany(
            "INSERT INTO files VALUES (%s, %s, %s, %s)",
            [
                (
                    i,
                    None if i % 50 == 0 else f"/eos/user/u{i}/it's data.txt",
                    i * 37,
                    i % 7,
                )
                for i in range(1000)
            ],
        )
        conn.commit()
    finally:
        conn.close()

    df = dbapi_parallel_scan(
        spark, connect, "files",
        partition_column="id", lower_bound=0, upper_bound=999,
        schema="id bigint, path string, size_bytes bigint, owner_uid int",
        num_partitions=4, placeholder="%s",
    )
    assert df.count() == 1000
    agg = df.agg(
        F.sum("size_bytes").alias("s"),
        F.sum(F.when(F.col("path").isNull(), 1).otherwise(0)).alias("nulls"),
    ).collect()[0]
    assert agg["s"] == 37 * sum(range(1000))
    assert agg["nulls"] == 20
    row = df.where("id = 7").collect()[0]
    assert row["path"] == "/eos/user/u7/it's data.txt"


def test_live_end_to_end_migration_pipeline(spark, my_sock):
    """The reference's ENTIRE main() against its real engine: oc_share
    lives IN MySQL, the flagship plan scans it live, and the computed
    updates flow back through dbapi_upsert_writer's '%s' dialect with the
    per-batch exactly-one rowcount check. Replay is a no-op."""
    from cernbox_migration_database_spark.plans.migration import run_migration

    connect = _make_connect(my_sock)
    _exec(
        connect,
        "DROP TABLE IF EXISTS oc_share",
        """
        CREATE TABLE oc_share (
            id BIGINT PRIMARY KEY, share_type INT, share_with TEXT,
            uid_owner TEXT, parent BIGINT, item_type TEXT,
            item_source TEXT, item_target TEXT, file_source BIGINT,
            file_target TEXT, permissions TEXT, stime INT, accepted INT,
            expiration DATETIME, token TEXT, mail_send INT
        )
        """,
        *[
            "INSERT INTO oc_share VALUES "
            f"({i}, 3, NULL, 'jdoe', NULL, 'file', 'old', '/old', "
            f"{100 + i}, '/f{i}', '1', 0, 0, '2030-01-01', 't{i}', 0)"
            for i in (1, 2, 3, 4, 5, 9)
        ],
    )
    schema = (
        "id long, share_type int, share_with string, uid_owner string, "
        "parent long, item_type string, item_source string, "
        "item_target string, file_source long, file_target string, "
        "permissions string, stime int, accepted int, "
        "expiration timestamp, token string, mail_send int"
    )

    def scan():
        return dbapi_parallel_scan(
            spark, connect, "oc_share",
            partition_column="id", lower_bound=1, upper_bound=9,
            schema=schema, num_partitions=3, placeholder="%s",
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
        rows = missing_df.select(
            "id", "target_path", "f_uid", "f_gid"
        ).collect()
        return spark.createDataFrame(
            [
                (1000 + r["id"], r["target_path"], r["f_uid"], r["f_gid"], 0)
                for r in rows
            ],
            "inode long, path string, uid string, gid string, size long",
        )

    res = run_migration(scan(), meta, create_fn=create)
    upd_cols = ["item_source", "item_target", "file_source", "file_target"]
    write_upserts(
        res.updates.select("id", *upd_cols),
        "id",
        dbapi_upsert_writer(
            connect, "oc_share", "id", upd_cols, placeholder="%s"
        ),
    )

    def snap():
        return {
            r["id"]: (
                r["item_source"], r["item_target"],
                r["file_source"], r["file_target"],
            )
            for r in scan().collect()
        }

    got = snap()
    assert got[1] == ("201", "/201", 201, "/.sys.v#.a.txt")
    assert got[2][2] == 1002  # created versions-folder inode
    assert got[5] == ("205", "/205", 205, "/.sys.v#.e.txt")
    assert got[9][3] == "/.sys.v#.my doc v2.txt"  # spaces survived DB I/O
    assert got[3] == ("old", "/old", 103, "/f3")  # already-version branch
    assert got[4] == ("old", "/old", 104, "/f4")  # not-under-home branch

    # replay: migrated rows route to the audit-only branch, zero updates,
    # database state unchanged
    res2 = run_migration(scan(), meta, create_fn=create)
    assert res2.updates.count() == 0
    assert snap() == got
