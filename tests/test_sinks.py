"""Side-effecting sink shape (S10/X1): bounded-parallelism foreachPartition
writes — the Spark form of the reference's 20-goroutine semaphore + per-row
UPDATE (main.go:217-240, 260-271)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators.merge import (
    dbapi_upsert_writer,
    jdbc_upsert_writer,
    merge_updates,
    write_upserts,
)


def test_foreach_partition_bounded_sink(spark):
    """Drive the merged update set through a foreachPartition sink with
    bounded width (repartition(4) = the X1 concurrency bound) and verify
    every updated row was 'written' exactly once."""
    base = spark.range(100).select(
        F.col("id"), (F.col("id") * 2.0).alias("val")
    )
    updates = base.filter(F.col("id") % 3 == 0).select(
        "id", (F.col("val") + 1000).alias("val")
    )
    merged = merge_updates(base, updates, key="id", update_cols=["val"])
    to_write = merged.filter("updated").repartition(4)

    out_dir = tempfile.mkdtemp()

    def write_partition(rows):
        # one 'connection' per partition (the prepared-statement analogue);
        # file-per-partition keeps executor-side state observable
        import uuid

        path = os.path.join(out_dir, f"part-{uuid.uuid4().hex}")
        with open(path, "w") as f:
            for r in rows:
                f.write(f"{r['id']},{r['val']}\n")

    to_write.foreachPartition(write_partition)

    written = {}
    nfiles = 0
    for name in os.listdir(out_dir):
        nfiles += 1
        for line in open(os.path.join(out_dir, name)):
            k, v = line.strip().split(",")
            written[int(k)] = float(v)
    assert nfiles <= 4  # bounded width held
    assert set(written) == {i for i in range(100) if i % 3 == 0}
    assert written[3] == 3 * 2.0 + 1000


def test_jdbc_upsert_sqlite_roundtrip(spark, tmp_path):
    """The reference's actual side effect (main.go:217-240): a prepared
    UPDATE ... WHERE id=? against a live DB. Here executed end-to-end through
    foreachPartition against stdlib sqlite3, then re-read to verify exactly
    the updated keys mutated."""
    import sqlite3

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute(
        "CREATE TABLE oc_share (id INTEGER PRIMARY KEY,"
        " item_source TEXT, item_target TEXT)"
    )
    con.executemany(
        "INSERT INTO oc_share VALUES (?, 'old', '/old')", [(i,) for i in range(50)]
    )
    con.commit()
    con.close()

    updates = spark.range(0, 50, 3).select(
        F.col("id"),
        F.concat(F.lit("inode-"), F.col("id")).alias("item_source"),
        F.concat(F.lit("/eos/"), F.col("id")).alias("item_target"),
    )
    writer = jdbc_upsert_writer(
        f"sqlite://{db}", "oc_share", "id", ["item_source", "item_target"]
    )
    write_upserts(updates.repartition(2), "id", writer)

    con = sqlite3.connect(db)
    rows = {
        r[0]: (r[1], r[2])
        for r in con.execute("SELECT id, item_source, item_target FROM oc_share")
    }
    con.close()
    for i in range(50):
        if i % 3 == 0:
            assert rows[i] == (f"inode-{i}", f"/eos/{i}")
        else:
            assert rows[i] == ("old", "/old")


def test_dbapi_upsert_rowcount_assertion(tmp_path):
    """A2 at the sink: a batch whose affected-row count mismatches its size
    (key missing in the target) fails the partition task — the reference's
    'expected 1 row affected' check (main.go:232-238), set-at-a-time."""
    import sqlite3

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    con.execute("INSERT INTO t VALUES (1, 'a')")
    con.commit()
    con.close()

    writer = dbapi_upsert_writer(
        lambda: sqlite3.connect(db), "t", "id", ["v"]
    )
    with pytest.raises(ValueError, match="affected 1 rows, expected 2"):
        writer(iter([{"id": 1, "v": "x"}, {"id": 999, "v": "y"}]))
    # failed batch rolled back — row 1 untouched
    con = sqlite3.connect(db)
    assert con.execute("SELECT v FROM t WHERE id=1").fetchone()[0] == "a"
    con.close()


def test_jdbc_writer_mysql_needs_driver():
    writer = jdbc_upsert_writer("jdbc:mysql://h:3306/db", "t", "id", ["v"])
    with pytest.raises(RuntimeError, match="mysql-connector"):
        writer(iter([]))


def test_jdbc_writer_rejects_unknown_scheme():
    with pytest.raises(ValueError, match="unsupported"):
        jdbc_upsert_writer("postgres://h/db", "t", "id", ["v"])


def test_merge_rejects_duplicate_update_keys(spark):
    """A2 inside the merged plan: building it runs no job, a key-only read
    cannot fan out, and reading the updated columns fails the job."""
    base = spark.range(10).select(F.col("id"), F.lit(1.0).alias("v"))
    dup = spark.createDataFrame([(1, 2.0), (1, 3.0)], "id long, v double")
    merged = merge_updates(base, dup, key="id", update_cols=["v"])
    assert merged.select("id").count() == 10
    with pytest.raises(SparkRuntimeException, match="duplicate key"):
        merged.collect()


def test_write_upserts_rejects_duplicate_keys_before_any_write(spark, tmp_path):
    """DBAPI twin of the test above: the partition tasks commit on their
    own, so a duplicate key anywhere in a 3-partition update set must fail
    before any partition writes."""
    import sqlite3

    db = str(tmp_path / "sink.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    con.executemany("INSERT INTO t VALUES (?, 'old')", [(i,) for i in range(9)])
    con.commit()
    con.close()

    rows = [(i, f"new{i}") for i in range(9)] + [(4, "again")]
    updates = spark.createDataFrame(rows, "id long, v string").repartition(3)
    assert updates.rdd.getNumPartitions() == 3
    writer = jdbc_upsert_writer(f"sqlite://{db}", "t", "id", ["v"])
    with pytest.raises(ValueError, match="duplicate keys: \\[4\\]"):
        write_upserts(updates, "id", writer)
    con = sqlite3.connect(db)
    assert con.execute("SELECT id, v FROM t ORDER BY id").fetchall() == [
        (i, "old") for i in range(9)
    ]
    con.close()


class _FakeMySQLCursor:
    """Records executemany calls; rowcount = number of param tuples, i.e.
    FOUND_ROWS (matched) semantics — what CLIENT_FOUND_ROWS guarantees."""

    def __init__(self, log):
        self.log = log
        self.rowcount = -1

    def executemany(self, sql, params):
        self.log.append(("executemany", sql, [tuple(p) for p in params]))
        self.rowcount = len(params)


class _FakeMySQLConnection:
    def __init__(self, log):
        self.log = log

    def cursor(self):
        return _FakeMySQLCursor(self.log)

    def commit(self):
        self.log.append(("commit",))

    def rollback(self):
        self.log.append(("rollback",))

    def close(self):
        self.log.append(("close",))


def _install_fake_mysql(monkeypatch, log, connect_kwargs):
    """Inject a fake mysql.connector into sys.modules so the lazy
    executor-side import in jdbc_upsert_writer resolves without a server."""
    import sys
    import types

    FOUND_ROWS = 2  # the real ClientFlag.FOUND_ROWS value

    constants = types.ModuleType("mysql.connector.constants")

    class ClientFlag:  # noqa: N801 - mirrors the driver's class name
        pass

    ClientFlag.FOUND_ROWS = FOUND_ROWS
    constants.ClientFlag = ClientFlag

    connector = types.ModuleType("mysql.connector")
    connector.constants = constants

    def connect(**kwargs):
        connect_kwargs.update(kwargs)
        return _FakeMySQLConnection(log)

    connector.connect = connect
    mysql_pkg = types.ModuleType("mysql")
    mysql_pkg.connector = connector
    monkeypatch.setitem(sys.modules, "mysql", mysql_pkg)
    monkeypatch.setitem(sys.modules, "mysql.connector", connector)
    monkeypatch.setitem(sys.modules, "mysql.connector.constants", constants)


def test_mysql_upsert_branch_sql_and_flags(monkeypatch):
    """The reference's actual sink is a prepared MySQL UPDATE
    (main.go:217-240). Exercise the mysql branch end-to-end against a fake
    DBAPI connection: %s paramstyle, CLIENT_FOUND_ROWS connect flag (rowcount
    = MATCHED rows, so idempotent re-application / task retries don't trip
    the strict per-batch check), batch splitting, and commit-close ordering."""
    log: list = []
    kwargs: dict = {}
    _install_fake_mysql(monkeypatch, log, kwargs)

    writer = jdbc_upsert_writer(
        "jdbc:mysql://db.example:3306/owncloud",
        "oc_share",
        "id",
        ["item_source", "item_target"],
    )
    # rebuild with a small batch size to check batching: jdbc_upsert_writer
    # fixes batch_size, so drive dbapi_upsert_writer through it with 3 rows
    rows = [
        {"id": 1, "item_source": "10", "item_target": "/10"},
        {"id": 2, "item_source": "20", "item_target": "/20"},
        {"id": 3, "item_source": "30", "item_target": "/30"},
    ]
    writer(iter(rows))

    assert kwargs["host"] == "db.example"
    assert kwargs["port"] == 3306
    assert kwargs["database"] == "owncloud"
    assert 2 in kwargs["client_flags"]  # FOUND_ROWS requested

    execs = [e for e in log if e[0] == "executemany"]
    assert len(execs) == 1
    sql = execs[0][1]
    assert sql == (
        "UPDATE oc_share SET item_source = %s, item_target = %s "
        "WHERE id = %s"
    )
    assert execs[0][2] == [
        ("10", "/10", 1),
        ("20", "/20", 2),
        ("30", "/30", 3),
    ]
    assert log[-2:] == [("commit",), ("close",)]


def test_mysql_upsert_rowcount_mismatch_rolls_back(monkeypatch):
    """With FOUND_ROWS semantics a short rowcount means keys genuinely
    missing from the target — the partition must fail and roll back."""
    log: list = []
    kwargs: dict = {}
    _install_fake_mysql(monkeypatch, log, kwargs)

    import cernbox_migration_database_spark.operators.merge as M

    writer = M.jdbc_upsert_writer("mysql://h/db", "t", "id", ["v"])

    # sabotage: report one fewer matched row than the batch size
    orig = _FakeMySQLCursor.executemany

    def short(self, sql, params):
        orig(self, sql, params)
        self.rowcount = len(params) - 1

    monkeypatch.setattr(_FakeMySQLCursor, "executemany", short)
    with pytest.raises(ValueError, match="expected 2"):
        writer(iter([{"id": 1, "v": "x"}, {"id": 2, "v": "y"}]))
    assert ("rollback",) in log
    assert log[-1] == ("close",)
    assert ("commit",) not in log


def test_mysql_upsert_batching(monkeypatch):
    """batch_size bounds each executemany — the set-at-a-time form of the
    reference's per-row loop, without unbounded parameter buffers."""
    log: list = []
    kwargs: dict = {}
    _install_fake_mysql(monkeypatch, log, kwargs)

    from cernbox_migration_database_spark.operators.merge import (
        dbapi_upsert_writer as W,
    )

    def connect():
        import mysql.connector

        return mysql.connector.connect(host="h", client_flags=[2])

    writer = W(connect, "t", "id", ["v"], batch_size=2, placeholder="%s")
    writer(iter([{"id": i, "v": str(i)} for i in range(5)]))
    execs = [e for e in log if e[0] == "executemany"]
    assert [len(e[2]) for e in execs] == [2, 2, 1]
