"""Merge/update sink, cardinality assertion, dry-run (SURVEY.md §2.1 S6/S7, A2/J3).

The reference writes one prepared ``UPDATE ... WHERE id=?`` per row and
asserts exactly one row was affected (main.go:217-240). Set-at-a-time this is
a MERGE: join the base table with the computed update set on the key and
take new values over old. Building the plan runs no job: each sink that
writes owns the exactly-one check (A2). ``merge_updates`` carries it inside
its plan, ``table_format.merge_into`` runs it in its pre-write pass and
``write_upserts`` runs it before any DBAPI partition writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def assert_exactly_one(updates: DataFrame, key: str | list[str]) -> None:
    """A2 (main.go:232-238): every key in the update set must be unique.
    Raises with the offending keys (bounded sample) otherwise. ``key`` may
    be a single column name or a composite-key column list."""
    keys = [key] if isinstance(key, str) else list(key)
    dupes = (
        updates.groupBy(*keys).count().filter(F.col("count") > 1).limit(5).collect()
    )
    if dupes:
        shown = [r[keys[0]] if len(keys) == 1 else tuple(r[k] for k in keys) for r in dupes]
        raise ValueError(f"update set has duplicate keys: {shown}")


def merge_updates(
    base: DataFrame,
    updates: DataFrame,
    key: str,
    update_cols: list[str],
) -> DataFrame:
    """Pure-DataFrame MERGE: rows of ``base`` with ``update_cols`` overwritten
    where ``updates`` has a matching key, untouched otherwise (upsert-style
    output, S6). ``updates`` must carry ``key`` + ``update_cols``.

    The update set is grouped by key, so the join cannot fan out. Reading an
    updated column or ``updated`` raises ``update set has duplicate key`` if
    any key has two updates, which fails the consuming job (A2)."""
    dup = F.raise_error(F.format_string("update set has duplicate key %s", F.col(key)))
    upd = updates.groupBy(key).agg(
        *[F.first(c).alias(f"__new_{c}") for c in update_cols],
        F.when(F.count(F.lit(1)) == 1, True).otherwise(dup).alias("__matched"),
    )
    joined = base.join(upd, key, "left")
    out_cols = []
    for c in base.columns:
        if c in update_cols:
            out_cols.append(
                F.when(F.col("__matched"), F.col(f"__new_{c}")).otherwise(F.col(c)).alias(c)
            )
        else:
            out_cols.append(F.col(c))
    out_cols.append(F.coalesce(F.col("__matched"), F.lit(False)).alias("updated"))
    return joined.select(*out_cols)


def write_upserts(df: DataFrame, key: str | list[str], writer) -> None:
    """``df.foreachPartition(writer)`` once ``assert_exactly_one`` holds: the
    partition tasks commit independently, so duplicate keys are rejected
    before any partition writes."""
    assert_exactly_one(df, key)
    df.foreachPartition(writer)


def dbapi_upsert_writer(
    connect,
    table: str,
    key: str,
    update_cols: list[str],
    batch_size: int = 1000,
    placeholder: str = "?",
):
    """foreachPartition sink for a live DBAPI target: one connection + one
    prepared ``UPDATE ... WHERE key = ?`` per partition, executemany in
    bounded batches — the reference's per-row prepared UPDATE
    (main.go:217-240) amortized set-at-a-time. Use as::

        write_upserts(updates, "id",
                      dbapi_upsert_writer(connect, "oc_share", "id", [...]))

    ``connect`` is a zero-arg callable returning a DBAPI connection; it runs
    ON EXECUTORS, so any driver import belongs inside it. The reference's
    exactly-one-row-affected assertion (main.go:232-238) becomes a per-batch
    rowcount check: affected rows must equal batch size, else the partition
    task fails; :func:`write_upserts` rejects duplicate keys first.
    """
    # placeholder follows the driver's paramstyle: '?' (qmark — sqlite3),
    # '%s' (format — mysql-connector). Values always travel as bind
    # parameters, never interpolated (unlike the reference's Sprintf scan).
    set_clause = ", ".join(f"{c} = {placeholder}" for c in update_cols)
    sql = f"UPDATE {table} SET {set_clause} WHERE {key} = {placeholder}"  # noqa: S608
    cols = list(update_cols) + [key]

    def _write(rows) -> None:
        conn = connect()
        try:
            cur = conn.cursor()

            def flush(batch: list[tuple]) -> None:
                if not batch:
                    return
                cur.executemany(sql, batch)
                if cur.rowcount not in (-1, len(batch)):  # -1: driver opts out
                    raise ValueError(
                        f"upsert affected {cur.rowcount} rows, expected "
                        f"{len(batch)} (missing or duplicate {key} in {table})"
                    )

            batch: list[tuple] = []
            for row in rows:
                batch.append(tuple(row[c] for c in cols))
                if len(batch) >= batch_size:
                    flush(batch)
                    batch = []
            flush(batch)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    return _write


def jdbc_upsert_writer(url: str, table: str, key: str, update_cols: list[str], properties: dict | None = None):
    """URL-dispatching wrapper over :func:`dbapi_upsert_writer`.

    ``sqlite:///path`` works out of the box (stdlib sqlite3 — also the
    integration-test path); ``jdbc:mysql://`` / ``mysql://`` builds a lazy
    mysql-connector factory matching the reference's actual sink
    (main.go:217-240). The driver import stays inside the returned closure so
    it resolves executor-side.
    """
    props = properties or {}
    if url.startswith("sqlite://"):
        path = url[len("sqlite://"):]

        def connect():
            import sqlite3

            conn = sqlite3.connect(path, timeout=60.0)  # writer-lock patience
            return conn

    elif url.startswith(("jdbc:mysql://", "mysql://")):
        hostpart = url.split("://", 1)[1]

        def connect():
            try:
                import mysql.connector  # type: ignore[import-not-found]
                from mysql.connector.constants import (  # type: ignore[import-not-found]
                    ClientFlag,
                )
            except ImportError as e:  # pragma: no cover - driver not in env
                raise RuntimeError(
                    "mysql-connector-python is required on executors for a "
                    "live MySQL upsert sink"
                ) from e

            host, _, rest = hostpart.partition("/")
            h, _, p = host.partition(":")
            # CLIENT_FOUND_ROWS: make cursor.rowcount mean MATCHED rows, not
            # CHANGED rows (MySQL's default). Without it a no-op
            # re-application — a Spark task retry after the partition already
            # committed, or a re-run of an idempotent migration — reports
            # rowcount < batch size and permanently fails the task even
            # though every key matched. With it the strict per-batch check
            # keeps the reference's exactly-one-row semantics
            # (main.go:232-238) AND stays retry-safe.
            kwargs = dict(props)
            flags = list(kwargs.pop("client_flags", []))
            if ClientFlag.FOUND_ROWS not in flags:
                flags.append(ClientFlag.FOUND_ROWS)
            return mysql.connector.connect(
                host=h,
                port=int(p or 3306),
                database=rest or None,
                client_flags=flags,
                **kwargs,
            )

    else:
        raise ValueError(f"unsupported upsert sink url: {url!r}")

    ph = "?" if url.startswith("sqlite://") else "%s"
    return dbapi_upsert_writer(connect, table, key, update_cols, placeholder=ph)
