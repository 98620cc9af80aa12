"""LIVE relational-database scan + upsert sink over ``psql`` subprocesses.

The reference is a migration CLI against a live MySQL server: connect
(main.go:78-85), full-table scan into memory (main.go:86-97), and a
per-row ``UPDATE ... WHERE id=?`` sink (main.go:217-240). The container
ships no MySQL and no JDBC driver jar — but it DOES ship a complete
PostgreSQL installation, so this module implements the live half of that
contract against a real server, using the ``psql`` CLI as the transport
(the same subprocess-executor pattern as the reference's ``eos`` shell-outs,
operators/enrich.py):

* **Parallel scan** (:func:`pg_scan`): the classic JDBC-partitioned-read
  scheme — the key range [lo, hi] splits into N disjoint predicates, and
  EACH SPARK TASK runs its own ``psql COPY (SELECT ...) TO STDOUT CSV``
  subprocess, streaming its slice through Arrow into the plan. The server
  sees N concurrent range scans (what a 1000-executor cluster does to a
  sharded source); no row ever passes through the driver.
* **Batched upsert sink** (:func:`pg_upsert_sink`): ``INSERT ... ON
  CONFLICT (key) DO UPDATE`` in bounded batches per partition — the
  set-based form of the reference's row-at-a-time UPDATE loop, idempotent
  by construction (safe under Spark task retries, which re-run whole
  partitions).

Values cross the boundary as CSV with an explicit NULL sentinel and
quoting handled by COPY / literal-escaping on the write side; the scan
parses with pandas against the caller's declared Spark schema. DBAPI
twins for generic drivers live in sources/io.py (dbapi_parallel_scan) and
operators/merge.py (dbapi_upsert_writer); this module is the one that is
integration-tested against a REAL server (tests/test_pgsql_live.py boots
a private postgres instance per test session).
"""

from __future__ import annotations

import io as _io
import os
import subprocess
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_NULL = "\\N"  # COPY null sentinel: distinguishes NULL from empty string


def _psql_argv(dsn: dict) -> list[str]:
    return [
        "psql",
        "-h", str(dsn["host"]),
        "-p", str(dsn.get("port", 5432)),
        "-U", str(dsn.get("user", "postgres")),
        "-d", str(dsn.get("dbname", "postgres")),
        "-v", "ON_ERROR_STOP=1",
        "-X",  # never read a ~/.psqlrc
        "-q",
    ]


def psql_exec(dsn: dict, sql: str, timeout: float = 120.0) -> str:
    """Run one SQL script through psql; raises on any statement error."""
    r = subprocess.run(
        _psql_argv(dsn) + ["-c", sql],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    if r.returncode != 0:
        raise RuntimeError(f"psql failed ({r.returncode}): {r.stderr.strip()}")
    return r.stdout


def _copy_query(dsn: dict, query: str, timeout: float = 300.0) -> str:
    """``COPY (query) TO STDOUT CSV`` — the streaming extract."""
    sql = f"COPY ({query}) TO STDOUT WITH (FORMAT csv, HEADER, NULL '{_NULL}')"
    return psql_exec(dsn, sql, timeout=timeout)


def pg_scan(
    spark: SparkSession,
    dsn: dict,
    table: str,
    schema: StructType | str,
    partition_col: str | None = None,
    lo: int | None = None,
    hi: int | None = None,
    num_partitions: int = 4,
) -> DataFrame:
    """Parallel live scan of a PostgreSQL table (or ``(subquery) q``).

    With ``partition_col``/``lo``/``hi``, the key range splits into
    ``num_partitions`` disjoint stride predicates and each Spark task runs
    its own server-side range scan — the JDBC ``partitionColumn/lower/
    upperBound/numPartitions`` contract re-expressed over psql. With a
    ``partition_col`` but NO bounds, the split is by server-side HASH
    (``abs(hashtext(col::text)) % N = i``) — parallelism for string/uuid/
    composite keys where a numeric range does not exist (each slice is a
    full-index-agnostic scan server-side; range slices are the better
    plan when a clustered numeric key exists). Without a partition column
    the scan is a single task (dimension-table shape). ``schema``
    declares the result columns (a live source cannot be allowed to
    infer — the table's types are the contract)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    cols = ", ".join(f.name for f in schema.fields)
    if partition_col is None:
        preds = [None]
    elif lo is None and hi is None:
        if num_partitions < 1:
            raise ValueError("num_partitions must be >= 1")
        # COALESCE: a NULL key hashes to NULL and would vanish from every
        # slice — route NULLs through the empty-string bucket instead.
        # Mask, don't abs(): hashtext returns int4, and abs(-2147483648)
        # overflows int4 ('integer out of range'), failing the whole slice
        # for the ~2^-32-per-key unlucky hash — material odds on the
        # billion-row tables this scan targets. & 0x7fffffff maps that
        # value to 0 and is sign-safe for every other hash.
        preds = [
            f"(hashtext(coalesce({partition_col}::text, '')) & 2147483647) % "
            f"{num_partitions} = {i}"
            for i in range(num_partitions)
        ]
    else:
        if lo is None or hi is None or num_partitions < 1:
            raise ValueError("partitioned scan needs partition_col, lo, hi")
        # JDBC-style strides: lower/upper partitions are open-ended so
        # rows OUTSIDE [lo, hi] are still read exactly once.
        width = max(1, (hi - lo + num_partitions) // num_partitions)
        bounds = [lo + i * width for i in range(1, num_partitions)]
        preds = []
        for i in range(num_partitions):
            ps = []
            if i > 0:
                ps.append(f"{partition_col} >= {bounds[i - 1]}")
            if i < num_partitions - 1:
                ps.append(f"{partition_col} < {bounds[i]}")
            preds.append(" AND ".join(ps) if ps else None)
    queries = [
        f"SELECT {cols} FROM {table}"
        + (f" WHERE {p}" if p is not None else "")
        for p in preds
    ]
    names = [f.name for f in schema.fields]
    # numeric/bool/ts parsing happens pandas-side; string columns must NOT
    # collapse the NULL sentinel and empty string together
    dsn_items = tuple(sorted(dsn.items()))

    def read_slices(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        d = dict(dsn_items)
        for pdf in batches:
            for q in pdf["__q"]:
                raw = _copy_query(d, q)
                out = pd.read_csv(
                    _io.StringIO(raw),
                    header=0,
                    names=names,
                    na_values=[_NULL],
                    keep_default_na=False,
                    dtype="object",
                )
                yield out

    from pyspark.sql.types import StringType, StructField

    qdf = spark.createDataFrame(
        [(q,) for q in queries], "__q string"
    ).repartition(len(queries), "__q")
    str_schema = StructType(
        [StructField(f.name, StringType(), True) for f in schema.fields]
    )
    raw = qdf.mapInPandas(read_slices, schema=str_schema)
    # typed projection: CSV arrives as strings; cast per the declared
    # schema (ANSI-safe: a live source that emits garbage should fail loud)
    from pyspark.sql import functions as F

    return raw.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def pg_incremental_ingest(
    spark: SparkSession,
    dsn: dict,
    table: str,
    schema: StructType | str,
    cursor_col: str,
    cursor_path: str,
    dest_root: str,
    key: str | list[str] | None = None,
    partition_by: str | list[str] | None = None,
    num_partitions: int = 4,
) -> int:
    """Watermark-cursor ingestion from the live database into a versioned
    table — the standing DB→lakehouse bridge. Each call re-scans from the
    durable watermark INCLUSIVE (server-side ``cursor_col >= watermark``
    predicate: the years-old backlog is never re-read, but the boundary
    value is always re-read). Inclusive matters: the watermark commits as
    ``MAX(cursor_col)`` of the slice, and a row that becomes visible
    LATER with ``cursor_col`` equal to that max — a same-second
    updated-at tie, or an in-flight transaction that commits after the
    bounds query ran — would be silently skipped forever by an exclusive
    re-scan. Re-reading the boundary is safe in both apply modes: the
    keyed merge (``key`` set — a monotonically bumped ``cursor_col`` such
    as an updated-at then captures UPDATES too) and the append path
    (``key`` None: insert-only feeds) both first anti-join the re-scanned
    rows against the destination's OWN boundary slice — a null-safe
    full-row match, so a replayed boundary row is recognized as
    already-applied, never duplicated (append) and never the cause of a
    spurious no-op version commit (merge); stats-skipping keeps that
    destination read to the files whose min/max straddle the watermark.
    (The one append-mode caveat: two GENUINELY identical source rows
    sharing the boundary cursor value collapse to one — give such feeds a
    key or a unique column.) The watermark advances ONLY after the
    versioned commit publishes — a crash in between replays the same
    slice and converges. Transactions still in flight at commit time
    whose cursor lands STRICTLY BELOW the committed max remain the
    operator's responsibility: use a transaction-monotonic cursor
    (sequence/LSN), or re-run after the write traffic quiesces. Returns
    rows newly applied (0 when caught up — boundary replays don't
    count, and a fully-replayed slice commits nothing)."""
    import functools
    import operator

    from pyspark.sql import functions as F

    from ..operators import table_format as TF

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    last = TF.cursor_version(cursor_path)
    where = f" WHERE {cursor_col} >= {last}" if last is not None else ""
    inner = f"SELECT * FROM {table}{where}"
    # bound the slice's own key range server-side for the parallel scan
    bounds = psql_exec(
        dsn,
        f"COPY (SELECT COALESCE(MIN({cursor_col}), 0), "
        f"COALESCE(MAX({cursor_col}), 0), COUNT(*) FROM ({inner}) b) "
        f"TO STDOUT WITH (FORMAT csv)",
    ).strip()
    lo, hi, n = (int(float(x)) for x in bounds.split(","))
    if n == 0:
        return 0
    delta = pg_scan(
        spark, dsn, f"({inner}) q", schema,
        partition_col=cursor_col, lo=lo, hi=hi + 1,
        num_partitions=min(num_partitions, max(1, n)),
    )
    bootstrap = not os.path.exists(os.path.join(dest_root, "_latest"))
    if not bootstrap and last is not None:
        # drop boundary replays: rows the previous call already applied
        # re-arrive with cursor == last; a null-safe full-row anti-join
        # against the destination's boundary slice recognizes them (rows
        # with cursor > last can never match the slice and pass through)
        seen = TF.read_table(spark, dest_root).where(
            F.col(cursor_col) == F.lit(last)
        )
        cond = functools.reduce(
            operator.and_,
            [delta[c].eqNullSafe(seen[c]) for c in delta.columns],
        )
        delta = delta.join(seen, on=cond, how="left_anti")
    # persist: pg_scan re-runs its server subprocesses per action, and the
    # count and the apply must see the same rows
    delta = delta.persist()
    try:
        applied = delta.count()
        if applied == 0:
            # every scanned row was a boundary replay (which also means
            # hi == last): nothing to commit, watermark already durable
            return 0
        if bootstrap:
            TF.create_table(delta, dest_root, partition_by=partition_by)
        elif key is not None:
            TF.merge_into(spark, dest_root, delta, on=key)
        else:
            TF.insert_into(spark, dest_root, delta)
    finally:
        delta.unpersist()
    TF.commit_cursor(cursor_path, hi)
    return applied


def _sql_literal(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def pg_upsert_sink(
    df: DataFrame,
    dsn: dict,
    table: str,
    key_cols: list[str],
    batch_size: int = 500,
) -> int:
    """Write ``df`` into a live PostgreSQL table as batched
    ``INSERT ... ON CONFLICT (keys) DO UPDATE SET`` statements, one psql
    subprocess per batch, executed per Spark partition (the S6 update-sink
    contract, main.go:217-240, in its set-based idempotent form — a task
    retry re-upserts the same rows to the same values).

    Duplicate keys WITHIN a batch collapse last-wins before the statement
    is built: Postgres rejects a multi-row ``ON CONFLICT DO UPDATE`` that
    touches the same key twice ('command cannot affect row a second
    time'), so without the collapse a non-deduped input aborted the write
    mid-partition. Across batches the same key simply upserts again —
    later statements win, preserving arrival order within a partition, so
    A2 (one update per key) is the caller's job: ``merge.assert_exactly_one``.
    (Rows whose key columns are all NULL never conflict in Postgres;
    they still collapse here, which only matters for keyless feeds — use
    a real key.) Returns the number of input rows consumed, counted by an
    accumulator inside the single write action (exactly-once per task for
    action-side accumulator updates), so the count and the rows written
    can never come from two different executions of a non-deterministic
    upstream."""
    cols = df.columns
    non_keys = [c for c in cols if c not in key_cols]
    if not non_keys:
        raise ValueError("upsert needs at least one non-key column")
    key_idx = [cols.index(c) for c in key_cols]
    dsn_items = tuple(sorted(dsn.items()))
    col_list = ", ".join(cols)
    conflict = ", ".join(key_cols)
    updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in non_keys)
    acc = df.sparkSession.sparkContext.accumulator(0)

    def write_partition(rows) -> None:
        d = dict(dsn_items)
        # key literals → full VALUES tuple: dict insertion order keeps the
        # statement deterministic, overwrite makes in-batch dupes last-wins
        batch: dict[tuple, str] = {}

        def flush() -> None:
            if not batch:
                return
            values = ", ".join(batch.values())
            psql_exec(
                d,
                f"INSERT INTO {table} ({col_list}) VALUES {values} "
                f"ON CONFLICT ({conflict}) DO UPDATE SET {updates}",
            )
            batch.clear()

        for row in rows:
            lits = [_sql_literal(row[c]) for c in cols]
            batch[tuple(lits[i] for i in key_idx)] = (
                "(" + ", ".join(lits) + ")"
            )
            acc.add(1)
            if len(batch) >= batch_size:
                flush()
        flush()

    df.foreachPartition(write_partition)
    return acc.value
