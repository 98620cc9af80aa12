"""Global key index for partition-pruned point lookups on versioned tables.

The 100 TB problem: a point lookup (``WHERE key = ?``) on a fact table
partitioned by something OTHER than the key (date, status, tenant) scans
every partition — the key could be anywhere. Table formats solve it with a
record-level index (Hudi's record index, Delta's bloom indexes); the same
contract here as a tiny versioned side table ``(key, __part)`` maintained
INCREMENTALLY from the base table's change feed:

* ``create_key_index`` — one base scan projecting (key, partition value);
  the last full scan the index needs.
* ``refresh_key_index`` — folds the base CDF in: inserts/updates upsert
  the key's current partition (an update that moves a row across
  partitions re-points its entry), deletes drop the entry. O(changed
  rows), like matview refresh.
* ``point_lookup`` — reads the index for the probe keys (a 2-column scan,
  key-filter pushed to parquet row groups; compact the index sorted by
  key to keep that scan tight), then reads the base with BOTH the
  partition filter and the key filter — Spark's partition pruning cuts
  the scan to the partitions actually holding those keys.

The index is itself a versioned table: it snapshots atomically, time-
travels, and compacts. Like matview, refresh assumes a single maintainer
(the state file is unlocked).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_state
from .table_format import (
    create_table,
    current_version,
    merge_into,
    read_table,
)

_STATE = "_keyindex_state.json"


def _index_frame(df: DataFrame, key: str, part_col: str) -> DataFrame:
    return df.select(F.col(key), F.col(part_col).alias("__part"))


def create_key_index(
    spark: SparkSession, base_root: str, index_root: str, key: str
) -> int:
    """Build the index at the base table's current version. The base must
    be partitioned (an unpartitioned table has nothing to prune)."""
    from .table_format import partition_scheme

    part_col = partition_scheme(base_root)
    if not part_col:
        raise ValueError("key index requires a partitioned base table")
    if not isinstance(part_col, str):
        raise ValueError(
            "key index supports single-column partitioning (got "
            f"{part_col}); index the leading column or flatten the scheme"
        )
    base_v = current_version(base_root)
    idx = _index_frame(read_table(spark, base_root, base_v), key, part_col)
    create_table(idx, index_root)
    store_state.write(
        os.path.join(index_root, _STATE),
        {
            "base_root": base_root,
            "base_version": base_v,
            "key": key,
            "part_col": part_col,
        },
    )
    return base_v


def refresh_key_index(spark: SparkSession, index_root: str) -> int:
    """Advance the index to the base's current version from its change
    feed — upsert insert/update entries (post-image partition), delete
    removed keys. Never rescans the base."""

    def fold(st, ch, cur):
        upserts = _index_frame(
            ch.where(F.col("_change_type").isin("insert", "update")),
            st["key"],
            st["part_col"],
        )
        if not upserts.isEmpty():
            merge_into(
                spark, index_root, upserts, on=st["key"],
                check_cardinality=False,
            )
        deletes = ch.where(F.col("_change_type") == "delete").select(
            st["key"], F.lit(None).cast("string").alias("__part")
        )
        if not deletes.isEmpty():
            merge_into(
                spark,
                index_root,
                deletes,
                on=st["key"],
                when_matched="delete",
                when_not_matched=None,
                check_cardinality=False,
            )

    return store_state.fold_window(
        spark, os.path.join(index_root, _STATE), fold
    )


def point_lookup(
    spark: SparkSession, index_root: str, values: list
) -> DataFrame:
    """Index-pruned point lookup: resolve the partitions holding ``values``
    from the index (2-column scan, key filter pushed down), then read the
    base with partition + key filters so the scan touches only those
    partition directories. Returns the matching base rows.

    Raises if the base has commits the index has not folded: a moved or
    inserted key's entry would point at the wrong partition or be
    missing, and the lookup would silently return nothing for it."""
    st = store_state.read(os.path.join(index_root, _STATE))
    store_state.check_current(st, "refresh_key_index")
    idx = read_table(spark, index_root)
    parts = [
        r["__part"]
        for r in idx.where(F.col(st["key"]).isin(values))
        .select("__part")
        .distinct()
        .collect()
    ]
    base = read_table(spark, st["base_root"])
    part_pred = F.col(st["part_col"]).isin([p for p in parts if p is not None])
    if any(p is None for p in parts):
        part_pred = part_pred | F.col(st["part_col"]).isNull()
    return base.where(part_pred & F.col(st["key"]).isin(values))
