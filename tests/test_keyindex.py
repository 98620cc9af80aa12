"""CDF-maintained global key index: partition-pruned point lookups."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from cernbox_migration_database_spark.operators import keyindex as KI
from cernbox_migration_database_spark.operators import table_format as TF


def _base(spark, n=100):
    return spark.createDataFrame(
        [Row(id=i, day=f"d{i % 5}", val=float(i)) for i in range(n)]
    )


def test_point_lookup_prunes_to_indexed_partitions(spark, tmp_path):
    root, idx = str(tmp_path / "t"), str(tmp_path / "idx")
    TF.create_table(_base(spark), root, partition_by="day")
    KI.create_key_index(spark, root, idx, key="id")

    out = KI.point_lookup(spark, idx, [7, 13])  # days d2 and d3
    rows = sorted((r["id"], r["day"]) for r in out.collect())
    assert rows == [(7, "d2"), (13, "d3")]
    # pruning evidence: the base read touches only the 2 resolved
    # partition directories (of 5)
    read_files = [
        r[0] for r in out.select(F.input_file_name()).distinct().collect()
    ]
    days = {os.path.basename(os.path.dirname(f)) for f in read_files}
    assert days == {"day=d2", "day=d3"}


def test_refresh_tracks_updates_moves_and_deletes(spark, tmp_path):
    root, idx = str(tmp_path / "t"), str(tmp_path / "idx")
    TF.create_table(_base(spark), root, partition_by="day")
    KI.create_key_index(spark, root, idx, key="id")

    # move id=7 from d2 to d4; insert id=1000 into d9; delete id=12
    TF.merge_into(
        spark, root,
        spark.createDataFrame(
            [Row(id=7, day="d4", val=7.0), Row(id=1000, day="d9", val=1.0)]
        ),
        on="id",
    )
    TF.merge_into(
        spark, root,
        spark.createDataFrame([Row(id=12, day="d2", val=0.0)]),
        on="id", when_matched="delete", when_not_matched=None,
    )
    KI.refresh_key_index(spark, idx)

    got = sorted(
        (r["id"], r["day"]) for r in KI.point_lookup(spark, idx, [7, 1000, 12]).collect()
    )
    assert got == [(7, "d4"), (1000, "d9")]  # 12 gone, 7 re-pointed
    # the index entry for 7 points at d4 only
    entry = {
        r["id"]: r["__part"]
        for r in TF.read_table(spark, idx).where(F.col("id").isin(7, 12, 1000)).collect()
    }
    assert entry == {7: "d4", 1000: "d9"}
    # differential: index-pruned lookup == full-scan filter
    full = sorted(
        (r["id"], r["day"])
        for r in TF.read_table(spark, root).where(F.col("id").isin(7, 1000, 12)).collect()
    )
    assert got == full


def test_lookup_raises_when_index_lags_base(spark, tmp_path):
    """An unfolded merge leaves a moved key's entry on its old partition
    and a new key with none: a lookup through that index would silently
    return no rows, so it must refuse until the index is refreshed."""
    root, idx = str(tmp_path / "t"), str(tmp_path / "idx")
    TF.create_table(
        spark.createDataFrame(
            [Row(id=1, grp="a", val=1.0), Row(id=2, grp="b", val=2.0)]
        ),
        root, partition_by="grp",
    )
    KI.create_key_index(spark, root, idx, key="id")
    TF.merge_into(
        spark, root,
        spark.createDataFrame(
            [Row(id=1, grp="c", val=1.0), Row(id=3, grp="c", val=3.0)]
        ),
        on="id",
    )
    with pytest.raises(ValueError, match="refresh_key_index"):
        KI.point_lookup(spark, idx, [1, 3])
    KI.refresh_key_index(spark, idx)
    got = sorted(
        (r["id"], r["grp"]) for r in KI.point_lookup(spark, idx, [1, 3]).collect()
    )
    assert got == [(1, "c"), (3, "c")]


def test_unpartitioned_base_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    TF.create_table(_base(spark), root)
    with pytest.raises(ValueError, match="partitioned"):
        KI.create_key_index(spark, root, str(tmp_path / "idx"), key="id")
