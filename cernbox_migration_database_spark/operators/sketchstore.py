"""Mergeable per-partition KMV sketch store over a versioned table.

The Druid/DataSketches rollup idea: keep one tiny mergeable sketch per
partition, and every "how many distinct X in <any partition subset>?"
becomes a merge of KiB-sized states — zero base-table IO at query time.
KMV makes the stored answer DIFFERENTIALLY checkable, not just
plausible: the k smallest 52-bit md5 values of a union are exactly the
k smallest of the per-partition k-minima (each global minimum is a
partition-local minimum too), so an estimate served from the store is
bit-identical to one computed from scratch over the same rows — the
property the catalog oracle pins. HLL cannot make that promise
(engine-internal registers); KMV trades a little accuracy-per-byte for
reproducibility, the same trade sketches.py makes.

The store is itself a versioned table of (part, v) rows — k smallest
hashes per base partition — so it snapshots atomically and refreshes
through the same merge discipline as every other index here. Refresh
folds the base table's change feed: inserted documents' hashes merge in
and each touched partition re-trims to its k smallest (two small
commits over a k·#partitions-row table). KMV states are ADD-ONLY:
a deleted document cannot be subtracted from a minima set, so a refresh
window containing deletes or update pre-images raises and the caller
re-points the affected partitions with :func:`rebuild_partitions` —
loud staleness, never a silent undercount/overcount drift. (The same
add-only posture as bloomindex.py, but enforced rather than absorbed,
because deletes bias a DISTINCT estimate in a way extra bloom bits
never bias membership.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import store_state
from . import table_format as TF

_STATE = "_kmv_state.json"
_HBITS = 2**52


def _hashes(docs: DataFrame, part_col: str, text_col: str) -> DataFrame:
    tok = docs.select(
        F.col(part_col).alias("part"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("token"),
    ).distinct()
    return tok.select(
        "part",
        F.conv(F.substring(F.md5("token"), 1, 13), 16, 10)
        .cast("long")
        .alias("v"),
    ).distinct()


def _topk(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("part").orderBy("v")
    return (
        pairs.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= k)
        .drop("__r")
    )


def build_kmv_store(
    spark: SparkSession,
    base_root: str,
    store_root: str,
    part_col: str,
    text_col: str = "text",
    key: str = "doc_id",
    k: int = 256,
) -> int:
    """Materialize the per-partition KMV states of the versioned table at
    ``base_root`` (k smallest token hashes per ``part_col`` value); one
    full tokenize — the last one estimates ever need. Returns the base
    version the store reflects."""
    base_v = TF.current_version(base_root)
    docs = TF.read_table(spark, base_root, base_v)
    TF.create_table(
        _topk(_hashes(docs, part_col, text_col), k), store_root
    )
    store_state.write(
        os.path.join(store_root, _STATE),
        {
            "base_root": base_root,
            "base_version": base_v,
            "part_col": part_col,
            "text_col": text_col,
            "key": key,
            "k": k,
        },
    )
    return base_v


def refresh_kmv_store(spark: SparkSession, store_root: str) -> int:
    """Fold the base change feed into the store: O(changed docs) tokenize
    + a merge over the k·#partitions-row state table. Raises on deletes /
    update pre-images in the window (see module doc) — rebuild those
    partitions instead."""

    def fold(st, ch, cur):
        removed = ch.where(
            F.col("_change_type").isin("delete", "update_preimage")
        )
        if not removed.isEmpty():
            raise ValueError(
                "change window contains deletes/updates — KMV minima cannot "
                "be subtracted; rebuild_partitions() the affected partitions"
            )
        _fold_inserts(
            spark, store_root, st,
            ch.where(F.col("_change_type").isin("insert", "update_postimage")),
        )

    return store_state.fold_window(
        spark, os.path.join(store_root, _STATE), fold, preimage=True
    )


def _fold_inserts(
    spark: SparkSession, store_root: str, st: dict, docs: DataFrame
) -> None:
    """Insert-new-pairs, then trim each touched partition back to its k
    minima (two small commits over the k·#partitions-row state table)."""
    new = _hashes(docs, st["part_col"], st["text_col"])
    TF.merge_into(
        spark, store_root, new, on=["part", "v"],
        when_matched=None, check_cardinality=False,
    )
    merged = TF.read_table(spark, store_root).join(
        new.select("part").distinct(), "part", "left_semi"
    )
    w = Window.partitionBy("part").orderBy("v")
    over = (
        merged.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") > st["k"])
        .drop("__r")
    )
    if not over.isEmpty():
        TF.merge_into(
            spark, store_root, over, on=["part", "v"],
            when_matched="delete", when_not_matched=None,
            check_cardinality=False,
        )


def refresh_or_repair(
    spark: SparkSession, store_root: str
) -> tuple[int, list]:
    """:func:`refresh_kmv_store` with the delete posture AUTOMATED: a
    window carrying deletes / update pre-images no longer needs a manual
    ``rebuild_partitions`` call — the affected partitions are identified
    from the change feed (metadata-sized collect: distinct partition
    values of the removed rows) and re-pointed from the current base
    snapshot, while inserts landing OUTSIDE those partitions still fold
    through the normal O(changed docs) path. This is the form a streaming
    sink's post_batch hook wants: RTBF deletes flow through and the
    estimates converge without intervention, and the repair stays loud in
    the return value — (new base version, partitions rebuilt)."""
    parts: list = []

    def fold(st, ch, cur):
        removed = ch.where(
            F.col("_change_type").isin("delete", "update_preimage")
        ).select(F.col(st["part_col"]).alias("part"))
        parts.extend(
            sorted(r["part"] for r in removed.distinct().collect())
        )
        ins = ch.where(
            F.col("_change_type").isin("insert", "update_postimage")
        )
        if not parts:
            _fold_inserts(spark, store_root, st, ins)
            return
        ins = ins.where(~F.col(st["part_col"]).isin(parts))
        if not ins.isEmpty():
            _fold_inserts(spark, store_root, st, ins)
        # the targeted repair is pinned to the `cur` this refresh DIFFED,
        # not re-read: a base commit landing between the diff and the
        # rebuild must stay in the next window (re-reading would rebuild
        # `parts` past the folded inserts and silently skip that commit's
        # rows outside them). It records `cur` itself, as does the window.
        rebuild_partitions(spark, store_root, parts, version=cur)

    cur = store_state.fold_window(
        spark, os.path.join(store_root, _STATE), fold, preimage=True
    )
    return cur, parts


def rebuild_partitions(
    spark: SparkSession, store_root: str, parts: list[str],
    version: int | None = None,
) -> None:
    """Re-point the named partitions' states from the base snapshot at
    ``version`` (default: current) — the targeted repair after a delete
    window. Callers that already diffed a change window MUST pass the
    version they diffed to, so the recorded base_version never outruns
    the folded inserts."""
    st = store_state.read(os.path.join(store_root, _STATE))
    cur = TF.current_version(st["base_root"]) if version is None else version
    docs = TF.read_table(spark, st["base_root"], cur).where(
        F.col(st["part_col"]).isin(parts)
    )
    fresh = _topk(_hashes(docs, st["part_col"], st["text_col"]), st["k"])
    stale = TF.read_table(spark, store_root).where(F.col("part").isin(parts))
    if not stale.isEmpty():
        TF.merge_into(
            spark, store_root, stale, on=["part", "v"],
            when_matched="delete", when_not_matched=None,
            check_cardinality=False,
        )
    TF.merge_into(
        spark, store_root, fresh, on=["part", "v"],
        when_matched=None, check_cardinality=False,
    )
    st["base_version"] = cur
    store_state.write(os.path.join(store_root, _STATE), st)


def estimate(
    spark: SparkSession, store_root: str, scopes: dict[str, list[str] | None]
) -> DataFrame:
    """Distinct-count estimates served from the store alone — no base
    read. ``scopes`` maps scope name → partition values (None = all).
    Returns (scope, k, kth_hash, est_distinct): merge = k smallest of the
    selected states' union, estimator = (k-1) * 2^52 div kth-min, pure
    integer arithmetic (bit-identical to a from-scratch KMV over the same
    rows)."""
    st = store_state.read(os.path.join(store_root, _STATE))
    states = TF.read_table(spark, store_root)
    outs = []
    for name, parts in scopes.items():
        sel = states if parts is None else states.where(
            F.col("part").isin(parts)
        )
        # a token living in several partitions repeats its hash across
        # their states; the merged minima must be over DISTINCT values or
        # duplicates crowd out real minima and bias the estimate up
        kmin = sel.select("v").distinct().orderBy("v").limit(st["k"])
        outs.append(
            kmin.agg(
                F.count(F.lit(1)).alias("kk"), F.max("v").alias("kth")
            ).select(
                F.lit(name).alias("scope"),
                F.col("kk").cast("long").alias("k"),
                F.col("kth").cast("long").alias("kth_hash"),
                F.expr(f"(kk - 1) * {_HBITS}L div kth")
                .cast("long")
                .alias("est_distinct"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
