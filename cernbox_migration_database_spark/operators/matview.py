"""Incrementally-maintained aggregate views over versioned tables.

The 100 TB problem this solves: a grouped aggregate (counts + sums) over a
petabyte fact table is cheap to SERVE but expensive to RECOMPUTE — and most
refreshes follow a merge that touched a sliver of the data. Instead of
rescanning, the view is maintained ADDITIVELY from the table's change feed
(table_format.read_changes with pre-images):

    insert            → +1 count, +value sums
    delete            → -1 count, -value sums
    update_preimage   → subtract the old contribution
    update_postimage  → add the new contribution

so refresh cost is O(changed rows), independent of table size. Sums are
held as SCALE-quantized integers (exact, commutative — the same fixed-point
trick as functions/numeric.py), which makes incremental addition bit-exact:
a view refreshed through any sequence of deltas equals one recomputed from
scratch, verifiable by the tests and the ``mv_incremental_refresh`` oracle.

The view is ITSELF a versioned table (keyed by a hash of the group tuple),
so it time-travels, snapshots atomically, and the refresh is one arithmetic
``merge_into`` with ``update_set`` adders — new groups insert, zeroed
groups are pruned by a follow-up delete-merge scoped to the delta's keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_state
from .table_format import (
    create_table,
    current_version,
    last_txn_entry,
    merge_into,
    read_table,
)

_STATE = "_mv_state.json"
_TXN_APP = "mv"


def _group_key(group_cols: list[str]):
    """Deterministic scalar key for a (possibly multi-column, possibly
    null-holding) group tuple — to_json distinguishes null from 'null'."""
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in group_cols])))


def _scaled(c: str, scale: int):
    return (F.col(c).cast(f"decimal(18,{scale})") * (10**scale)).cast("long")


def _mv_cols(group_cols: list[str], sum_cols: list[str]) -> list[str]:
    return ["__group", *group_cols, "n_rows", *[f"sum_{c}" for c in sum_cols]]


def _aggregate(
    df: DataFrame, group_cols, sum_cols, scale, sign=None, weight_col=None
) -> DataFrame:
    # factor = sign · weight: ``weight_col`` lets the view aggregate a
    # BAG-form table (the join view's one-row-per-tuple + n_dup layout),
    # counting each tuple with its multiplicity — how incremental views
    # STACK (agg-over-join = matview folding joinview's own change feed)
    factor = F.lit(1) if sign is None else sign
    if weight_col is not None:
        factor = factor * F.col(weight_col).cast("long")
    aggs = [F.sum(factor).alias("n_rows")] + [
        F.sum(_scaled(c, scale) * factor).alias(f"sum_{c}")
        for c in sum_cols
    ]
    return (
        df.groupBy(*group_cols)
        .agg(*aggs)
        .withColumn("__group", _group_key(group_cols))
        .select(*_mv_cols(group_cols, sum_cols))
    )


def create_aggregate_view(
    spark: SparkSession,
    base_root: str,
    mv_root: str,
    key: str,
    group_cols: list[str],
    sum_cols: list[str],
    scale: int = 2,
    weight_col: str | None = None,
) -> int:
    """Materialize count+sum aggregates of the versioned table at
    ``base_root`` grouped by ``group_cols``; returns the base version the
    view reflects. One full scan — the last one the view ever needs.

    ``weight_col`` (e.g. the join view's ``n_dup``) aggregates a bag-form
    base: each stored tuple counts with its multiplicity, and refresh
    folds multiplicity CHANGES exactly (an update raising n_dup 2→3
    contributes -2·v from the pre-image and +3·v from the post-image).
    This is what lets an aggregate view sit ON TOP of a join view and
    stay incremental end-to-end: base deltas fold into the join view by
    the counting algorithm, whose own change feed folds into the
    aggregate — no stage ever rescans anything."""
    base_v = current_version(base_root)
    mv = _aggregate(
        read_table(spark, base_root, base_v), group_cols, sum_cols, scale,
        weight_col=weight_col,
    )
    create_table(mv, mv_root)
    store_state.write(
        os.path.join(mv_root, _STATE),
        {
            "base_root": base_root,
            "base_version": base_v,
            "key": key,
            "group_cols": group_cols,
            "sum_cols": sum_cols,
            "scale": scale,
            "weight_col": weight_col,
            "fold_seq": 0,
        },
    )
    return base_v


def refresh_aggregate_view(spark: SparkSession, mv_root: str) -> int:
    """Advance the view to the base table's current version by folding in
    its change feed — O(changed rows), never a base rescan. Idempotent:
    a refresh with no new base version is a no-op.

    Single-maintainer assumption: the state file records the last folded
    base version WITHOUT a lock, so exactly one process may refresh a
    given view (two concurrent refreshes would double-apply the same
    delta). Run it from the one pipeline that owns the view — the same
    posture as a Structured Streaming query owning its checkpoint.

    Crash-safe WITHIN that owner (the joinview recovery discipline): the
    fold merge carries ``txn=(mv, fold_seq)`` plus the folded window in
    ``commit_meta``, so an owner that crashed between the merge commit
    and the state write re-adopts the committed window from the view's
    own commit log on its next refresh — never a double-apply. A
    recovered refresh also runs the zero-group prune over the FULL view
    (the crashed run's delta is gone, so its emptied groups are not
    covered by the new delta's scope)."""
    return store_state.fold_window(
        spark, os.path.join(mv_root, _STATE),
        lambda st, ch, cur: _fold(spark, mv_root, st, ch, cur),
        preimage=True, recover=lambda st: _recover(spark, mv_root, st),
    )


def _recover(spark: SparkSession, mv_root: str, st: dict) -> None:
    """Adopt a fold the view committed but whose sidecar write the crashed
    refresh never made, pruning the groups its delta emptied first."""
    committed = last_txn_entry(mv_root, _TXN_APP)
    if committed is None or committed["txn_ver"] <= int(st.get("fold_seq", 0)):
        return
    _prune_zero_groups(spark, mv_root, scope=None)
    st["base_version"] = int(committed["mv_window"][1])
    st["fold_seq"] = int(committed["txn_ver"])
    store_state.write(os.path.join(mv_root, _STATE), st)


def _fold(
    spark: SparkSession, mv_root: str, st: dict, ch: DataFrame, cur: int
) -> None:
    group_cols, sum_cols, scale = st["group_cols"], st["sum_cols"], st["scale"]
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = _aggregate(
        ch, group_cols, sum_cols, scale, sign=sign,
        weight_col=st.get("weight_col"),
    )
    # An update moving values within the same group cancels to all-zero —
    # drop those rows so the merge touches only truly-changed groups.
    nonzero = (F.col("n_rows") != 0) | F.lit(False)
    for c in sum_cols:
        nonzero = nonzero | (F.col(f"sum_{c}") != 0)
    delta = delta.where(nonzero)

    adders = {"n_rows": lambda t, s: t["n_rows"] + s["n_rows"]}
    for c in sum_cols:
        name = f"sum_{c}"
        adders[name] = lambda t, s, n=name: t[n] + s[n]
    seq = int(st.get("fold_seq", 0)) + 1
    merge_into(
        spark,
        mv_root,
        delta,
        on="__group",
        update_set=adders,
        check_cardinality=False,  # delta is one row per group by construction
        txn=(_TXN_APP, seq),
        commit_meta={"mv_window": [st["base_version"], cur]},
    )
    # Prune groups whose membership dropped to zero, scoped to the delta's
    # keys — the view is never scanned beyond the touched groups (crash
    # recovery pruned the whole view: the crashed delta's scope is gone).
    _prune_zero_groups(spark, mv_root, scope=delta.select("__group"))
    st["fold_seq"] = seq


def _prune_zero_groups(spark, mv_root: str, scope: DataFrame | None) -> None:
    dead = read_table(spark, mv_root)
    if scope is not None:
        dead = dead.join(scope, "__group", "left_semi")
    dead = dead.where(F.col("n_rows") == 0)
    if not dead.isEmpty():
        merge_into(
            spark,
            mv_root,
            dead,
            on="__group",
            when_matched="delete",
            when_not_matched=None,
            check_cardinality=False,
        )


def read_aggregate_view(spark: SparkSession, mv_root: str) -> DataFrame:
    """The served view: group columns, exact count, sums back in double
    (one terminal division — the stored integers stay exact)."""
    st = store_state.read(os.path.join(mv_root, _STATE))
    mv = read_table(spark, mv_root)
    out = [*st["group_cols"], F.col("n_rows")]
    out += [
        (F.col(f"sum_{c}").cast("double") / F.lit(float(10 ** st["scale"]))).alias(
            f"sum_{c}"
        )
        for c in st["sum_cols"]
    ]
    return mv.select(*out)
