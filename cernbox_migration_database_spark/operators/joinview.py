"""Incrementally-maintained JOIN views over versioned tables.

matview.py keeps grouped aggregates fresh for O(changed rows); this
module does the same for an equi-JOIN — the other half of the classic
materialized-view pair. A denormalized fact⋈dim view over a 100 TB fact
table must not re-run the join because a hundred dim rows changed; it
folds the change feeds of BOTH base tables through the counting
algorithm of incremental view maintenance (Gupta/Mumick/Subrahmanian,
SIGMOD '93), with each changed row signed +1 (insert / update
post-image) or -1 (delete / update pre-image).

The delta identity does NOT need the quadratic cross term because the
versioned tables give exact old snapshots via time travel:

    A1 ⋈ B1 - A0 ⋈ B0  =  ΔA ⋈ B1  +  A0 ⋈ ΔB

(expand A1 = A0 + ΔA, B1 = B0 + ΔB and the ΔA⋈ΔB term is already inside
ΔA⋈B1). Each half joins a DELTA against a snapshot: Catalyst broadcasts
the delta side at any realistic change rate, so refresh cost is one
pruned pass per base table — never a full A⋈B recompute — and the
change-feed itself prunes to the partitions the window's commits touched
(read_changes' scale path).

The view is stored as a versioned table in BAG form: one row per
distinct joined tuple plus an ``n_dup`` multiplicity, keyed by a hash of
the full tuple. Signed deltas then become pure ADDITIVE arithmetic on
``n_dup`` — the same merge_into/update_set discipline as the aggregate
view — which makes refresh-through-any-delta-sequence bit-identical to a
from-scratch recompute (the tests and the ``mv_join_refresh`` family's
differential oracle hold it to that). Multiplicities dropping to zero
are pruned; a NEGATIVE multiplicity is impossible under single-
maintainer discipline and raises instead of silently corrupting.

Single-maintainer assumption as matview.py: the state file records the
folded base versions without a lock — one owner per view. Within that
discipline refresh is crash-safe: every fold commit carries an
idempotent-writer marker + the folded window, and refresh reconciles
the state file against the view's commit log before folding, so a
replayed window is recovered, never double-applied.
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
    read_changes,
    read_table,
)

_STATE = "_jv_state.json"
_TXN_APP = "jv"


def _row_key(cols: list[str]):
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in cols])))


def _bag(df: DataFrame, out_cols: list[str], sign=None) -> DataFrame:
    """Collapse to bag form: one row per distinct tuple with a (signed)
    multiplicity."""
    one = F.lit(1) if sign is None else sign
    return (
        df.groupBy(*out_cols)
        .agg(F.sum(one).cast("long").alias("n_dup"))
        .withColumn("__row", _row_key(out_cols))
        .select("__row", *out_cols, "n_dup")
    )


def _signed():
    return F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


def create_join_view(
    spark: SparkSession,
    a_root: str,
    b_root: str,
    mv_root: str,
    on: list[str] | str,
    a_key: str | list[str],
    b_key: str | list[str],
    a_cols: list[str],
    b_cols: list[str],
) -> tuple[int, int]:
    """Materialize ``A JOIN B USING (on)`` projected to ``on + a_cols +
    b_cols`` as a bag-form versioned table. ``a_key``/``b_key`` are the
    base tables' row identities for the change feed and must be UNIQUE
    in their tables (the standard CDC contract — read_changes diffs by
    key); view multiplicities still arise naturally when the projection
    collapses distinct base rows onto one tuple, or when a dim tuple
    matches many facts. Returns the (a_version, b_version) pair the view
    reflects — the one full join it ever runs."""
    on = [on] if isinstance(on, str) else list(on)
    overlap = set(a_cols) & set(b_cols)
    if overlap:
        raise ValueError(f"a_cols/b_cols overlap: {sorted(overlap)}")
    a_v, b_v = current_version(a_root), current_version(b_root)
    out = on + list(a_cols) + list(b_cols)
    joined = (
        read_table(spark, a_root, a_v)
        .select(*on, *a_cols)
        .join(read_table(spark, b_root, b_v).select(*on, *b_cols), on)
    )
    create_table(_bag(joined, out), mv_root)
    store_state.write(
        os.path.join(mv_root, _STATE),
        {
            "a_root": a_root,
            "b_root": b_root,
            "on": on,
            "a_key": a_key,
            "b_key": b_key,
            "a_cols": list(a_cols),
            "b_cols": list(b_cols),
            "a_version": a_v,
            "b_version": b_v,
            "fold_seq": 0,
        },
    )
    return a_v, b_v


def refresh_join_view(spark: SparkSession, mv_root: str) -> tuple[int, int]:
    """Advance the view to both base tables' current versions by the
    counting algorithm — cost O(changes ⋈ matching slice), never a full
    join. No-op when neither base moved.

    Replay-safe: each fold commit carries an idempotent-writer marker
    ``txn=(jv, fold_seq)`` plus the folded window in ``commit_meta``, so
    a crash between the additive merge commit and the state-file write is
    recovered by re-adopting the committed window from the view's own
    commit log — the replayed refresh folds only changes AFTER the
    committed window instead of double-applying it (which would silently
    double n_dup on insert-only windows)."""
    st = store_state.read(os.path.join(mv_root, _STATE))
    a_root, b_root, on = st["a_root"], st["b_root"], st["on"]
    # Crash recovery: the commit log is the source of truth for what has
    # been folded. If the latest jv marker outruns the state file, the
    # previous refresh committed its fold but died before recording it.
    committed = last_txn_entry(mv_root, _TXN_APP)
    seq0 = int(st.get("fold_seq", 0))
    recovered = committed is not None and committed["txn_ver"] > seq0
    if recovered:
        win = committed["jv_window"]  # [a_from, b_from, a_to, b_to]
        st["a_version"], st["b_version"] = int(win[2]), int(win[3])
        st["fold_seq"] = seq0 = int(committed["txn_ver"])
        store_state.write(os.path.join(mv_root, _STATE), st)
    a0, b0 = st["a_version"], st["b_version"]
    a1, b1 = current_version(a_root), current_version(b_root)
    if (a0, b0) == (a1, b1):
        if recovered:
            # the crashed run may have died before its zero-prune; its
            # delta is gone, so this branch alone pays a full-view pass
            _check_and_prune(spark, mv_root, touched=None)
        return a1, b1
    out = on + st["a_cols"] + st["b_cols"]
    halves = []
    if a1 > a0:
        da = read_changes(
            spark, a_root, key=st["a_key"], from_version=a0,
            to_version=a1, include_preimage=True,
        ).select(*on, *st["a_cols"], _signed().alias("__sign"))
        b_new = read_table(spark, b_root, b1).select(*on, *st["b_cols"])
        halves.append(da.join(b_new, on))
    if b1 > b0:
        db = read_changes(
            spark, b_root, key=st["b_key"], from_version=b0,
            to_version=b1, include_preimage=True,
        ).select(*on, *st["b_cols"], _signed().alias("__sign"))
        a_old = read_table(spark, a_root, a0).select(*on, *st["a_cols"])
        halves.append(a_old.join(db, on))
    delta = halves[0] if len(halves) == 1 else halves[0].unionByName(halves[1])
    delta = _bag(delta, out, sign=F.col("__sign")).where(F.col("n_dup") != 0)

    seq = seq0 + 1
    merge_into(
        spark,
        mv_root,
        delta,
        on="__row",
        update_set={"n_dup": lambda t, s: t["n_dup"] + s["n_dup"]},
        check_cardinality=False,  # one row per tuple by construction
        txn=(_TXN_APP, seq),
        commit_meta={"jv_window": [a0, b0, a1, b1]},
    )
    # A recovered refresh must pay the full-view pass even when the bases
    # moved further: the crashed run's delta is unrecoverable, so its
    # zero-multiplicity rows (its prune never ran) and any negative-
    # multiplicity corruption in its window are NOT covered by this fold's
    # touched set — scoping the check to `delta` would let phantom
    # n_dup=0 rows escape pruning indefinitely.
    _check_and_prune(
        spark, mv_root, touched=None if recovered else delta.select("__row")
    )
    st["a_version"], st["b_version"] = a1, b1
    st["fold_seq"] = seq
    store_state.write(os.path.join(mv_root, _STATE), st)
    return a1, b1


def _check_and_prune(
    spark: SparkSession, mv_root: str, touched: DataFrame | None
) -> None:
    """Post-fold invariants: no multiplicity may be negative (impossible
    under single-maintainer + replay-safe folding — raise rather than
    serve a corrupt view), and zero-multiplicity rows are physically
    pruned.

    On the normal fold path ``touched`` is the delta's ``__row`` key set
    — only rows the fold could have changed are checked and pruned, so
    the pass is a broadcast semi-join against a change-sized key set, not
    a full-view aggregate, keeping the documented 'cost O(changes), never
    a full join' contract. Only the crash-recovery branch (the crashed
    run's delta is unrecoverable) passes ``touched=None`` and pays one
    full-view pass."""
    mv = read_table(spark, mv_root)
    if touched is not None:
        mv = mv.join(touched.distinct(), "__row", "left_semi")
    # one action answers both post-conditions (refresh is a many-job
    # pipeline already; don't add two more for two boolean checks)
    flags = mv.agg(
        F.sum((F.col("n_dup") < 0).cast("int")).alias("neg"),
        F.sum((F.col("n_dup") == 0).cast("int")).alias("zero"),
    ).first()
    if (flags["neg"] or 0) > 0:
        raise ValueError(
            "negative multiplicity after refresh — a base table was "
            "rewritten outside its change feed"
        )
    if (flags["zero"] or 0) > 0:
        dead = mv.where(F.col("n_dup") == 0)
        merge_into(
            spark,
            mv_root,
            dead,
            on="__row",
            when_matched="delete",
            when_not_matched=None,
            check_cardinality=False,
        )


def read_join_view(
    spark: SparkSession, mv_root: str, expand: bool = False
) -> DataFrame:
    """The served view: joined tuples with their ``n_dup`` multiplicity,
    or (``expand=True``) re-expanded to exact row-level bag parity with
    ``A JOIN B`` — a row-local generator, no shuffle."""
    st = store_state.read(os.path.join(mv_root, _STATE))
    out = st["on"] + st["a_cols"] + st["b_cols"]
    mv = read_table(spark, mv_root).select(*out, "n_dup")
    if not expand:
        return mv
    return mv.withColumn(
        "__x", F.explode(F.array_repeat(F.lit(1), F.col("n_dup").cast("int")))
    ).select(*out)
