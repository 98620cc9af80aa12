"""Mergeable per-partition fixed-bin histogram store over a versioned table.

The quantile sibling of :mod:`sketchstore` (KMV): one tiny mergeable
summary per base partition, committed as a versioned table, so every
"p50 / p99 of X within <any partition subset>?" is served from
O(nbins · |selected partitions|) rows with ZERO base-table IO — the
Druid/Pinot star-tree rollup shape at lakehouse scale.

Where the KMV store had to stay ADD-ONLY (minima cannot be subtracted),
fixed-bin counts subtract EXACTLY: a delete window folds as ``n - 1``
per (partition, bin), an update as ``-pre + post`` — so this is the one
sketch in the family whose incremental refresh handles every change
type with no repair path at all, and ``refresh ≡ rebuild`` holds
bit-for-bit (counts are exact integers; only the served quantile is an
approximation, bounded by the bin width).

Determinism is the differential contract (same posture as KMV vs HLL —
engine-internal t-digest/KLL states could never hash-match DuckDB):

* values enter the store as exact cents, ``CAST(CAST(x AS
  DECIMAL(18,2)) * 100 AS BIGINT)`` — the repo's standard
  double→decimal→long pipeline, identical in both engines;
* bin edges are FROZEN at build from the build snapshot's [min, max]
  (recorded in the state sidecar, like drift.py's reference bins);
  later out-of-range values clamp to the edge bins BEFORE the divide,
  so truncating and flooring division agree;
* ``bin = ((clamped - lo) * nbins) div span`` and the served estimate
  ``lo + (bin * span) div nbins`` (the bin's lower edge) are pure
  integer arithmetic — a from-scratch replay over the same rows is
  bit-identical, which the catalog oracle pins end-to-end.

Zero-count rows are physically pruned on refresh and a negative count
raises (the joinview double-apply discipline): the store's row count
stays ≤ nbins · #partitions forever, and a replayed window is loud
instead of silently corrupting counts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import store_state
from . import table_format as TF

_STATE = "_hist_state.json"
_TXN_APP = "hs"

# served quantiles: (label, numerator, denominator)
DEFAULT_QUANTILES = (
    ("p25", 1, 4),
    ("p50", 1, 2),
    ("p90", 9, 10),
    ("p99", 99, 100),
)


def _cents(col: F.Column) -> F.Column:
    """The repo-standard exact money pipeline (stats_moments et al.):
    DOUBLE → DECIMAL(18,2) → integer cents. Identical in DuckDB."""
    return (F.col(col).cast("decimal(18,2)") * 100).cast("long")


def _binned(df: DataFrame, st: dict, extra: tuple = ()) -> DataFrame:
    """(part, bin[, *extra]) per row: clamp to the frozen [lo, hi] FIRST
    (so the dividend is never negative and truncate == floor in both
    engines), then one integer divide."""
    lo, span, nbins = st["lo"], st["span"], st["nbins"]
    return df.select(
        F.col(st["part_col"]).alias("part"),
        F.expr(
            f"CAST(((least({lo + span - 1}L, greatest({lo}L, "
            f"CAST(CAST({st['value_col']} AS DECIMAL(18,2)) * 100 AS BIGINT)"
            f")) - {lo}L) * {nbins}L) div {span}L AS BIGINT)"
        ).alias("bin"),
        *extra,
    )


def build_hist_store(
    spark: SparkSession,
    base_root: str,
    store_root: str,
    part_col: str,
    value_col: str,
    key: str,
    nbins: int = 64,
) -> int:
    """Materialize per-partition bin counts of ``value_col`` over the
    versioned table at ``base_root``. Bin edges freeze to the build
    snapshot's [min, max] cents (two scalars to the driver — the only
    collect this store ever does). Returns the base version the store
    reflects."""
    base_v = TF.current_version(base_root)
    df = TF.read_table(spark, base_root, base_v)
    row = df.agg(
        F.min(_cents(value_col)).alias("lo"),
        F.max(_cents(value_col)).alias("hi"),
    ).first()
    if row["lo"] is None:
        raise ValueError(f"{base_root} has no non-null {value_col} rows")
    lo, hi = int(row["lo"]), int(row["hi"])
    st = {
        "base_root": base_root,
        "base_version": base_v,
        "part_col": part_col,
        "value_col": value_col,
        "key": key,
        "nbins": nbins,
        "lo": lo,
        "span": hi - lo + 1,
        "fold_seq": 0,
        # drift bookkeeping (r9 verdict item 5): under distribution
        # drift the frozen edges clamp the new tail into the edge bins
        # and quantiles silently saturate — track how often post-build
        # ingest clamps, and keep the build-time global bin mass as the
        # PSI reference (≤ nbins integers, KiB).
        "n_added": 0,
        "n_clamped": 0,
    }
    hist = (
        _binned(df, st)
        .groupBy("part", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    TF.create_table(hist, store_root)
    st["ref_dist"] = {
        str(r["bin"]): int(r["tot"])
        for r in TF.read_table(spark, store_root)
        .groupBy("bin")
        .agg(F.sum("n").alias("tot"))
        .collect()
    }
    store_state.write(os.path.join(store_root, _STATE), st)
    return base_v


def refresh_hist_store(spark: SparkSession, store_root: str) -> int:
    """Fold the base change feed into the store — EVERY change type:
    inserts/update post-images add, deletes/update pre-images subtract.
    One signed-delta aggregation over O(changed rows), one keyed merge
    over the ≤ nbins·#partitions-row state table, then zero-count rows
    prune and any negative count raises (double-applied window).

    Crash-safe (the joinview recovery discipline): the fold merge carries
    an idempotent-writer marker ``txn=(hs, fold_seq)`` plus the folded
    window in ``commit_meta``, so a crash between the merge commit and
    the state-file write is healed by re-adopting the committed window
    from the store's own commit log — the replayed refresh folds only
    changes AFTER it instead of double-applying (which would silently
    corrupt counts). Zero-prune needs no recovery scoping: the state
    table is KiB-sized, so every refresh checks/prunes it in full."""
    return store_state.fold_window(
        spark, os.path.join(store_root, _STATE),
        lambda st, ch, cur: _fold(spark, store_root, st, ch, cur),
        preimage=True, recover=lambda st: _recover(store_root, st),
    )


def _recover(store_root: str, st: dict) -> None:
    """Re-adopt a fold the store committed but whose sidecar write the
    crashed refresh never made."""
    store_state.check_not_rebuilding(st, "rebuild_hist_store")
    committed = TF.last_txn_entry(store_root, _TXN_APP)
    if committed is None or committed["txn_ver"] <= int(st.get("fold_seq", 0)):
        return
    st["base_version"] = int(committed["hs_window"][1])
    st["fold_seq"] = int(committed["txn_ver"])
    # the crashed refresh's clamp counters rode the commit itself —
    # re-adopt them with the window so drift accounting stays exact
    if committed.get("hs_clamp"):
        st["n_clamped"] = int(st.get("n_clamped", 0)) + int(
            committed["hs_clamp"][0]
        )
        st["n_added"] = int(st.get("n_added", 0)) + int(
            committed["hs_clamp"][1]
        )
    store_state.write(os.path.join(store_root, _STATE), st)


def _fold(
    spark: SparkSession, store_root: str, st: dict, ch: DataFrame, cur: int
) -> None:
    seq0 = int(st.get("fold_seq", 0))
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        _binned(ch.withColumn("__d", sign), st, extra=("__d",))
        .groupBy("part", "bin")
        .agg(F.sum("__d").cast("long").alias("n"))
        .where(F.col("n") != 0)
    )
    # drift accounting: how much of this window's ADD side falls outside
    # the frozen [lo, hi] and clamps into an edge bin (one O(changes)
    # aggregate — two scalars to the driver)
    cents = F.expr(
        f"CAST(CAST({st['value_col']} AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    out_of_range = (cents < F.lit(st["lo"])) | (
        cents > F.lit(st["lo"] + st["span"] - 1)
    )
    crow = (
        ch.where(F.col("_change_type").isin("insert", "update_postimage"))
        .agg(
            F.count(F.lit(1)).alias("n_add"),
            F.coalesce(
                F.sum(out_of_range.cast("long")), F.lit(0)
            ).alias("n_out"),
        )
        .first()
    )
    n_add, n_out = int(crow["n_add"]), int(crow["n_out"])
    if not delta.isEmpty():
        TF.merge_into(
            spark,
            store_root,
            delta,
            on=["part", "bin"],
            update_set={"n": lambda t, s: t["n"] + s["n"]},
            check_cardinality=False,
            txn=(_TXN_APP, seq0 + 1),
            commit_meta={
                "hs_window": [st["base_version"], cur],
                "hs_clamp": [n_out, n_add],
            },
        )
        st["fold_seq"] = seq0 + 1
        states = TF.read_table(spark, store_root)
        bad = states.where(F.col("n") < 0)
        if not bad.isEmpty():
            raise ValueError(
                "negative bin count after fold — change window applied "
                "twice? " + str(bad.limit(3).collect())
            )
        dead = states.where(F.col("n") == 0)
        if not dead.isEmpty():
            TF.merge_into(
                spark,
                store_root,
                dead,
                on=["part", "bin"],
                when_matched="delete",
                when_not_matched=None,
                check_cardinality=False,
            )
    st["n_added"] = int(st.get("n_added", 0)) + n_add
    st["n_clamped"] = int(st.get("n_clamped", 0)) + n_out


def estimate_quantiles(
    spark: SparkSession,
    store_root: str,
    scopes: dict[str, list[str] | None],
    quantiles: tuple = DEFAULT_QUANTILES,
) -> DataFrame:
    """Quantile estimates served from the store alone — no base read.
    ``scopes`` maps scope name → partition values (None = all). For each
    (scope, quantile q = qn/qd): merge = sum the selected states per bin,
    rank = ceil(qn · total / qd) in integers, answer = the first bin
    whose cumulative count reaches the rank, served as the bin's lower
    edge ``lo + (bin · span) div nbins`` in cents. Bit-identical to the
    same arithmetic replayed from scratch over the base rows; within one
    bin width of the exact quantile by construction. Returns
    (scope, q_label, total_n, bin, est_cents) — a ≤ |scopes|·|quantiles|
    row result computed from KiB of state."""
    st = store_state.read(os.path.join(store_root, _STATE))
    store_state.check_not_rebuilding(st, "rebuild_hist_store")
    lo, span, nbins = st["lo"], st["span"], st["nbins"]
    states = TF.read_table(spark, store_root)
    spec = spark.createDataFrame(
        list(quantiles), "q_label string, qn long, qd long"
    )
    # ONE plan for every scope: a broadcast (scope, part) map fans the
    # state rows into their scopes (None = all parts via a null marker
    # handled below), then a single groupBy(scope, bin) merge. Cumulative
    # counts and totals come from two windows over the SAME scope
    # partitioning (a running sum and a whole-partition sum — one
    # exchange, partitions bounded by nbins state rows each, so the
    # plan-audit unpartitioned-window rule holds). This replaced the
    # original broadcast triangular self-join + two extra aggregations
    # over re-derived `merged` lineage: same integer sums, 24 → ~6
    # exchanges on the served-estimate plan (r12).
    pairs: list[tuple[str, str | None]] = []
    for name, parts in scopes.items():
        if parts is None:
            pairs.append((name, None))
        else:
            pairs.extend((name, p) for p in parts)
    smap = spark.createDataFrame(pairs, "scope string, part string")
    fanned = states.join(
        F.broadcast(smap),
        (smap["part"].isNull()) | (states["part"] == smap["part"]),
    ).select("scope", states["bin"], states["n"])
    merged = fanned.groupBy("scope", "bin").agg(F.sum("n").alias("n"))
    wscope = W.partitionBy("scope")
    cum = merged.select(
        "scope",
        "bin",
        F.sum("n")
        .over(wscope.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum_n"),
        F.sum("n").over(wscope).cast("long").alias("total_n"),
    )
    hit = cum.join(
        F.broadcast(spec),
        cum["cum_n"] >= F.expr("(qn * total_n + qd - 1) div qd"),
    )
    return hit.groupBy("scope", "q_label").agg(
        F.max("total_n").cast("long").alias("total_n"),
        F.min("bin").cast("long").alias("bin"),
        (
            F.lit(lo)
            + F.expr(f"(min(bin) * {span}L) div {nbins}L")
        )
        .cast("long")
        .alias("est_cents"),
    )


def drift_report(
    spark: SparkSession,
    store_root: str,
    clamp_threshold: float = 0.01,
    psi_threshold: float = 0.2,
) -> dict:
    """Is the frozen bin grid still fit for the data it now summarizes?

    Two signals, both O(state) — no base-table IO:

    * **clamp rate** — fraction of post-build ingested values that fell
      outside the frozen [lo, hi] and clamped into an edge bin (tracked
      by :func:`refresh_hist_store`, crash-exactly). A drifting tail
      lands ENTIRELY in one edge bin, so every quantile beyond that
      bin's mass saturates at the same edge value — the failure mode the
      flag exists for.
    * **PSI** of the store's CURRENT global bin mass against the
      build-time reference mass (the sidecar's ``ref_dist``), with the
      drift module's 0.5-count smoothing. Catches reshaping INSIDE the
      range too (edges still fine, mass moved). 0.2 is the conventional
      "significant shift" threshold.

    Returns the measured signals plus ``drifted`` and, when drifted, the
    prescription: :func:`rebuild_hist_store` re-freezes the edges (the
    KMV store's repair discipline — detect loudly, repair targeted)."""
    import math

    st = store_state.read(os.path.join(store_root, _STATE))
    store_state.check_not_rebuilding(st, "rebuild_hist_store")
    n_added = int(st.get("n_added", 0))
    n_clamped = int(st.get("n_clamped", 0))
    clamp_rate = (n_clamped / n_added) if n_added else 0.0
    ref = {int(k): v for k, v in st.get("ref_dist", {}).items()}
    cur = {
        int(r["bin"]): int(r["tot"])
        for r in TF.read_table(spark, store_root)
        .groupBy("bin")
        .agg(F.sum("n").alias("tot"))
        .collect()
    }
    nbins = int(st["nbins"])
    tot_ref = sum(ref.values())
    tot_cur = sum(cur.values())
    psi = 0.0
    if tot_ref and tot_cur:
        for b in range(nbins):
            p = (ref.get(b, 0) + 0.5) / (tot_ref + 0.5 * nbins)
            q = (cur.get(b, 0) + 0.5) / (tot_cur + 0.5 * nbins)
            psi += (q - p) * math.log(q / p)
    drifted = clamp_rate > clamp_threshold or psi > psi_threshold
    return {
        "n_added": n_added,
        "n_clamped": n_clamped,
        "clamp_rate": clamp_rate,
        "psi": round(psi, 6),
        "clamp_threshold": clamp_threshold,
        "psi_threshold": psi_threshold,
        "drifted": drifted,
        "action": "rebuild_hist_store" if drifted else None,
    }


def rebuild_hist_store(spark: SparkSession, store_root: str) -> int:
    """Re-freeze the bin edges from the base table's CURRENT snapshot and
    rebuild the state in place — the repair :func:`drift_report`
    prescribes. The store table gets a delete-all + insert (two keyed
    merges over KiB of state, versioned like any other commit — the
    sketchstore rebuild discipline), the sidecar gets the new [lo, span],
    a fresh PSI reference, and zeroed clamp counters. Crash-safe via a
    ``rebuilding`` sidecar flag (ADVICE r10): it is written BEFORE the
    delete-all and cleared only by the final sidecar write, and every
    other entry point (refresh / estimate / drift) raises while it is up
    — a crash between the two merges otherwise leaves an empty-or-stale
    store under the OLD [lo, span], into which later refreshes would
    silently fold garbage. Re-running rebuild_hist_store completes the
    repair: the delete-all + insert pair is idempotent. Returns the base
    version the rebuilt store reflects; matches :func:`build_hist_store`
    from scratch bit-for-bit (pinned in tests)."""
    st = store_state.read(os.path.join(store_root, _STATE))
    cur = TF.current_version(st["base_root"])
    df = TF.read_table(spark, st["base_root"], cur)
    row = df.agg(
        F.min(_cents(st["value_col"])).alias("lo"),
        F.max(_cents(st["value_col"])).alias("hi"),
    ).first()
    if row["lo"] is None:
        raise ValueError(
            f"{st['base_root']} has no non-null {st['value_col']} rows"
        )
    # mark the repair OPEN before any state-table write; the old edges
    # stay in the sidecar until the final commit below, but nothing may
    # serve or fold against them while the flag is up
    st["rebuilding"] = True
    store_state.write(os.path.join(store_root, _STATE), st)
    st["lo"] = int(row["lo"])
    st["span"] = int(row["hi"]) - int(row["lo"]) + 1
    fresh = (
        _binned(df, st)
        .groupBy("part", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    stale = TF.read_table(spark, store_root)
    if not stale.isEmpty():
        TF.merge_into(
            spark, store_root, stale.select("part", "bin"),
            on=["part", "bin"],
            when_matched="delete", when_not_matched=None,
            check_cardinality=False,
        )
    TF.merge_into(
        spark, store_root, fresh, on=["part", "bin"],
        when_matched=None, check_cardinality=False,
    )
    st["base_version"] = cur
    st["n_added"] = 0
    st["n_clamped"] = 0
    st["ref_dist"] = {
        str(r["bin"]): int(r["tot"])
        for r in TF.read_table(spark, store_root)
        .groupBy("bin")
        .agg(F.sum("n").alias("tot"))
        .collect()
    }
    st["rebuilding"] = False
    store_state.write(os.path.join(store_root, _STATE), st)
    return cur
