"""Maintenance planner for versioned tables — the OPTIMIZE/VACUUM advisor.

Every long-lived lakehouse table accretes four kinds of debt, each with a
first-class repair already in the engine; what was missing is the sweep
that FINDS the debt across a whole branch tree without reading any data.
``plan_maintenance`` walks main + every branch (recursively — the
purge_table_tree discipline) and, from METADATA ONLY (directory listings,
commit log, sidecars — never a parquet row), reports per target:

* **small-file debt** — data files in the current snapshot vs the
  partition count; each COW merge writes >= 1 file per touched partition,
  so a merge-heavy table drifts toward scan plans dominated by file-open
  overhead at 100 TB. Repair: :func:`table_format.compact`.
* **deletion-vector debt** — a current snapshot carrying ``_dv/``
  tombstones pays an anti-join on every read AND still physically holds
  deleted bytes (the RTBF gap purge_table_tree flags ``physical=False``
  for). Repair: compact (materializes DVs).
* **retention debt** — version directories older than ``keep_last``,
  still holding every pre-delete row; tags pinning them are listed as
  blockers (a tag is a reproducibility promise — reported, never
  auto-released). Repair: :func:`table_format.vacuum`.
* **orphan debris** — ``*.staging`` leftovers and claimed-but-uncommitted
  version dirs from crashed writers. Repair: ``vacuum(remove_orphans=
  True)`` (itself activity-aged, so an in-flight writer is never
  collected).
* **attached-store debt** — any attached index/sketch store whose
  frozen parameters drifted off the data or whose maintenance lags the
  base (the unified registry, r11 verdict items 1-2). Passed via
  ``drift_stores={label: (kind, store_root)}`` since stores are
  free-standing. Kinds and their debt signals:

  - ``hist`` — clamp-rate/PSI (:func:`histstore.drift_report`)
  - ``ivf`` / ``ivfpq`` — cell-mass PSI, newly-hot cells, quantization
    error (:func:`ivfindex.ivf_drift_report`,
    :func:`ivfpqindex.ivfpq_drift_report`)
  - ``bloom`` — fill-derived false-positive rate vs build anchor +
    deleted-key fraction (:func:`bloomindex.bloom_debt_report`)
  - ``zone`` — bound slack vs the manifest's per-file column stats
    (:func:`zonemap.zone_debt_report`)
  - ``freq`` — pending deletion-heavy rescan (``needs_rescan``) +
    unfolded base versions
  - ``text`` — unfolded base versions + crash-recovery ``pending``
    window
  - ``lsh`` / ``key`` — unfolded base versions

  Repair boundary: ``apply_maintenance`` EXECUTES every repair that is
  a pure function of (store state, base snapshot) — histogram/bloom/
  zone rebuilds, freq rescans, text syncs, CDF refreshes. Vector
  rebuilds need an externally chosen centroid plan (replan_centroids /
  kmeans retrain), so they stay a reported prescription.

The planner only RECOMMENDS; ``apply_maintenance`` executes the plan with
the same idempotence the underlying ops already have (compaction is a
version like any other; vacuum re-runs are no-ops). Splitting
detect/apply keeps the expensive rewrites under operator control — at
100 TB a compaction is a deliberate act, not a side effect of a scan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import store_state
from . import table_format as TF

# thresholds: conservative defaults, all overridable per call
DEFAULTS = {
    "max_files_per_partition": 4.0,
    "keep_last": 2,
    # unpartitioned tables have no partition-count yardstick, so their
    # expected file count comes from data volume: ceil(bytes / this)
    "target_file_bytes": 128 * 1024 * 1024,
}


def _targets(root: str) -> dict[str, str]:
    # the branch-tree walk is shared with purge_table_tree so the two
    # sweeps can never drift on branch resolution
    return dict(TF.walk_branch_tree(root))


def _snapshot_stats(vdir: str) -> tuple[int, int, bool, bool, int]:
    """(n_data_files, n_partition_dirs, is_partitioned, has_dv, bytes)
    from one directory walk."""
    n_files = 0
    n_bytes = 0
    parts = set()
    for dp, dns, fns in os.walk(vdir):
        rel = os.path.relpath(dp, vdir)
        if rel.split(os.sep)[0] == TF._DV:
            dns[:] = []
            continue
        for f in fns:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dp, f))
                if rel != ".":
                    parts.add(rel)
    return (
        n_files, max(1, len(parts)), bool(parts), TF._has_dv(vdir), n_bytes
    )


def _lag_report(base_root: str, base_version: int) -> dict:
    cur = TF.current_version(base_root)
    return {
        "base_version": int(base_version),
        "current_base_version": cur,
        "versions_behind": cur - int(base_version),
    }


def _price_store(spark: SparkSession, kind: str, sroot: str) -> dict:
    """Debt report + recommended actions for ONE attached store — the
    per-kind arm of the unified registry. Detection reads the store's
    own STATE (a JSON sidecar, KiB) plus at most one store aggregate
    (hist/ivf); never the base table's data."""
    if kind == "hist":
        from . import histstore as HS

        rep = HS.drift_report(spark, sroot)
        actions = (
            [{
                "op": "rebuild_hist_store",
                "reason": f"drifted: clamp_rate={rep['clamp_rate']:.4f}"
                          f" psi={rep['psi']}",
            }]
            if rep["drifted"] else []
        )
    elif kind == "ivf":
        from . import ivfindex as IX

        rep = IX.ivf_drift_report(spark, sroot)
        actions = (
            [{
                "op": "replan+rebuild",
                "reason": f"drifted: new_hot_cells={rep['new_hot_cells']} "
                          f"psi={rep['psi']} "
                          f"qerr_ratio={rep['qerr_ratio']} — run "
                          "replan_centroids + rebuild_ivf_index "
                          "(O(corpus); needs a centroid plan, not "
                          "auto-executed)",
            }]
            if rep["drifted"] else []
        )
    elif kind == "ivfpq":
        from . import ivfpqindex as PQX

        rep = PQX.ivfpq_drift_report(spark, sroot)
        actions = (
            [{
                "op": "replan+rebuild",
                "reason": f"drifted: new_hot_cells={rep['new_hot_cells']} "
                          f"psi={rep['psi']} — run "
                          "rebuild_ivfpq_index with retrained "
                          "centroids (O(corpus); needs a centroid "
                          "plan, not auto-executed)",
            }]
            if rep["drifted"] else []
        )
    elif kind == "bloom":
        from . import bloomindex as BI

        rep = BI.bloom_debt_report(sroot)
        actions = (
            [{
                "op": "rebuild_bloom_index",
                "reason": f"stale: est_fp_rate={rep['est_fp_rate']} "
                          f"deleted_fraction={rep['deleted_fraction']}",
            }]
            if rep["drifted"] else []
        )
    elif kind == "zone":
        from . import zonemap as ZM

        rep = ZM.zone_debt_report(sroot)
        actions = (
            [{
                "op": "rebuild_zone_map",
                "reason": f"stale: {len(rep['stale_partitions'])} of "
                          f"{rep['n_partitions']} zone(s) slack or "
                          "retired",
            }]
            if rep["drifted"] else []
        )
    elif kind == "freq":
        from . import freqstore as FS

        st = store_state.read(os.path.join(sroot, FS._STATE))
        rep = _lag_report(st["base_root"], st["base_version"])
        rep["needs_rescan"] = bool(st.get("needs_rescan"))
        rep["drifted"] = rep["needs_rescan"] or rep["versions_behind"] > 0
        actions = []
        if rep["versions_behind"] > 0:
            actions.append({
                "op": "refresh_freq_store",
                "reason": f"{rep['versions_behind']} unfolded base "
                          "version(s)",
            })
        if rep["needs_rescan"]:
            actions.append({
                "op": "rescan_candidates",
                "reason": "deletion-heavy drift flagged needs_rescan — "
                          "heavy_hitters raises until the candidate set "
                          "is re-derived (one token scan)",
            })
    elif kind == "text":
        from . import textindex as TX

        meta = store_state.read(os.path.join(sroot, TX._META))
        if meta.get("corpus_root") is None:
            rep = {"bound": False, "drifted": False}
            actions = []
        else:
            rep = _lag_report(
                meta["corpus_root"], meta["corpus_version"]
            )
            rep["bound"] = True
            rep["pending_recovery"] = bool(meta.get("pending"))
            rep["drifted"] = (
                rep["pending_recovery"] or rep["versions_behind"] > 0
            )
            actions = (
                [{
                    "op": "sync_text_index",
                    "reason": (
                        "crashed fold window pending recovery"
                        if rep["pending_recovery"]
                        else f"{rep['versions_behind']} unfolded base "
                             "version(s)"
                    ),
                }]
                if rep["drifted"] else []
            )
    elif kind in ("lsh", "key"):
        if kind == "lsh":
            from .lshindex import _META as sidecar
        else:
            from .keyindex import _STATE as sidecar
        st = store_state.read(os.path.join(sroot, sidecar))
        rep = _lag_report(st["base_root"], st["base_version"])
        rep["drifted"] = rep["versions_behind"] > 0
        actions = (
            [{
                "op": f"refresh_{kind}_index",
                "reason": f"{rep['versions_behind']} unfolded base "
                          "version(s)",
            }]
            if rep["drifted"] else []
        )
    else:
        raise ValueError(f"unknown drift store kind {kind!r}")
    return {
        "kind": kind,
        "store_root": sroot,
        "drift": rep,
        "actions": actions,
    }


def plan_maintenance(
    root: str,
    max_files_per_partition: float = DEFAULTS["max_files_per_partition"],
    keep_last: int = DEFAULTS["keep_last"],
    spark: SparkSession | None = None,
    drift_stores: dict | None = None,
) -> dict:
    """Debt report + recommended actions for ``root`` and every branch.

    Returns ``{target: {stats..., actions: [..]}}`` where each action is
    ``{"op": "compact"|"vacuum", "reason": str}``. Metadata-only: one
    os.walk of each CURRENT snapshot + the commit log — no Spark job, no
    data IO, safe to run on a schedule against thousands of tables.

    ``drift_stores`` prices the fifth debt the module always promised:
    attached stores whose frozen parameters drifted off the data or
    whose maintenance lags the base. Pass ``{label: (kind, store_root)}``
    with kind in ``hist | ivf | ivfpq | bloom | zone | freq | text |
    lsh | key`` (the unified registry — see the module docstring for
    each kind's debt signal). ``hist``/``ivf``/``ivfpq`` pricing runs
    one store aggregate and needs a live ``spark``; every other kind
    prices from its JSON sidecar alone. Each store lands in the plan as
    a ``store:<label>`` entry carrying the full debt report plus
    actions :func:`apply_maintenance` can execute — all repairs that
    are a pure function of (store state, base snapshot) — or the one
    ``replan+rebuild`` prescription vector indexes report (needs a
    centroid plan; never auto-executed)."""
    report: dict = {}
    for label, (kind, sroot) in (drift_stores or {}).items():
        if kind in ("hist", "ivf", "ivfpq") and spark is None:
            raise ValueError(
                f"pricing a {kind!r} store needs a SparkSession (its "
                "drift signal is one store aggregate); bloom/zone/freq/"
                "text/lsh/key price from sidecars alone"
            )
        report[f"store:{label}"] = _price_store(spark, kind, sroot)
    for name, troot in _targets(root).items():
        cur = TF.current_version(troot)
        vdir = TF._vdir(troot, cur)
        n_files, n_parts, is_part, has_dv, n_bytes = _snapshot_stats(vdir)
        committed = {e["version"] for e in TF.history(troot)}
        vroot = os.path.join(troot, TF._VERSIONS)
        old_versions = []
        orphans = []
        for d in sorted(os.listdir(vroot)):
            p = os.path.join(vroot, d)
            if d.endswith(".staging"):
                orphans.append(d)
                continue
            if not d.startswith("v"):
                continue
            try:
                v = int(d[1:])
            except ValueError:
                continue
            if v not in committed:
                orphans.append(d)
            elif v < cur - keep_last + 1:
                old_versions.append(v)
        pinned = [
            t["name"] for t in TF.list_tags(troot)
            if t["version"] in old_versions
        ]
        actions = []
        # partitioned: compact yields ~1 file/partition, so files-per-
        # partition is the yardstick. Unpartitioned: there is no
        # partition count to divide by — the yardstick is data volume
        # (ceil(bytes / target_file_bytes) expected files), and the
        # repair must target that same count or it never converges (the
        # branch-tree property test caught apply re-compacting forever:
        # compact's parallelism default left 8 files for a tiny table,
        # still over the 4-per-"partition" bar).
        target_files = None
        if is_part:
            small = n_files / n_parts > max_files_per_partition
            reason = (
                f"small-file debt: {n_files} files over {n_parts} "
                f"partition(s) (> {max_files_per_partition}/part)"
            )
        else:
            target_files = max(
                1, -(-n_bytes // DEFAULTS["target_file_bytes"])
            )
            small = n_files > max_files_per_partition * target_files
            reason = (
                f"small-file debt: {n_files} files for {n_bytes} bytes "
                f"(expected ~{target_files} at "
                f"{DEFAULTS['target_file_bytes']}B/file)"
            )
        if small:
            actions.append({"op": "compact", "reason": reason})
        if has_dv:
            actions.append({
                "op": "compact",
                "reason": "deletion vectors pending: reads pay an "
                          "anti-join and deleted bytes remain on disk",
            })
        if old_versions or orphans:
            actions.append({
                "op": "vacuum",
                "reason": (
                    f"{len(old_versions)} version(s) beyond keep_last="
                    f"{keep_last}"
                    + (f", {len(orphans)} orphan(s)" if orphans else "")
                    + (f"; tags pin {pinned}" if pinned else "")
                ),
            })
        report[name] = {
            "version": cur,
            "n_files": n_files,
            "n_partitions": n_parts,
            "partitioned": is_part,
            "n_bytes": n_bytes,
            "compact_target_files": target_files,
            "has_dv": has_dv,
            "old_versions": old_versions,
            "orphans": orphans,
            "pinned_tags": pinned,
            "actions": actions,
            # the thresholds this plan was computed with: apply executes
            # the REVIEWED plan, so vacuum must use the keep_last the
            # old_versions list was derived from, not a fresh default
            "keep_last": keep_last,
            "max_files_per_partition": max_files_per_partition,
        }
    return report


def _store_exec(op: str):
    """Executor for a store-repair op, or None for prescriptions that
    need external input (vector replans). Lazy imports keep the planner
    importable without dragging every store module in."""
    if op == "rebuild_hist_store":
        from . import histstore as HS

        return HS.rebuild_hist_store
    if op == "rebuild_bloom_index":
        from . import bloomindex as BI

        return BI.rebuild_bloom_index
    if op == "rebuild_zone_map":
        from . import zonemap as ZM

        return ZM.rebuild_zone_map
    if op == "refresh_freq_store":
        from . import freqstore as FS

        return FS.refresh_freq_store
    if op == "rescan_candidates":
        from . import freqstore as FS

        return FS.rescan_candidates
    if op == "sync_text_index":
        from . import textindex as TX

        return TX.sync_text_index
    if op == "refresh_lsh_index":
        from . import lshindex as LI

        return LI.refresh_lsh_index
    if op == "refresh_key_index":
        from . import keyindex as KI

        return KI.refresh_key_index
    return None


def apply_maintenance(
    spark: SparkSession,
    root: str,
    plan: dict | None = None,
    keep_last: int | None = None,
    orphan_grace_s: float = 3600.0,
) -> dict:
    """Execute a :func:`plan_maintenance` plan (or derive one fresh).

    One compact per target at most (the two compact reasons share a
    repair), then vacuum. Vacuum retention comes from the PLAN — each
    entry records the ``keep_last`` it was priced with, so applying a
    reviewed plan never deletes beyond what that plan reported. Passing
    ``keep_last`` explicitly alongside a plan raises on mismatch (re-plan
    instead — the reviewed old_versions list would no longer describe
    what vacuum does). Returns per-target
    ``{compacted: version|None, vacuumed: [versions]}``. Idempotent: a
    second pass finds no debt and does nothing.
    """
    if plan is None:
        plan = plan_maintenance(
            root,
            keep_last=DEFAULTS["keep_last"] if keep_last is None
            else keep_last,
        )
    targets = _targets(root)
    result: dict = {}
    for name, entry in plan.items():
        if name.startswith("store:"):
            # attached stores: execute every repair that is a pure
            # function of (store state, base snapshot); vector rebuilds
            # need an externally chosen centroid plan, so they stay a
            # reported prescription ("replan+rebuild" -> skipped)
            out = {"rebuilt": None, "skipped": [], "executed": {}}
            for a in entry["actions"]:
                fn = _store_exec(a["op"])
                if fn is None:
                    out["skipped"].append(a["op"])
                    continue
                ret = fn(spark, entry["store_root"])
                out["executed"][a["op"]] = ret
                if a["op"].startswith(("rebuild", "rescan")):
                    out["rebuilt"] = ret
            result[name] = out
            continue
        troot = targets.get(name)
        if troot is None:
            continue
        plan_keep = int(entry.get("keep_last", DEFAULTS["keep_last"]))
        if keep_last is not None and keep_last != plan_keep:
            raise ValueError(
                f"apply_maintenance(keep_last={keep_last}) conflicts with "
                f"the plan's recorded keep_last={plan_keep} for {name!r}; "
                "re-run plan_maintenance with the intended retention"
            )
        ops = {a["op"] for a in entry["actions"]}
        out = {"compacted": None, "vacuumed": []}
        if "compact" in ops:
            out["compacted"] = TF.compact(
                spark, troot,
                target_files=entry.get("compact_target_files"),
            )
        if "vacuum" in ops:
            out["vacuumed"] = TF.vacuum(
                troot, keep_last=plan_keep, remove_orphans=True,
                orphan_grace_s=orphan_grace_s,
            )
        result[name] = out
    return result
