"""Incremental IVF vector index over a versioned corpus.

Completes the index-family triad (textindex = BM25 postings, lshindex =
near-dup bands, this = ANN cells): `similarity.ann_ivf` re-assigns the
whole corpus to cells on every search — right for a one-shot sweep,
wrong for a vector store serving daily probes. Here the cell-assigned
corpus vectors live in a cell-partitioned versioned table (the FAISS
IVF posting-list shape: each cell partition holds its members' scaled
vectors + norms, denormalized so probes never read the base table),
kept current through the base change feed: inserted vectors assign to
cells row-locally against the stored centroid literals and merge in,
deleted vectors merge-delete by key, updates re-assign. Centroids are
FIXED at build time (classic IVF: cells drift as data grows; periodic
retrain = rebuild — loud and explicit, never silent drift of what an
existing cell means).

A probe reads ONLY the nprobe cell partitions each query's centroid
ranking names — manifest-planned, no listing, no full-index pass — and
ranks candidates by the same exact fixed-point cosine as the scan-path
operators, so indexed results are differentialable against a relational
oracle recomputing assignment + probe from the raw table.

Drift lifecycle (r10 verdict item 3 — the vector member of the drift
family histstore/freqstore started): fixed centroids mean a drifting
corpus silently degrades — new vectors pile into a few hot cells (a
probe of those cells reads a corpus-scale posting list) and the mean
quantization error rises (cell membership stops meaning "near this
centroid", which is what bounds ANN recall). :func:`ivf_drift_report`
measures both from the INDEX alone — per-cell population PSI against
the build-time reference plus hot/empty-cell naming, and the mean
scaled-cosine quantization error vs its build anchor — and prescribes
the targeted repair: :func:`replan_centroids` splits hot cells (their
smallest-id members become new centroids) and retires empty ones, then
:func:`rebuild_ivf_index` re-assigns under the new centroid set in one
crash-guarded keyed merge. Detection is O(index metadata + one index
aggregate); repair is O(corpus) — deliberate, loud, never automatic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import store_state
from . import table_format as TF
from .similarity import cell_of, cosine_scaled, probe_cells, with_norm

_META = "_ivf_meta.json"


def _assigned(docs: DataFrame, st: dict) -> DataFrame:
    """(id, cell, svec, norm [, attrs...]) rows — assignment is row-local
    arithmetic against the centroid literals; no shuffle before the table
    write. ``attr_cols`` metadata rides along denormalized so FILTERED
    probes evaluate their predicate inside the cell scan instead of
    joining back to the base table."""
    cents = [(list(c), float(n)) for c, n in st["centroids"]]
    nv = with_norm(docs, st["vec_col"])
    return nv.select(
        F.col(st["id_col"]),
        cell_of(F.col("svec"), F.col("norm"), cents).alias("cell"),
        "svec",
        "norm",
        *[F.col(c) for c in st.get("attr_cols", [])],
    )


def build_ivf_index(
    spark: SparkSession,
    base_root: str,
    index_root: str,
    centroids: list[tuple[list[int], float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    attr_cols: list[str] | None = None,
) -> int:
    """Materialize the cell-assigned corpus at ``base_root`` as a
    cell-partitioned versioned table. ``centroids`` are (scaled-long
    vector, norm) literals — from similarity.seed_centroids (oracle-
    nameable) or kmeans_train + centroid_literals (data-adaptive).
    ``attr_cols`` names base metadata columns to denormalize into the
    index for FILTERED search (probe ``where=...``). Returns the base
    version the index reflects."""
    st = {
        "base_root": base_root,
        "base_version": TF.current_version(base_root),
        "id_col": id_col,
        "vec_col": vec_col,
        "attr_cols": list(attr_cols or []),
        "centroids": [[list(c), float(n)] for c, n in centroids],
    }
    docs = TF.read_table(spark, base_root, st["base_version"])
    TF.create_table(
        _assigned(docs, st), os.path.join(index_root, "cells"),
        partition_by="cell", distribute=True,
    )
    os.makedirs(index_root, exist_ok=True)
    # drift anchors (cell mass for PSI, mean quantization error) —
    # ivf_drift_report measures against the index AS BUILT
    _drift_refs(spark, index_root, st)
    store_state.write(os.path.join(index_root, _META), st)
    return st["base_version"]


def _cell_counts(spark: SparkSession, index_root: str) -> dict[int, int]:
    """Current per-cell populations: one cell-only columnar aggregate
    over the index (result is ≤ n_cells rows — KiB)."""
    cells_root = os.path.join(index_root, "cells")
    return {
        int(r["cell"]): int(r["n"])
        for r in TF.read_table(spark, cells_root)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def _mean_qerr(spark: SparkSession, index_root: str, st: dict) -> float:
    """Mean quantization error over the index: avg(1 - cosine(vector,
    its assigned centroid)) — ONE row-local aggregate (the centroid
    cosines are plan literals, the row's own `cell` picks one; no join,
    no shuffle beyond the final scalar). This is the quantity whose rise
    means cell membership no longer bounds distance — the precondition
    for IVF recall."""
    from .similarity import _centroid_cosines

    cents = [(list(c), float(n)) for c, n in st["centroids"]]
    cells = TF.read_table(spark, os.path.join(index_root, "cells"))
    own_cos = F.element_at(
        F.array(*_centroid_cosines(F.col("svec"), F.col("norm"), cents)),
        F.col("cell").cast("int") + 1,
    )
    row = cells.agg(F.avg(F.lit(1.0) - own_cos).alias("qe")).first()
    return float(row["qe"]) if row["qe"] is not None else 0.0


def _drift_refs(spark: SparkSession, index_root: str, st: dict) -> None:
    """Anchor the drift references to the CURRENT index state (called at
    build and after a rebuild): per-cell mass for PSI, mean quantization
    error for the recall proxy."""
    st["ref_cells"] = {
        str(c): n for c, n in _cell_counts(spark, index_root).items()
    }
    st["ref_qerr"] = _mean_qerr(spark, index_root, st)


def population_drift(
    cur: dict[int, int],
    ref: dict[int, int],
    k: int,
    psi_threshold: float,
    share_factor: float,
) -> dict:
    """Shared cell-population drift arithmetic (this module + ivfpqindex):
    PSI of current vs reference cell mass (histstore's 0.5 smoothing),
    hot cells above ``share_factor``× the uniform share, empty cells.

    ``hot_cells`` is the PROBE-COST signal (what a probe of that cell
    reads today) and names every cell over the share bar; the DRIFT
    verdict instead consumes ``new_hot_cells`` — hot now but NOT hot at
    anchor time under the same share rule — because a naturally skewed
    corpus is hot at build time by construction and re-prescribing a
    replan it just had can never converge (r11 advice)."""
    import math

    tot_cur = sum(cur.values())
    tot_ref = sum(ref.values())
    psi = 0.0
    if tot_ref and tot_cur:
        for c in range(k):
            p = (ref.get(c, 0) + 0.5) / (tot_ref + 0.5 * k)
            q = (cur.get(c, 0) + 0.5) / (tot_cur + 0.5 * k)
            psi += (q - p) * math.log(q / p)
    hot = sorted(c for c, n in cur.items() if n * k > share_factor * tot_cur)
    hot_ref = {
        c for c, n in ref.items() if n * k > share_factor * tot_ref
    }
    return {
        "n_cells": k,
        "total": tot_cur,
        "psi": round(psi, 6),
        "psi_threshold": psi_threshold,
        "hot_cells": hot,
        "new_hot_cells": [c for c in hot if c not in hot_ref],
        "share_factor": share_factor,
        "empty_cells": sorted(set(range(k)) - set(cur)),
    }


def ivf_drift_report(
    spark: SparkSession,
    index_root: str,
    psi_threshold: float = 0.2,
    share_factor: float = 2.0,
    qerr_ratio_threshold: float = 1.25,
) -> dict:
    """Is the frozen centroid set still fit for the corpus it indexes?

    The histstore drift discipline applied to the vector family (r10
    verdict item 3): at 100 TB with distribution drift, recall decays
    SILENTLY — new vectors assign to whatever old centroid is least
    wrong, so the index keeps answering, just badly. Three signals, all
    from the index alone (never the base table):

    * **cell-population PSI** — current per-cell mass vs the build-time
      reference (``ref_cells``), same 0.5-count smoothing as
      histstore.drift_report. Catches reshaping even when no single
      cell is extreme.
    * **hot cells** — cells holding more than ``share_factor``× the
      uniform share (cnt · k > factor · total): their posting lists are
      what a probe actually reads, so a hot cell is a direct probe-cost
      regression AND the natural SPLIT target. Only ``new_hot_cells``
      (hot now, not hot at anchor) count toward the ``drifted`` verdict
      — an intrinsically skewed corpus is hot on day one and a replan
      can never flatten it, so anchored-hot cells are reported as a
      standing probe-cost fact, not drift.
    * **quantization-error ratio** — mean (1 - cosine to own centroid)
      vs its build anchor (``ref_qerr``): the recall proxy. Rising qerr
      means vectors sit far from every centroid, so nprobe cells no
      longer cover the true neighborhood.

    Returns the signals plus ``drifted`` and the prescription:
    :func:`replan_centroids` (split the named hot cells, retire the
    empty ones) followed by :func:`rebuild_ivf_index` — targeted
    re-clustering, not a from-scratch retrain, unless PSI says the whole
    shape moved."""
    st = store_state.read(os.path.join(index_root, _META))
    store_state.check_not_rebuilding(st, "rebuild_ivf_index")
    rep = population_drift(
        _cell_counts(spark, index_root),
        {int(c): int(n) for c, n in st.get("ref_cells", {}).items()},
        len(st["centroids"]),
        psi_threshold,
        share_factor,
    )
    qerr = _mean_qerr(spark, index_root, st)
    ref_qerr = float(st.get("ref_qerr", 0.0))
    qerr_ratio = (qerr / ref_qerr) if ref_qerr > 0 else 1.0
    rep.update(
        qerr=round(qerr, 9),
        ref_qerr=round(ref_qerr, 9),
        qerr_ratio=round(qerr_ratio, 6),
        qerr_ratio_threshold=qerr_ratio_threshold,
    )
    rep["drifted"] = (
        rep["psi"] > psi_threshold
        or bool(rep["new_hot_cells"])
        or qerr_ratio > qerr_ratio_threshold
    )
    rep["action"] = (
        "replan_centroids + rebuild_ivf_index" if rep["drifted"] else None
    )
    return rep


def replan_centroids(
    spark: SparkSession,
    index_root: str,
    hot_cells: list[int],
    empty_cells: list[int] | None = None,
    per_cell: int = 2,
) -> list[tuple[list[int], float]]:
    """Targeted re-clustering plan: the new centroid literal list =
    (old centroids minus the retired empty cells) + ``per_cell`` split
    seeds promoted from each hot cell's own members — the classic
    split-hot/merge-cold repair. Seeds are picked by DETERMINISTIC
    greedy farthest-point (Gonzalez k-center) ANCHORED AT THE CELL'S OWN
    OLD CENTROID: each pick is the member whose best cosine to {old
    centroid} ∪ {seeds so far} is LOWEST (ties → smallest id). The
    anchor matters — a hot cell typically holds its original well-
    represented cluster PLUS the drifted mass, and an unanchored pick
    would re-elect a copy of the old centroid (wasting the seed and
    leaving an empty duplicate cell); anchored, every seed lands in the
    part of the cell the centroid does NOT cover, which is the drift.
    Already-promoted members are EXCLUDED from later picks (a hot cell
    with fewer distinct members than ``per_cell`` stops early instead
    of electing a duplicate centroid that would own a permanently empty
    cell), and the id-ordered tie-breaks mean an oracle can name the
    exact same vectors. All hot cells advance together: each pick ROUND
    is ONE grouped min_by job over the union of hot-cell pruned
    partition scans — ``per_cell`` jobs total regardless of |hot|, so a
    drift event naming hundreds of hot cells costs the same job count
    as one (driver state stays per_cell·|hot| KiB centroid rows). Feed
    the result to :func:`rebuild_ivf_index`; cell ids renumber — every
    consumer re-derives assignment from the new list."""
    st = store_state.read(os.path.join(index_root, _META))
    store_state.check_not_rebuilding(st, "rebuild_ivf_index")
    retired = set(empty_cells or [])
    kept = [
        (list(c), float(n))
        for i, (c, n) in enumerate(st["centroids"])
        if i not in retired
    ]
    if not hot_cells:
        return kept
    cells_root = os.path.join(index_root, "cells")
    id_col = st["id_col"]
    hot = sorted(set(hot_cells))
    from ..util import tracked_persist

    # persisted: every pick round re-reads this pool, and without the
    # cache each round would re-scan the hot partitions from storage
    # (measured 8.1x at 16 hot cells before caching)
    members = tracked_persist(
        TF.scan_partitions(
            spark, cells_root, [f"cell={c}" for c in hot]
        ).select("cell", F.col(id_col).alias("__id"), "svec", "norm")
    )
    # per-cell greedy state, anchored at the cell's own old centroid
    chosen: dict[int, list[tuple[list[int], float]]] = {
        c: [(list(st["centroids"][c][0]), float(st["centroids"][c][1]))]
        for c in hot
    }
    picks: dict[int, list[tuple[list[int], float]]] = {c: [] for c in hot}
    taken_ids: list = []
    live = list(hot)
    for _ in range(per_cell):
        if not live:
            break
        # one expression tree: each row scores against ITS cell's chosen
        # set (when-chain over the still-live hot cells)
        best = None
        for c in live:
            cos_cols = [
                cosine_scaled(
                    F.col("svec"),
                    F.array(*[F.lit(int(v)).cast("long") for v in sv]),
                    F.col("norm"),
                    F.lit(float(nn)),
                )
                for sv, nn in chosen[c]
            ]
            b = F.greatest(*cos_cols) if len(cos_cols) > 1 else cos_cols[0]
            cond = F.col("cell") == F.lit(c)
            best = F.when(cond, b) if best is None else best.when(cond, b)
        pool = members.where(F.col("cell").isin(live))
        if taken_ids:
            pool = pool.where(~F.col("__id").isin(taken_ids))
        rows = (
            pool.withColumn("__best", best)
            .groupBy("cell")
            .agg(
                F.min_by(
                    F.struct("__id", "svec", "norm"),
                    F.struct(F.col("__best"), F.col("__id")),
                ).alias("p")
            )
            .collect()
        )
        got = {int(r["cell"]): r["p"] for r in rows}
        nxt_live = []
        for c in live:
            if c not in got:
                continue  # cell exhausted: fewer members than picks
            p = got[c]
            pick = (list(p["svec"]), float(p["norm"]))
            chosen[c].append(pick)
            picks[c].append(pick)
            taken_ids.append(p["__id"])
            nxt_live.append(c)
        live = nxt_live
    # oracle-stable promoted order: (hot cell asc, pick order)
    promoted = [p for c in hot for p in picks[c]]
    return kept + promoted


def rebuild_ivf_index(
    spark: SparkSession,
    index_root: str,
    centroids: list[tuple[list[int], float]] | None = None,
) -> int:
    """Re-freeze the centroid set and re-assign the whole index under it
    — the repair :func:`ivf_drift_report` prescribes, O(corpus) and
    deliberately explicit (the module's "retrain = rebuild, loud"
    posture, now with a first-class path). The index first folds any
    pending base changes under the OLD centroids (so membership is
    current), then ONE keyed upsert merge rewrites every row's
    (cell, svec, norm) under the new centroids — same id set, so no
    delete pass exists to crash between.

    Crash-safe via the histstore rebuild discipline: the meta records
    ``rebuilding`` + the ``pending_centroids`` BEFORE the merge, every
    other entry point raises while the flag is up, and a re-run resumes
    with the SAME pending centroids (the merge is an idempotent pure
    function of (snapshot, centroids)). ``centroids=None`` on a clean
    index raises — a rebuild without a new plan is a no-op wearing a
    corpus-scale cost."""
    st = store_state.read(os.path.join(index_root, _META))
    if st.get("rebuilding"):
        # resume the crashed rebuild with its own staged plan
        pend = st["pending_centroids"]
        centroids = [(list(c), float(n)) for c, n in pend]
    else:
        if centroids is None:
            raise ValueError(
                "rebuild_ivf_index needs a new centroid set "
                "(replan_centroids / kmeans_train + centroid_literals)"
            )
        refresh_ivf_index(spark, index_root)
        st = store_state.read(os.path.join(index_root, _META))
        st["rebuilding"] = True
        st["pending_centroids"] = [
            [list(c), float(n)] for c, n in centroids
        ]
        store_state.write(os.path.join(index_root, _META), st)
    new_st = dict(st)
    new_st["centroids"] = [[list(c), float(n)] for c, n in centroids]
    cur = st["base_version"]
    docs = TF.read_table(spark, st["base_root"], cur)
    TF.merge_into(
        spark,
        os.path.join(index_root, "cells"),
        _assigned(docs, new_st),
        on=st["id_col"],
        check_cardinality=False,
    )
    new_st.pop("pending_centroids", None)
    new_st["rebuilding"] = False
    _drift_refs(spark, index_root, new_st)
    store_state.write(os.path.join(index_root, _META), new_st)
    return cur


def refresh_ivf_index(spark: SparkSession, index_root: str) -> int:
    """Fold the base change feed: O(changed vectors) assignment work,
    writes bounded by the cells the changes land in. Keyed by the vector
    id (one index row per vector), so inserts/deletes/updates all fold
    exactly — the index stays a pure function of (snapshot, centroids)."""
    cells_root = os.path.join(index_root, "cells")

    def fold(st, ch, cur):
        # one row per vector id: deletes drop it, inserts add it, updates
        # re-assign it — a single keyed merge handles all three
        removed = ch.where(F.col("_change_type") == "delete")
        if not removed.isEmpty():
            TF.merge_into(
                spark, cells_root,
                _assigned(removed.drop("_change_type"), st),
                on=st["id_col"], when_matched="delete", when_not_matched=None,
                check_cardinality=False,
            )
        upserts = ch.where(F.col("_change_type").isin("insert", "update"))
        if not upserts.isEmpty():
            TF.merge_into(
                spark, cells_root,
                _assigned(upserts.drop("_change_type"), st),
                on=st["id_col"], check_cardinality=False,
            )

    return store_state.fold_window(
        spark, os.path.join(index_root, _META), fold, key="id_col",
        recover=lambda st: store_state.check_not_rebuilding(
            st, "rebuild_ivf_index"
        ),
    )


def probe_ivf_index(
    spark: SparkSession,
    index_root: str,
    queries: DataFrame,
    nprobe: int = 4,
    top_k: int = 5,
    where: str | None = None,
) -> DataFrame:
    """ANN top-k through the index: each query's nprobe closest cells are
    named row-locally against the centroid literals, the UNION of probed
    cells is read through the manifest-planned pruned scan (at 100 TB:
    nprobe/n_cells of the index, never the corpus), and candidates rank
    by exact fixed-point cosine — the same output contract as
    similarity.ann_ivf (total tie-break, 9 dp rounding).

    ``where`` is a FILTERED-search predicate over the index's
    ``attr_cols`` (SQL expression string): top-k among the vectors
    satisfying it — evaluated inside the cell scan, the filtered-ANN
    semantics dedicated vector stores struggle with, expressed here as a
    plain pushed filter. NOTE the recall caveat filtered ANN inherits
    everywhere: cells are probed by QUERY proximity, so a highly
    selective predicate can empty the probed cells while matches exist in
    unprobed ones — raise nprobe for selective filters."""
    st = store_state.read(os.path.join(index_root, _META))
    store_state.check_not_rebuilding(st, "rebuild_ivf_index")
    cents = [(list(c), float(n)) for c, n in st["centroids"]]
    cells_root = os.path.join(index_root, "cells")
    id_col = st["id_col"]
    # fanout=False: bounded probe batch — see ivfpqindex.probe_ivfpq_index
    q = with_norm(queries, st["vec_col"], fanout=False).select(
        F.col(id_col).alias("query_id"),
        F.col("svec").alias("qs"),
        F.col("norm").alias("qn"),
    )
    probe = q.select(
        "query_id", "qs", "qn",
        F.explode(
            probe_cells(F.col("qs"), F.col("qn"), cents, nprobe)
        ).alias("cell"),
    )
    # one evaluation of the k×dim centroid-literal expressions: the eager
    # localCheckpoint materializes the nprobe-rows-per-query relation so
    # the cell collect, the broadcast build and the final plan stop
    # re-optimizing/re-evaluating the ~50 KB tree (r13, guide §3.3 — see
    # ivfpqindex.probe_ivfpq_index)
    probe = probe.localCheckpoint()
    want = {r["cell"] for r in probe.select("cell").distinct().collect()}
    have = {
        e["path"].split("/", 1)[0]
        for e in TF.manifest(cells_root)
        if "/" in e["path"]
    }
    rels = [f"cell={c}" for c in sorted(want) if f"cell={c}" in have]
    if not rels:
        t = queries.schema[id_col].dataType.simpleString()
        return spark.createDataFrame(
            [], f"query_id {t}, neighbor_id {t}, rank int, cosine double"
        )
    members = TF.scan_partitions(spark, cells_root, rels)
    if where is not None:
        members = members.where(where)
    members = members.select(
        F.col(id_col).alias("neighbor_id"), "cell",
        F.col("svec").alias("cs"), F.col("norm").alias("cn"),
    )
    pairs = members.join(F.broadcast(probe), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # vectors projected away before the ranking shuffle (the
    # knn_bruteforce shuffle-volume discipline)
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_scaled(
            F.col("qs"), F.col("cs"), F.col("qn"), F.col("cn")
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id", "neighbor_id", "rank",
            F.round("cosine", 9).alias("cosine"),
        )
    )
