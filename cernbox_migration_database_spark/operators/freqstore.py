"""Incremental heavy-hitters store: count-min sketch + candidate set,
maintained through a versioned document table's change feed.

The third member of the incremental-sketch family, and the frequency
sibling of :mod:`histstore` (quantiles) and :mod:`sketchstore` (distinct
counts). The 100 TB job it serves: track the heavy tokens (vocabulary
heads, domains, n-grams) of a living corpus — under inserts, updates,
AND right-to-be-forgotten deletes — from KiB of state, no full rescans.

Why count-min and not Misra-Gries/SpaceSaving: CMS is a LINEAR sketch —
sketch(A ∪ B) = sketch(A) + sketch(B) and sketch(A \\ B) = sketch(A) -
sketch(B) — so a delete window folds as NEGATIVE counts, exactly, the
same no-repair-path property the histogram store's bin counts have
(``refresh ≡ rebuild`` holds bit-for-bit and is pinned in tests).
MG/SpaceSaving summaries do not subtract.

The sketch alone cannot NAME the heavy tokens (it only answers point
queries), so the store also maintains a bounded CANDIDATE set:

* at build, every token with est ≥ θ·T/2 (margin 2 below the serve
  threshold θ·T) — ≤ 2/θ tokens by counting;
* each refresh re-vets (old candidates ∪ tokens touched by the window)
  against the post-fold sketch and keeps the est ≥ θ·T/2 survivors.

Soundness (CMS estimates are one-sided: est ≥ true count): a token whose
TRUE count crosses θ·T must either have been ≥ θ·T/2 at build or have
gained count since — i.e. been touched by a window — so it is vetted and
retained. The one hole is DELETION-HEAVY drift: an untouched token's
count is constant, but θ·T falls as the corpus shrinks, so it can become
relatively-heavy without ever being examined. The margin covers total
shrink up to 2x; beyond that the refresh flags ``needs_rescan`` (the
sidecar records T at the last full vet) and :func:`rescan_candidates`
re-derives the candidate set from one token scan — the sketchstore
auto-repair discipline: detect loudly, repair targeted, never serve
silently-wrong results (``heavy_hitters`` raises while the flag is up).

Determinism is the differential contract: md5-derived bucket hashing
(:func:`sketches._bucket`) and pure integer counter/threshold arithmetic
replay verbatim in DuckDB, candidate evolution included.

Scale: the sketch is depth × width counters (KiB); a refresh shuffles
O(window tokens × depth) rows; the vet joins ≤ (2/θ + |window vocab|)
candidates against a broadcast sketch. Serving reads only store state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_state
from . import table_format as TF
from .sketches import _bucket

_STATE = "_freq_state.json"
_TXN_APP = "fs"


def _tokens_signed(df: DataFrame, text_col: str) -> DataFrame:
    """(token, sign) rows from a change window: post-images add, pre-images
    and deletes subtract — the linearity that makes folds exact."""
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    return df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("token"),
        sign.alias("__s"),
    )


def _sketch_delta(toks: DataFrame, depth: int, width: int) -> DataFrame:
    """Signed (row, bucket, counter) deltas — map-side combinable."""
    fan = toks.select(
        "token",
        "__s",
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("row"),
    )
    return (
        fan.select(
            "row",
            "__s",
            _bucket(F.col("token"), F.col("row"), width).alias("bucket"),
        )
        .groupBy("row", "bucket")
        .agg(F.sum("__s").cast("long").alias("counter"))
        .where(F.col("counter") != 0)
    )


def _estimates(
    spark: SparkSession, store_root: str, cand: DataFrame, st: dict
) -> DataFrame:
    """(token, est) for each candidate: min over depth counters. The
    sketch is depth×width rows — broadcast; candidates never shuffle."""
    sketch = TF.read_table(spark, os.path.join(store_root, "sketch"))
    fan = cand.select(
        "token",
        F.explode(
            F.array(*[F.lit(j) for j in range(st["depth"])])
        ).alias("row"),
    ).select(
        "token",
        "row",
        _bucket(F.col("token"), F.col("row"), st["width"]).alias("bucket"),
    )
    return (
        fan.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("counter"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


def build_freq_store(
    spark: SparkSession,
    base_root: str,
    store_root: str,
    key: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 256,
    theta_num: int = 1,
    theta_den: int = 100,
) -> int:
    """Materialize the sketch + candidate tables from the base snapshot.
    θ = theta_num/theta_den is the heavy-hitter threshold as a fraction
    of total token occurrences. Returns the reflected base version."""
    base_v = TF.current_version(base_root)
    df = TF.read_table(spark, base_root, base_v)
    toks = df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
        ).alias("token"),
        F.lit(1).alias("__s"),
    )
    from ..util import tracked_persist

    toks = tracked_persist(toks)
    total = toks.count()
    sketch = _sketch_delta(toks, depth, width)
    TF.create_table(sketch, os.path.join(store_root, "sketch"))
    st = {
        "base_root": base_root,
        "base_version": base_v,
        "key": key,
        "text_col": text_col,
        "depth": depth,
        "width": width,
        "theta_num": theta_num,
        "theta_den": theta_den,
        "total": total,
        "vet_total": total,  # T at the last FULL candidate vet
        "needs_rescan": False,
        "fold_seq": 0,
    }
    cand = toks.select("token").distinct()
    est = _estimates(spark, store_root, cand, st)
    # retention margin 2 below the serve threshold: 2·est·den ≥ num·T
    keep = est.where(
        2 * F.col("est") * theta_den >= F.lit(theta_num * total)
    ).select("token")
    TF.create_table(keep, os.path.join(store_root, "cand"))
    os.makedirs(store_root, exist_ok=True)
    store_state.write(os.path.join(store_root, _STATE), st)
    return base_v


def _prune_zero_counters(spark: SparkSession, sroot: str) -> None:
    """Delete counter==0 sketch rows (zero buckets are ABSENT by the
    store invariant; estimates coalesce missing to 0, so this is a space
    invariant, not a correctness one — safe to re-run in recovery)."""
    dead = TF.read_table(spark, sroot).where(F.col("counter") == 0)
    if not dead.isEmpty():
        TF.merge_into(
            spark, sroot, dead.select("row", "bucket"),
            on=["row", "bucket"],
            when_matched="delete", when_not_matched=None,
            check_cardinality=False,
        )


def _revet(
    spark: SparkSession,
    store_root: str,
    st: dict,
    window_tokens: DataFrame,
    total: int,
) -> None:
    """Re-vet (old candidates ∪ window tokens) against the post-fold
    sketch at ``total``; drop the fallen, add the risen. Idempotent —
    the keep set is a pure function of (sketch, candidate∪window,
    total) and both merges replay safely — so crash recovery can run it
    again. Mutates ``st`` (vet_total ratchet / needs_rescan); the caller
    persists the state file.

    Soundness anchor (ADVICE r10): a candidate dropped HERE was judged
    light relative to ``total`` — if the corpus later shrinks past half
    of ANY total a drop decision was made at, that token can become
    relatively heavy while untouched, so ``vet_total`` only ratchets UP
    on a vet (a full rescan re-anchors it down)."""
    from ..util import tracked_persist

    croot = os.path.join(store_root, "cand")
    cand = (
        TF.read_table(spark, croot)
        .select("token")
        .union(window_tokens.select("token"))
        .distinct()
    )
    est = _estimates(spark, store_root, cand, st)
    keep = est.where(
        2 * F.col("est") * st["theta_den"]
        >= F.lit(st["theta_num"]) * F.lit(int(total))
    ).select("token")
    keep = tracked_persist(keep)
    old = TF.read_table(spark, croot).select("token")
    drop = old.join(keep, "token", "left_anti")
    add = keep.join(old, "token", "left_anti")
    if not drop.isEmpty():
        TF.merge_into(
            spark, croot, drop, on="token",
            when_matched="delete", when_not_matched=None,
            check_cardinality=False,
        )
    if not add.isEmpty():
        TF.merge_into(
            spark, croot, add, on="token",
            when_matched=None, check_cardinality=False,
        )
    st["vet_total"] = max(int(st.get("vet_total", total)), int(total))
    # margin-2 soundness holds while T ≥ vet_total / 2: below that an
    # UNTOUCHED token can be relatively-heavy yet never vetted
    if 2 * int(total) < int(st["vet_total"]):
        st["needs_rescan"] = True


def refresh_freq_store(spark: SparkSession, store_root: str) -> int:
    """Fold the base change window into the sketch (signed counter merge,
    zero rows pruned, negatives raise = double-apply guard) and re-vet
    the candidate set. Crash-safe via the histstore discipline EXTENDED
    to the vet: the sketch merge carries ``txn=(fs, fold_seq)`` + the
    window and the folded total in ``commit_meta``; recovery re-adopts
    them AND re-runs the candidate re-vet over that window's tokens
    (idempotent merges) — adopting the total alone would leave a token
    that crossed θ·T/2 inside the crashed window permanently unvetted,
    and ``heavy_hitters`` would serve an incomplete set without raising.
    Deletion-heavy drift (total below half of any vet-time total) flags
    ``needs_rescan`` instead of serving silently-incomplete candidates."""
    return store_state.fold_window(
        spark, os.path.join(store_root, _STATE),
        lambda st, ch, cur: _fold(spark, store_root, st, ch, cur),
        preimage=True, recover=lambda st: _recover(spark, store_root, st),
    )


def _recover(spark: SparkSession, store_root: str, st: dict) -> None:
    """Finish and adopt a fold the sketch committed but whose sidecar
    write the crashed refresh never made."""
    sroot = os.path.join(store_root, "sketch")
    committed = TF.last_txn_entry(sroot, _TXN_APP)
    if committed is None or committed["txn_ver"] <= int(st.get("fold_seq", 0)):
        return
    # crash landed between the sketch commit and the state write —
    # the post-commit phases (zero-prune, candidate re-vet) may not
    # have run; redo them from the committed window before adopting
    w_from = int(committed["fs_window"][0])
    w_to = int(committed["fs_window"][1])
    st["base_version"] = w_to
    st["total"] = int(committed["fs_total"])
    st["fold_seq"] = int(committed["txn_ver"])
    _prune_zero_counters(spark, sroot)
    wch = TF.read_changes(
        spark,
        st["base_root"],
        key=st["key"],
        from_version=w_from,
        to_version=w_to,
        include_preimage=True,
    )
    _revet(
        spark, store_root, st,
        _tokens_signed(wch, st["text_col"]).select("token").distinct(),
        int(st["total"]),
    )
    store_state.write(os.path.join(store_root, _STATE), st)


def _fold(
    spark: SparkSession, store_root: str, st: dict, ch: DataFrame, cur: int
) -> None:
    from ..util import tracked_persist

    sroot = os.path.join(store_root, "sketch")
    seq0 = int(st.get("fold_seq", 0))
    toks = tracked_persist(_tokens_signed(ch, st["text_col"]))
    d_total = toks.agg(
        F.coalesce(F.sum("__s"), F.lit(0)).cast("long")
    ).first()[0]
    delta = _sketch_delta(toks, st["depth"], st["width"])
    new_total = int(st["total"]) + int(d_total)
    if not delta.isEmpty():
        TF.merge_into(
            spark, sroot, delta, on=["row", "bucket"],
            update_set={"counter": lambda t, s: t["counter"] + s["counter"]},
            check_cardinality=False,
            txn=(_TXN_APP, seq0 + 1),
            commit_meta={
                "fs_window": [st["base_version"], cur],
                "fs_total": new_total,
            },
        )
        st["fold_seq"] = seq0 + 1
        if not TF.read_table(spark, sroot).where(
            F.col("counter") < 0
        ).isEmpty():
            raise ValueError(
                "negative CMS counter after fold — window applied twice?"
            )
        _prune_zero_counters(spark, sroot)
    # re-vet: old candidates ∪ the window's tokens, against post-fold state
    _revet(
        spark, store_root, st, toks.select("token").distinct(), new_total
    )
    st["total"] = new_total


def rescan_candidates(spark: SparkSession, store_root: str) -> int:
    """Targeted repair for deletion-heavy drift: ONE token scan of the
    current base snapshot re-derives the candidate set (the sketch needs
    no repair — it is linear and exact under folds). Clears the flag and
    re-anchors vet_total. Returns the candidate count."""
    st = store_state.read(os.path.join(store_root, _STATE))
    df = TF.read_table(spark, st["base_root"], st["base_version"])
    cand = df.select(
        F.explode(
            F.filter(F.split(F.col(st["text_col"]), " "), lambda t: t != "")
        ).alias("token")
    ).distinct()
    est = _estimates(spark, store_root, cand, st)
    keep = est.where(
        2 * F.col("est") * st["theta_den"]
        >= F.lit(st["theta_num"]) * F.lit(int(st["total"]))
    ).select("token")
    from ..util import tracked_persist

    keep = tracked_persist(keep)
    croot = os.path.join(store_root, "cand")
    old = TF.read_table(spark, croot).select("token")
    drop = old.join(keep, "token", "left_anti")
    add = keep.join(old, "token", "left_anti")
    if not drop.isEmpty():
        TF.merge_into(
            spark, croot, drop, on="token",
            when_matched="delete", when_not_matched=None,
            check_cardinality=False,
        )
    if not add.isEmpty():
        TF.merge_into(
            spark, croot, add, on="token",
            when_matched=None, check_cardinality=False,
        )
    st["needs_rescan"] = False
    st["vet_total"] = int(st["total"])
    store_state.write(os.path.join(store_root, _STATE), st)
    return keep.count()


def heavy_hitters(spark: SparkSession, store_root: str) -> DataFrame:
    """(token, est) for every candidate at or above the serve threshold
    est·den ≥ num·T — store state only, zero base IO. Raises while
    ``needs_rescan`` is up rather than serving a possibly-incomplete set
    (run :func:`rescan_candidates` first)."""
    st = store_state.read(os.path.join(store_root, _STATE))
    if st.get("needs_rescan"):
        raise ValueError(
            "freq store needs a candidate rescan (total shrank past the "
            "soundness margin) — run rescan_candidates() first"
        )
    cand = TF.read_table(spark, os.path.join(store_root, "cand"))
    est = _estimates(spark, store_root, cand, st)
    return est.where(
        F.col("est") * st["theta_den"]
        >= F.lit(st["theta_num"]) * F.lit(int(st["total"]))
    ).select("token", "est")
