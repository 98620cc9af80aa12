"""The JSON sidecar every change-feed-maintained store keeps, and the
change-window fold that advances it.

Key, bloom, text, LSH, IVF, IVF-PQ and cluster indexes, zone maps,
aggregate and join views, and sketch, histogram and frequency stores each
record how far they have folded their base table's change feed (plus
their build parameters) in one small JSON file next to the store. This
module is the one copy of that protocol:

* :func:`read` loads the sidecar;
* :func:`write` replaces it atomically — the payload goes to
  ``path + ".tmp"`` and one ``os.replace`` publishes it, so a crash at
  any point of the write leaves the previous sidecar intact (a torn
  sidecar would make every later refresh or probe die in ``json.load``);
* :func:`fold_window` is the version window every refresh runs: read the
  sidecar, return at once while the base is still at ``base_version``
  (no Spark job, no write), diff ``base_version → cur``, let the store
  fold the feed, then record ``cur`` — the diffed version, so a commit
  landing mid-fold stays in the next window — in one atomic write. A
  crash before that write re-folds the window on the next refresh; the
  histogram, frequency and aggregate-view folds are not idempotent, so
  they mark their fold commit with a txn id and re-adopt a committed
  window in their ``recover`` step;
* :func:`check_current` stops a probe on a store that lags its base (an
  unfolded insert has no entry, so the probe would silently miss it)
  and names the refresh to run;
* :func:`check_not_rebuilding` refuses to fold into or serve from a
  store whose multi-step rebuild crashed (or is still running) part-way.

The join view (two bases, two windows) and the text index (its
``pending`` window is recorded before the fold) keep their own loops.
"""

from __future__ import annotations

import json
import os


def read(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def write(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def fold_window(
    spark, path: str, fold, key: str = "key", preimage: bool = False,
    recover=None, source=None, changes=None,
) -> int:
    """Fold the window ``st["base_version"] → cur`` into the store whose
    sidecar is ``path``; return ``cur``.

    ``fold(st, feed, cur)`` applies the change feed (keyed on the column
    named ``st[key]``, with update pre-images when ``preimage``) and may
    update ``st``. ``recover(st)`` runs first, on the sidecar as read;
    ``source(st)`` returns the sidecar naming ``base_root`` and the key
    when it is not the store's own; ``changes`` is this window's feed,
    already diffed by the caller."""
    from .table_format import current_version, read_changes

    st = read(path)
    if recover is not None:
        recover(st)
    src = st if source is None else source(st)
    cur = current_version(src["base_root"])
    if cur == st["base_version"]:
        return cur
    if changes is None:
        changes = read_changes(
            spark,
            src["base_root"],
            key=src[key],
            from_version=st["base_version"],
            to_version=cur,
            include_preimage=preimage,
        )
    fold(st, changes, cur)
    st["base_version"] = cur
    write(path, st)
    return cur


def check_current(st: dict, refresh: str) -> None:
    """Raise unless the store ``st`` describes has folded every base
    commit; ``refresh`` names the function that catches it up."""
    from .table_format import current_version

    cur = current_version(st["base_root"])
    if cur != st["base_version"]:
        raise ValueError(
            f"store at version {st['base_version']} but base is at {cur} "
            f"— unfolded changes would be silently missed; run {refresh}() "
            "first"
        )


def check_not_rebuilding(st: dict, repair: str) -> None:
    """A crashed rebuild may have committed rewritten rows while the
    sidecar still describes the OLD layout (centroids, edges, ...) —
    folding or probing against that mismatch is silently wrong, so every
    other entry point raises until ``repair`` is re-run to completion."""
    if st.get("rebuilding"):
        raise ValueError(
            "store rebuild in progress or crashed mid-way — re-run "
            f"{repair}() to complete the repair"
        )
