"""The JSON sidecar every change-feed-maintained store keeps.

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
* :func:`check_not_rebuilding` refuses to fold into or serve from a
  store whose multi-step rebuild crashed (or is still running) part-way.
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
