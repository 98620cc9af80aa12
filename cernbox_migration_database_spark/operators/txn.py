"""Multi-table atomic transactions over the versioned-table format.

Neither Delta nor Iceberg gives cross-table atomicity from the table
format alone — both push it up into a catalog with a single commit point
(Iceberg REST catalog multi-table commits; Delta's is still a roadmap
item). This module takes the same shape on top of
``operators/table_format.py``:

* a **catalog file** maps table name -> (root, version). Readers who want
  a cross-table-consistent view resolve versions through the catalog
  (:func:`catalog_table`); one ``os.replace`` of the catalog file is the
  single atomic visibility point for ALL tables in a transaction.
* each table write is **staged** with the existing write-audit-publish
  half-commit (``merge_into(..., publish=False)`` and friends): data and
  manifest fully materialized, pointer untouched. A staged commit HOLDS
  its table's version claim, so competing writers queue behind the
  transaction instead of interleaving — the per-table claims act as the
  transaction's locks. Always stage tables in a deterministic (sorted)
  order across writers; like any lock-ordering protocol, opposite-order
  staging of overlapping table sets can deadlock into claim-wait retries.
* commit writes a **write-ahead intent** (the list of staged versions,
  state=``committing``) with an atomic replace, publishes each staged
  table commit, swaps the catalog, then marks the intent ``committed``.
  A crash anywhere converges under :func:`recover`: intents still in
  ``staging`` roll BACK (claims released, nothing was visible); intents
  in ``committing`` roll FORWARD (publishes are idempotent, the catalog
  swap re-applies) — the classic presumed-abort/redo split.

Scale: everything here is driver-side metadata IO — O(#tables) small JSON
files per transaction, zero data bytes. On an object store the two
``os.replace`` points (intent, catalog) map to the same conditional-put
primitive the single-table pointer already needs (see table_format's
object-store notes); data staging is the existing COW/MOR machinery.

Extends the reference's surface (main.go's pipeline writes exactly one
table, main.go:217-240); a training-data pipeline routinely needs
"documents + shard manifest + dataset card move together".
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from . import store_state
from . import table_format as TF


def _txn_dir(catalog_path: str) -> str:
    return catalog_path + ".txn"


def create_catalog(catalog_path: str, tables: dict[str, str]) -> dict:
    """Enroll ``{name: table_root}`` at their CURRENT versions."""
    cat = {
        "seq": 1,
        "tables": {
            name: {"root": os.path.abspath(root),
                   "version": TF.current_version(root)}
            for name, root in tables.items()
        },
    }
    store_state.write(catalog_path, cat)
    return cat


def read_catalog(catalog_path: str) -> dict:
    return store_state.read(catalog_path)


def catalog_table(
    spark: SparkSession, catalog_path: str, name: str
) -> DataFrame:
    """Read one table AT ITS CATALOG VERSION. For a consistent view of
    SEVERAL tables use :func:`catalog_snapshot` — two separate
    catalog_table calls each re-read the catalog and can straddle a
    commit."""
    ent = read_catalog(catalog_path)["tables"][name]
    return TF.read_table(spark, ent["root"], version=ent["version"])


def catalog_snapshot(
    spark: SparkSession, catalog_path: str
) -> dict[str, DataFrame]:
    """Pin EVERY enrolled table at the versions of ONE catalog read — the
    cross-table-consistent view; version-pinned reads stay valid however
    many commits land afterwards (snapshot isolation per table)."""
    cat = read_catalog(catalog_path)
    return {
        name: TF.read_table(spark, ent["root"], version=ent["version"])
        for name, ent in cat["tables"].items()
    }


class MultiTableTxn:
    """Stage writes on several catalog tables, then commit them with one
    atomic visibility point. Use ``stage(name, fn)`` where ``fn(root)``
    performs a ``publish=False`` write and returns the staged version
    (e.g. ``lambda root: merge_into(spark, root, src, on="k",
    publish=False)``)."""

    def __init__(self, catalog_path: str):
        self.catalog_path = catalog_path
        self.txn_id = uuid.uuid4().hex[:12]
        self.staged: dict[str, int] = {}
        self._state = "staging"
        os.makedirs(_txn_dir(catalog_path), exist_ok=True)

    @property
    def _intent_path(self) -> str:
        return os.path.join(_txn_dir(self.catalog_path), f"{self.txn_id}.json")

    def _write_intent(self) -> None:
        cat = read_catalog(self.catalog_path)
        store_state.write(
            self._intent_path,
            {
                "txn_id": self.txn_id,
                "state": self._state,
                "staged": {
                    n: {"root": cat["tables"][n]["root"], "version": v}
                    for n, v in self.staged.items()
                },
            },
        )

    def stage(self, name: str, write_fn) -> int:
        """Run one table's staged write. The intent file is updated after
        every stage so a crash can always roll the claim back."""
        if self._state != "staging":
            raise ValueError(f"txn {self.txn_id} is {self._state}")
        if name in self.staged:
            raise ValueError(f"table {name!r} already staged in this txn")
        cat = read_catalog(self.catalog_path)
        if name not in cat["tables"]:
            raise KeyError(f"table {name!r} not enrolled in {self.catalog_path}")
        version = write_fn(cat["tables"][name]["root"])
        if not isinstance(version, int):
            raise TypeError(
                "write_fn must return the staged version number "
                "(did it run with publish=True?)"
            )
        self.staged[name] = version
        self._write_intent()
        return version

    def commit(self) -> dict[str, int]:
        """Publish every staged table commit and swap the catalog. The
        catalog replace is the atomicity point for catalog readers;
        per-table pointers advance one by one just before it (the same
        visibility order a reader of ONE table always had)."""
        if self._state != "staging":
            raise ValueError(f"txn {self.txn_id} is {self._state}")
        if not self.staged:
            raise ValueError("nothing staged")
        self._state = "committing"
        self._write_intent()
        _roll_forward(self.catalog_path, store_state.read(self._intent_path))
        self._state = "committed"
        self._write_intent()
        return dict(self.staged)

    def abort(self) -> None:
        """Release every staged claim; nothing was ever visible."""
        if self._state != "staging":
            raise ValueError(f"txn {self.txn_id} is {self._state}")
        _roll_back(store_state.read(self._intent_path)
                   if os.path.exists(self._intent_path)
                   else {"staged": {}})
        self._state = "aborted"
        if self.staged:
            self._write_intent()


def _publish_idempotent(root: str, version: int) -> None:
    log_entry = os.path.join(root, TF._LOG, f"v{version:08d}.json")
    try:
        TF.publish_staged(root, version)
    except (ValueError, FileNotFoundError):
        # roll-forward replay: already published by the crashed commit is
        # fine; anything else (competitor overtook a vacuumed stage) is not
        if not (
            os.path.exists(log_entry) and TF.current_version(root) >= version
        ):
            raise


class _CatalogLock:
    """mkdir-claim mutex for the catalog's read-modify-write: two txns on
    DISJOINT table sets never conflict on claims, so without this their
    concurrent catalog swaps would be a lost update. Held for the few ms
    of one JSON rewrite; a holder that died is broken after a grace
    period (the swap is atomic, so breaking a dead lock is safe).

    Every claim carries an **owner token** (pid+nonce file written right
    after the mkdir). The token is what makes breaking safe: a breaker
    only deletes a capture whose token IS the one it verified stale, so a
    fresh holder that re-claimed between the breaker's read and its
    capture is recognized by token mismatch and handed straight back; and
    ``__exit__`` only releases a claim whose token matches its own, so a
    displaced holder can never rmdir a new claimant's lock dir."""

    def __init__(self, catalog_path: str, timeout: float = 30.0,
                 stale_after: float = 60.0):
        self.path = catalog_path + ".lock"
        self.timeout = timeout
        self.stale_after = stale_after
        self._token: str | None = None

    def _read_claim(self, dirpath: str) -> tuple[str | None, float]:
        """(owner token, age seconds) of the claim at ``dirpath``; falls
        back to the dir's own mtime for the instant between a claimant's
        mkdir and its token write."""
        import time as _time

        tp = os.path.join(dirpath, "owner")
        try:
            with open(tp, encoding="utf-8") as fh:
                tok = fh.read()
            return tok, _time.time() - os.stat(tp).st_mtime
        except OSError:
            return None, _time.time() - os.stat(dirpath).st_mtime

    def __enter__(self):
        import time as _time

        deadline = _time.monotonic() + self.timeout
        while True:
            try:
                os.mkdir(self.path)
            except FileExistsError:
                try:
                    tok, age = self._read_claim(self.path)
                except OSError:
                    continue  # holder released under us; retry the mkdir
                if age > self.stale_after:
                    self._break_stale(tok)
                    continue
                if _time.monotonic() > deadline:
                    raise TimeoutError(f"catalog lock {self.path} held too long")
                _time.sleep(0.02)
            else:
                self._token = f"{os.getpid()}-{uuid.uuid4().hex}"
                with open(
                    os.path.join(self.path, "owner"), "w", encoding="utf-8"
                ) as fh:
                    fh.write(self._token)
                return self

    def _break_stale(self, seen_token: str | None) -> None:
        """Break the claim whose token we just verified stale, WITHOUT the
        stat→rmdir TOCTOU: capture it with one atomic rename to a unique
        tombstone (only one breaker can win the rename), then check the
        captured claim's token against ``seen_token``. Identity match +
        still-stale ⇒ it really is the dead claim — delete it. Any
        mismatch ⇒ the holder released and a FRESH claimant re-claimed
        between our read and the rename — hand the capture straight back
        untouched."""
        import shutil
        import time as _time

        tomb = f"{self.path}.tomb-{os.getpid()}-{_time.monotonic_ns()}"
        try:
            os.rename(self.path, tomb)
        except OSError:
            return  # holder released, or another breaker won the rename
        try:
            tok, age = self._read_claim(tomb)
        except OSError:
            tok, age = None, 0.0
        if tok != seen_token or age <= self.stale_after:
            try:
                os.rename(tomb, self.path)
            except OSError:
                # a waiter mkdir'd the freed path before the hand-back: the
                # displaced fresh holder keeps running, but its token-guarded
                # __exit__ will leave the new claimant's dir alone. Surface
                # the breach instead of hiding it.
                shutil.rmtree(tomb, ignore_errors=True)
                import warnings

                warnings.warn(
                    f"catalog lock {self.path}: displaced a fresh holder "
                    "during stale-break hand-back (token "
                    f"{tok!r}); its exit is token-guarded",
                    RuntimeWarning,
                    stacklevel=2,
                )
            return
        shutil.rmtree(tomb, ignore_errors=True)

    def __exit__(self, *exc):
        """Release by the same capture discipline as :meth:`_break_stale`:
        one atomic rename claims the dir, THEN the captured owner token is
        inspected. The old read-token-then-remove order had a TOCTOU — if
        this claim had gone stale, a breaker could capture-and-delete it
        and a new claimant re-claim the path between the owner read and
        the rmdir, so the displaced holder deleted the NEW claimant's lock
        dir. Renaming first makes the verdict and the deletion act on the
        same capture: a token mismatch hands the capture straight back."""
        import shutil
        import time as _time

        tomb = f"{self.path}.rel-{os.getpid()}-{_time.monotonic_ns()}"
        try:
            os.rename(self.path, tomb)
        except OSError:
            return  # our claim was broken away — nothing of ours to release
        try:
            with open(os.path.join(tomb, "owner"), encoding="utf-8") as fh:
                tok = fh.read()
        except OSError:
            tok = None
        if tok == self._token:
            shutil.rmtree(tomb, ignore_errors=True)
            return
        # we captured someone ELSE's live claim (ours was broken and the
        # path re-claimed) — hand it back untouched
        try:
            os.rename(tomb, self.path)
        except OSError:
            shutil.rmtree(tomb, ignore_errors=True)
            import warnings

            warnings.warn(
                f"catalog lock {self.path}: displaced a fresh holder "
                f"during release hand-back (token {tok!r}); its exit is "
                "token-guarded",
                RuntimeWarning,
                stacklevel=2,
            )


def _roll_forward(catalog_path: str, intent: dict) -> None:
    for name in sorted(intent["staged"]):
        ent = intent["staged"][name]
        _publish_idempotent(ent["root"], ent["version"])
    with _CatalogLock(catalog_path):
        cat = read_catalog(catalog_path)
        changed = False
        for name, ent in intent["staged"].items():
            if cat["tables"][name]["version"] < ent["version"]:
                cat["tables"][name]["version"] = ent["version"]
                changed = True
        if changed:
            cat["seq"] += 1
            store_state.write(catalog_path, cat)


def _roll_back(intent: dict) -> None:
    for name in sorted(intent.get("staged", {})):
        ent = intent["staged"][name]
        try:
            TF.abandon_staged(ent["root"], ent["version"])
        except ValueError:
            # already published (e.g. state file lagged a committed txn) —
            # leave it; recover() decides by state, not per table
            pass


def recover(catalog_path: str) -> dict[str, str]:
    """Converge every interrupted transaction: ``committing`` intents
    roll FORWARD (publishes + catalog swap are idempotent), ``staging``
    intents roll BACK (abandon the claims). Returns {txn_id: action}."""
    tdir = _txn_dir(catalog_path)
    actions: dict[str, str] = {}
    if not os.path.isdir(tdir):
        return actions
    for fn in sorted(os.listdir(tdir)):
        if not fn.endswith(".json") or fn.endswith(".tmp"):
            continue
        path = os.path.join(tdir, fn)
        intent = store_state.read(path)
        state = intent.get("state")
        if state == "committing":
            _roll_forward(catalog_path, intent)
            intent["state"] = "committed"
            store_state.write(path, intent)
            actions[intent["txn_id"]] = "rolled_forward"
        elif state == "staging":
            _roll_back(intent)
            intent["state"] = "aborted"
            store_state.write(path, intent)
            actions[intent["txn_id"]] = "rolled_back"
    return actions
