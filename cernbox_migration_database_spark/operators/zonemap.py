"""Per-partition zone maps (min/max bounds) for range-pruned scans.

The range-predicate companion to the Bloom pruning index (bloomindex.py):
where the bloom answers "may this partition contain key = ?", the zone map
answers "may this partition contain col BETWEEN lo AND hi" from one
(min, max, has_null) triple per partition — exactly what Iceberg manifests
and parquet row-group footers keep, lifted to partition granularity so the
planning happens DRIVER-SIDE on a KiB-sized sidecar before any file is
listed.

Scale properties, same contract as the bloom index:

* The whole map is ``n_partitions x 1`` bound rows of metadata; building
  it is one (partition, min, max) aggregate — map-side combinable, the
  collect bounded by partition count.
* Maintenance is WIDEN-ONLY from the change feed: insert/update
  post-images can only widen a partition's bounds (O(changed rows), no
  shuffle beyond the CDF diff). Deletes are no-ops — bounds stay wide, a
  pruned read admits a partition that no longer has matching rows (false
  positive), never skips one that does. Rebuild after heavy deletion or a
  compact to re-tighten.
* Widen-only means pruning decays SILENTLY: bounds never shrink, so a
  churned table's zones converge toward "everything overlaps" while
  every scan stays correct. :func:`zone_debt_report` meters that slack
  against the per-file column stats the snapshot MANIFEST already holds
  (metadata-only — no data read), and :func:`rebuild_zone_map` is the
  priced repair; both register in ``maintenance.plan_maintenance(
  drift_stores=)`` next to the hist/ivf/ivfpq stores (r11 verdict 1).
* Works for any orderable column the partition scheme does NOT cover —
  the classic case: date-partitioned facts, zone-mapped on a monotone-ish
  id or amount, so both time ranges (partition pruning) and value ranges
  (zone pruning) skip data.

Bounds are stored as JSON-native values; supported column types are the
ones whose Python collect round-trips exactly (int, float, str) — pinned
by a type check at build time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_state
from .table_format import _HIVE_NULL, current_version, partition_scheme, read_table

_SUPPORTED_PREFIXES = (
    "int",
    "bigint",
    "smallint",
    "tinyint",
    "float",
    "double",
    "decimal",
    "string",
    "date",
)


def _check_col_type(df: DataFrame, col: str) -> str:
    t = dict(df.dtypes).get(col)
    if t is None:
        raise ValueError(f"column {col!r} not in {df.columns}")
    if not t.startswith(_SUPPORTED_PREFIXES):
        raise ValueError(
            f"zone map on {col!r} of type {t} unsupported — bounds must "
            "JSON-round-trip exactly (int/float/decimal/string/date)"
        )
    return t


def _norm(v):
    """JSON-native form of a bound (date/Decimal -> str)."""
    if v is None:
        return None
    return v if isinstance(v, (int, float, str)) else str(v)


def _bounds(df: DataFrame, col: str, part_col: str) -> dict:
    rows = (
        df.select(
            F.col(part_col).cast("string").alias("__p"), F.col(col).alias("__c")
        )
        .groupBy("__p")
        .agg(
            F.min("__c").alias("lo"),
            F.max("__c").alias("hi"),
            F.max(F.col("__c").isNull().cast("int")).alias("has_null"),
        )
        .collect()
    )
    return {
        r["__p"]: {
            "lo": _norm(r["lo"]),
            "hi": _norm(r["hi"]),
            "has_null": bool(r["has_null"]),
        }
        for r in rows
    }


def create_zone_map(
    spark: SparkSession, base_root: str, index_path: str, col: str, key: str
) -> int:
    """Build per-partition (min, max, has_null) of ``col`` at the base's
    current version. ``key`` is the table's merge key — the refresh diffs
    the change feed on it. One aggregate scan; the sidecar is
    partition-count rows of JSON. Returns the indexed base version."""
    part_col = partition_scheme(base_root)
    if not part_col or not isinstance(part_col, str):
        raise ValueError(
            "zone map requires a single-column-partitioned base table, "
            f"got partition scheme {part_col!r}"
        )
    base_v = current_version(base_root)
    base = read_table(spark, base_root, base_v)
    _check_col_type(base, col)
    st = {
        "base_root": base_root,
        "base_version": base_v,
        "col": col,
        "key": key,
        "part_col": part_col,
        "zones": {
            ("\x00null" if p is None else p): b
            for p, b in _bounds(base, col, part_col).items()
        },
    }
    store_state.write(index_path, st)
    return base_v


def refresh_zone_map(spark: SparkSession, index_path: str) -> int:
    """Widen bounds from the base change feed: insert/update post-images
    fold in via min/max merge; deletes are no-ops by design (bounds stay
    wide — false-positive partition reads, never misses)."""

    def fold(st, ch, cur):
        adds = ch.where(F.col("_change_type").isin("insert", "update"))
        for p, b in _bounds(adds, st["col"], st["part_col"]).items():
            key = "\x00null" if p is None else p
            cur_b = st["zones"].get(key)
            if cur_b is None:
                st["zones"][key] = b
                continue
            if b["lo"] is not None and (cur_b["lo"] is None or b["lo"] < cur_b["lo"]):
                cur_b["lo"] = b["lo"]
            if b["hi"] is not None and (cur_b["hi"] is None or b["hi"] > cur_b["hi"]):
                cur_b["hi"] = b["hi"]
            cur_b["has_null"] = cur_b["has_null"] or b["has_null"]

    return store_state.fold_window(spark, index_path, fold)


def range_prune_scan(
    spark: SparkSession, index_path: str, lo, hi
) -> DataFrame:
    """Scan ``col BETWEEN lo AND hi`` reading only partitions whose zone
    overlaps the range (driver-side interval test on the sidecar). The
    returned plan carries both the partition filter and the range filter,
    so file listing is already restricted before parquet row-group stats
    prune further.

    Raises if the base has committed versions the map has not folded:
    widen-only safety covers DELETES only — an unfolded insert may have
    widened a partition's true bounds (or created a partition with no
    zone at all), and pruning with the stale map would silently MISS
    those rows. Refresh first; the fold is O(changed rows)."""
    st = store_state.read(index_path)
    store_state.check_current(st, "refresh_zone_map")
    nlo, nhi = _norm(lo), _norm(hi)
    parts = [
        p
        for p, b in st["zones"].items()
        if b["lo"] is not None
        and b["hi"] is not None
        and not (b["hi"] < nlo or b["lo"] > nhi)
    ]
    base = read_table(spark, st["base_root"])
    pc = F.col(st["part_col"]).cast("string")
    pred = pc.isin([p for p in parts if p != "\x00null"])
    if "\x00null" in parts:
        pred = pred | F.col(st["part_col"]).isNull()
    return base.where(pred & F.col(st["col"]).between(lo, hi))


def zone_debt_report(
    index_path: str,
    slack_threshold: float = 0.5,
    stale_fraction_threshold: float = 0.25,
) -> dict:
    """Staleness-debt meter for the widen-only map (r11 verdict item 1):
    bounds never shrink, so deletions and churn silently widen the gap
    between what a zone CLAIMS a partition may hold and what its files
    actually hold — every range scan stays correct but prunes less,
    until the map admits everything. Metadata-only: the truth comes from
    the per-file column stats the snapshot MANIFEST already records
    (table_format._write_manifest), so the report reads two sidecars and
    no data.

    Per partition, actual bounds = min/max of the manifest's file stats
    for the zoned column; a partition is **stale** when

    * its zone claims a numeric range more than ``slack_threshold``
      wider than the actual range (slack = 1 − actual_width/zone_width),
      or its non-numeric bounds are strictly wider than actual, or
    * it no longer exists in the snapshot at all (retired partition
      still admitting range scans).

    Partitions whose files lack usable stats for the column are reported
    (``unknown``) but never counted stale. ``drifted`` when the stale
    fraction crosses the threshold; the repair is
    :func:`rebuild_zone_map` — one aggregate scan, priced and executed
    by ``maintenance.apply_maintenance``."""
    from .table_format import manifest

    st = store_state.read(index_path)
    cur = current_version(st["base_root"])
    col, part_col = st["col"], st["part_col"]
    prefix = part_col + "="
    actual: dict = {}
    unknown: set = set()
    for e in manifest(st["base_root"], cur):
        path = e.get("path", "")
        if "/" not in path or not path.startswith(prefix):
            continue
        pval = path.split("/", 1)[0][len(prefix):]
        if pval == _HIVE_NULL:
            pval = "\x00null"
        b = (e.get("stats") or {}).get(col)
        if b is None:
            unknown.add(pval)
            continue
        lo, hi = _norm(b[0]), _norm(b[1])
        cb = actual.get(pval)
        if cb is None:
            actual[pval] = [lo, hi]
        else:
            cb[0], cb[1] = min(cb[0], lo), max(cb[1], hi)
    stale: dict = {}
    for p, zb in st["zones"].items():
        if zb["lo"] is None or zb["hi"] is None:
            continue
        if p in unknown:
            continue
        ab = actual.get(p)
        if ab is None:
            stale[p] = "retired: partition no longer in snapshot"
            continue
        zlo, zhi = zb["lo"], zb["hi"]
        alo, ahi = ab
        if isinstance(zlo, (int, float)) and isinstance(zhi, (int, float)):
            zw = float(zhi) - float(zlo)
            aw = float(ahi) - float(alo)
            slack = 0.0 if zw <= 0 else max(0.0, 1.0 - aw / zw)
            if slack > slack_threshold:
                stale[p] = f"slack {slack:.3f}: zone [{zlo}, {zhi}] vs " \
                           f"actual [{alo}, {ahi}]"
        elif alo > zlo or ahi < zhi:
            stale[p] = f"zone [{zlo}, {zhi}] wider than actual " \
                       f"[{alo}, {ahi}]"
    n_zones = len(st["zones"])
    rep = {
        "n_partitions": n_zones,
        "base_version": st["base_version"],
        "current_base_version": cur,
        "stale_partitions": dict(sorted(stale.items())),
        "unknown_partitions": sorted(unknown),
        "stale_fraction": round(len(stale) / n_zones, 6) if n_zones
        else 0.0,
        "slack_threshold": slack_threshold,
        "stale_fraction_threshold": stale_fraction_threshold,
    }
    rep["drifted"] = rep["stale_fraction"] > stale_fraction_threshold
    rep["action"] = "rebuild_zone_map" if rep["drifted"] else None
    return rep


def rebuild_zone_map(spark: SparkSession, index_path: str) -> int:
    """Re-tighten every bound from the base's CURRENT snapshot under the
    map's own recorded column/key — the repair :func:`zone_debt_report`
    prescribes. One aggregate scan; retired partitions drop out."""
    st = store_state.read(index_path)
    return create_zone_map(
        spark, st["base_root"], index_path, col=st["col"], key=st["key"]
    )
