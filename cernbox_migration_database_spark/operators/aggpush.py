"""Aggregate pushdown into table metadata: COUNT/MIN/MAX answered from
the manifest sidecar, with a pruned scan ONLY where metadata cannot be
exact.

``SELECT part, count(*), min(x), max(x) ... GROUP BY part`` on a 100 TB
snapshot does not need to touch a single data byte when the manifest
already carries per-file row counts, null counts, and column bounds —
the Iceberg/Delta "answer from snapshot metadata" planning move
(reference scope: the scan+aggregate surface of main.go:86-119,
re-planned against this format's commit metadata). Planning is one
KiB-sized manifest read; the cluster runs zero jobs for partitions whose
metadata is exact.

Exactness is decided PER PARTITION, per metric, and anything uncertain
degrades to a manifest-planned pruned scan of just that partition —
extra IO, never a wrong answer:

* ``count(*)`` — per-file row counts minus the partition's deletion-
  vector tombstones. Exact even for merge-on-read partitions (the dv
  counts are exact), so the count almost never scans.
* ``count(col)`` — rows minus per-file null counts; needs every file to
  carry a null count for the column and the partition to hold no
  tombstones (a tombstoned row's nullness is unknown to the manifest).
* ``min/max(col)`` — folded from per-file bounds; needs zero tombstones
  (the extremum itself may be deleted), and every file must either carry
  bounds for the column or be provably all-null for it (null count ==
  rows — parquet bounds describe non-null values, exactly like SQL
  MIN/MAX, so an all-null file contributes nothing). Three landmines
  make a file's bounds "present but not exact", and each one forces the
  scan path instead:
  - string bounds whose min is the empty string: writers OMIT a stats
    value over their 4096-byte cap and readers surface the omitted side
    as ``''`` — indistinguishable from a genuine empty-string minimum,
    so it prunes fine but can never be served as an exact MIN
    (an omitted max is never recorded at all, table_format._file_stats);
  - float bounds when NaN may be present: Spark's MAX returns NaN while
    footer bounds ignore it. Writers that follow PARQUET-1246 (Spark's
    parquet-java does — pinned in tests) omit float stats entirely when
    a NaN was written, which lands in the scan path by the missing-stats
    rule; a NaN leaking INTO a recorded bound is rejected here;
  - a pre-stats manifest entry (no ``rows``) answers nothing.

Results are bit-identical to running the aggregation over
``read_table`` — the differential oracle in the catalog pins that, and
the pytest proves the no-IO claim by corrupting a clean partition's
data files and still getting the right answer.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from . import table_format as TF

def _exact_bounds(e: dict, col: str):
    """A file's [min, max] for ``col`` as EXACT attained values, or the
    sentinel ``"all_null"`` (contributes nothing to MIN/MAX), or None
    when the manifest cannot vouch for exactness."""
    rows = e.get("rows")
    if rows is None:
        return None
    if rows == 0:
        return "all_null"  # zero-row part file: nothing to contribute
    nulls = (e.get("nulls") or {}).get(col)
    if nulls is not None and nulls == rows:
        return "all_null"
    st = (e.get("stats") or {}).get(col)
    if st is None:
        return None
    lo, hi = st
    if isinstance(lo, str) and lo == "":
        return None  # omitted-vs-genuine '' min is undecidable (module doc)
    if isinstance(lo, float) and (math.isnan(lo) or math.isnan(hi)):
        return None
    return lo, hi


def partition_agg(
    spark: SparkSession,
    root: str,
    cols: list[str] | tuple[str, ...] = (),
    count_cols: list[str] | tuple[str, ...] = (),
    version: int | None = None,
    report: dict | None = None,
) -> DataFrame:
    """Per-partition ``n_rows`` + ``min_<c>``/``max_<c>`` (for ``cols``)
    + ``cnt_<c>`` non-null counts (for ``count_cols``), grouped by the
    table's partition columns (a global one-row aggregate for an
    unpartitioned table). Partitions whose manifest metadata is exact for
    EVERY requested metric are answered driver-side with zero data IO;
    the rest are read through the manifest-planned pruned scan and
    aggregated by Spark — the union is what a full-scan GROUP BY would
    return, which the caller's oracle can hold it to. Pass ``report={}``
    to receive ``{"metadata": [rels], "scanned": [rels]}`` planning
    evidence (the pytest no-IO proof uses it)."""
    v = TF.current_version(root) if version is None else version
    entries = TF.manifest(root, v)
    dv = TF._dv_counts(TF._vdir(root, v))
    _, _, pcols, _ = TF._snapshot_reader(spark, root, v)

    by_rel: dict[str, list[dict]] = {}
    for e in entries:
        by_rel.setdefault(os.path.dirname(e["path"]), []).append(e)

    # the scan-side aggregation doubles as the output schema contract
    def scan_agg(df: DataFrame) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in cols:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        aggs += [F.count(c).alias(f"cnt_{c}") for c in count_cols]
        return df.groupBy(*pcols).agg(*aggs)

    schema = scan_agg(TF.read_table(spark, root, v).limit(0)).schema

    meta_rows: list[Row] = []
    scan_rels: list[str] = []
    for rel, files in sorted(by_rel.items()):
        deleted = dv.get(rel, 0)
        out = TF._rel_values(rel, pcols)
        ok = all("rows" in e for e in files)
        n = sum(e.get("rows", 0) for e in files) - deleted
        out["n_rows"] = n
        # min/max and count(col) need a tombstone-free partition: a dv
        # may have deleted the extremum / a counted non-null row
        clean = ok and deleted == 0
        for c in cols:
            lo = hi = None
            for e in files if clean else ():
                b = _exact_bounds(e, c)
                if b is None:
                    clean = False
                    break
                if b == "all_null":
                    continue
                lo = b[0] if lo is None else min(lo, b[0])
                hi = b[1] if hi is None else max(hi, b[1])
            out[f"min_{c}"], out[f"max_{c}"] = lo, hi
        for c in count_cols:
            nn = 0
            for e in files if clean else ():
                if e["rows"] == 0:
                    continue
                nulls = (e.get("nulls") or {}).get(c)
                if nulls is None:
                    clean = False
                    break
                nn += e["rows"] - nulls
            out[f"cnt_{c}"] = nn
        if not clean:
            scan_rels.append(rel)
        elif n > 0 or not pcols:
            # n == 0 partitions match GROUP BY semantics: no group row
            meta_rows.append(Row(**{f.name: out.get(f.name) for f in schema}))

    if report is not None:
        report["metadata"] = [r for r in sorted(by_rel) if r not in scan_rels]
        report["scanned"] = list(scan_rels)

    # partition values parsed from hive dirs are strings; build the
    # metadata frame string-keyed and cast to the discovered partition
    # types — the same string->type coercion Spark's own partition
    # discovery performs on the scan side
    import pyspark.sql.types as T

    str_schema = T.StructType(
        [
            T.StructField(f.name, T.StringType() if f.name in pcols else f.dataType)
            for f in schema
        ]
    )
    meta_df = spark.createDataFrame(meta_rows, str_schema).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema]
    )
    if not scan_rels:
        return meta_df
    # an unpartitioned table has the single rel '' — there is nothing to
    # prune, so its dirty case is a plain snapshot read
    src = (
        TF.read_table(spark, root, v)
        if scan_rels == [""]
        else TF.scan_partitions(spark, root, scan_rels, version=v)
    )
    return meta_df.unionByName(scan_agg(src))
