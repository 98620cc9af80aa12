"""The versioned table as a first-class Spark DATA SOURCE — format
``cbxtable`` — via the Python DataSource API (Spark 4).

``operators/table_format.py`` gives the engine a lakehouse table; this
module plugs that table into Spark's own source contract, so anything
that speaks ``spark.read.format(...)`` / ``spark.readStream.format(...)``
— SQL ``CREATE TABLE ... USING``, third-party tooling, the streaming
runtime — can consume it without knowing our Python API:

* **Batch read** (:class:`CbxTableReader`): planned ENTIRELY from the
  commit log + manifest — one metadata file read, zero directory
  listings (the thing that dominates planning cost on an object store at
  100k files). One Spark task per data file; each task reads its file
  with pyarrow and streams Arrow record batches straight into the scan
  (the zero-copy path of the Python data source API). Snapshot options:
  ``version`` / ``timestamp`` give time travel through the standard
  reader options.
* **Filter pushdown** (:meth:`CbxTableReader.pushFilters`): partition
  values prune whole directories; the manifest's per-file min/max column
  bounds (our zone maps) skip files WITHIN partitions — the same
  two-level pruning ``scan_partitions`` does, surfaced through Spark's
  own pushdown protocol. Every filter is also RETURNED to Spark (the
  API's "unsupported" channel), so Spark re-applies them post-scan:
  pruning can only skip files, never change results — a conservative
  bug in the bounds logic degrades to reading more, never to wrong rows.
* **Streaming source** (:class:`CbxTableStreamReader`): the table's
  commit log as a microbatch stream — offsets ARE version numbers, each
  batch is the data files NEW in the commits between two versions
  (computed as a manifest diff, again metadata-only). Exactly the
  Delta-streaming-source contract: append commits stream; a commit that
  removes files or adds deletion vectors is a CHANGE commit and raises,
  unless ``skipChangeCommits`` (skip it) or ``ignoreChanges`` (emit just
  its appended files) says otherwise. ``startingVersion`` (a number or
  ``earliest``) backfills history; the default streams only commits
  after the query starts.

The native :func:`...table_format.read_table` remains the hot batch path
(JVM parquet scan, whole-stage codegen); this connector is the
ECOSYSTEM path — its per-file work crosses the Python worker boundary
as Arrow batches, which is the fast lane of that boundary but still a
boundary. The design scales the same way the native path does: planning
is O(#files) metadata on the driver, reading is one independent task
per file, and pruning happens before any task launches.

Reference parity: the reference CLI reads its source table in one full
scan (main.go:86-97); this module is the generalization of that scan
into a pluggable source with snapshots, pruning, and a change stream.
"""

from __future__ import annotations

import json
import os
from typing import Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import DoubleType, FloatType, StructField, StructType


# ---------------------------------------------------------------------------
# Driver-side snapshot metadata (no SparkSession — the DataSource API's
# schema()/partitions() hooks run on the driver outside any session scope).


def _snapshot_meta(root: str, v: int):
    """(entries<=v, logical cols, pcols, active renames, last schema_json)."""
    from ..operators import table_format as TF

    entries = [e for e in TF.history(root) if e["version"] <= v]
    if not entries:
        raise FileNotFoundError(f"no committed version <= {v} at {root}")
    state = TF._carried_state(entries)
    _, renames = TF._since_reset(entries)
    return (
        entries,
        state["columns"],
        TF._part_cols(state["partition_by"]),
        renames,
        state.get("schema_json"),
    )


def _rename_chain_names(logical: str, renames) -> list[str]:
    """All physical names a file might carry for ``logical``, newest
    first: the logical name itself, then each pre-rename ancestor
    (walking the active chain backwards — rename a→b→c means a file may
    carry c, b, or a)."""
    names = [logical]
    cur = logical
    for old, new in reversed(list(renames)):
        if new == cur:
            names.append(old)
            cur = old
    return names


def _infer_pcol_type(vals: list[str]):
    """Replicate Spark's hive partition-value type inference (int → long
    → double → date → string) over the snapshot's actual directory
    values. This MUST mirror what ``spark.read.parquet`` on the version
    directory infers, or the connector's schema would diverge from the
    native :func:`read_table` on numeric-looking partition values
    (Spark reads ``p=0/p=1`` back as INT even when the writer's column
    was string)."""
    import datetime

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
    )

    vals = [v for v in vals if v is not None]
    if not vals:
        return StringType()

    def all_parse(fn) -> bool:
        try:
            for x in vals:
                fn(x)
            return True
        except (ValueError, OverflowError):
            return False

    if all_parse(int):
        ints = [int(x) for x in vals]
        if all(-(2**31) <= i < 2**31 for i in ints):
            return IntegerType()
        if all(-(2**63) <= i < 2**63 for i in ints):
            return LongType()
        return StringType()
    if all_parse(float):
        return DoubleType()
    if all_parse(datetime.date.fromisoformat):
        return DateType()
    return StringType()


def _logical_schema(root: str, v: int) -> StructType:
    """The snapshot's logical schema, assembled from the commit log's
    recorded ``schema_json`` (mapped through active renames), the hive
    partition-value inference for partition columns (matching the native
    read), and — for columns added by schema-evolving COW merges, which
    record only the name — from the first manifest file footer that
    carries the column."""
    from ..operators import table_format as TF

    _entries, cols, pcols, renames, sj = _snapshot_meta(root, v)
    fields: dict[str, StructField] = {}
    if sj is not None:
        for f in StructType.fromJson(json.loads(sj)).fields:
            fields[f.name] = f
        for old, new in renames:
            if old in fields and new not in fields:
                fields[new] = StructField(new, fields.pop(old).dataType, True)
    cols = list(cols or fields)
    missing = [c for c in cols if c not in fields]
    if missing:
        from pyspark.sql.pandas.types import from_arrow_type

        import pyarrow.parquet as pq

        vdir = TF._vdir(root, v)
        for e in TF.manifest(root, v):
            if not missing:
                break
            try:
                sch = pq.read_schema(os.path.join(vdir, e["path"]))
            except Exception:
                continue
            for c in list(missing):
                for phys in _rename_chain_names(c, renames):
                    if phys in sch.names:
                        fields[c] = StructField(
                            c, from_arrow_type(sch.field(phys).type), True
                        )
                        missing.remove(c)
                        break
    still = [c for c in cols if c not in fields]
    if still:
        raise ValueError(
            f"cannot resolve a type for column(s) {still} of {root}@v{v} "
            f"(no schema_json and no data file carries them)"
        )
    if pcols:
        by_col: dict[str, list] = {c: [] for c in pcols}
        for e in TF.manifest(root, v):
            for c, raw in TF._rel_values(e["path"], pcols).items():
                by_col[c].append(raw)
        for c in pcols:
            if c in fields and by_col[c]:
                fields[c] = StructField(c, _infer_pcol_type(by_col[c]), True)
    return StructType([fields[c] for c in cols])


def _parse_pv(raw: str | None, dt):
    """A raw hive partition-value string as a typed Python value (None
    stays None). Unparseable values raise — a partition directory that
    does not parse as its declared type is corruption, not data."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    if raw is None:
        return None
    if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        return int(raw)
    if isinstance(dt, (FloatType, DoubleType)):
        return float(raw)
    if isinstance(dt, DecimalType):
        import decimal

        return decimal.Decimal(raw)
    if isinstance(dt, BooleanType):
        return raw.lower() == "true"
    if isinstance(dt, DateType):
        import datetime

        return datetime.date.fromisoformat(raw)
    if isinstance(dt, StringType):
        return raw
    raise ValueError(f"unsupported partition column type {dt}")


# ---------------------------------------------------------------------------
# Pruning: conservative could-this-file/partition-match tests. Every
# "False" skips IO; every doubt returns True (Spark re-applies all
# filters post-scan, so keeping too much is only cost, never corruption).


def _comparable(a, b) -> bool:
    num = (int, float)
    if isinstance(a, bool) != isinstance(b, bool):
        return False
    if isinstance(a, num) and isinstance(b, num):
        return True
    return type(a) is type(b)


def _pv_matches(f: Filter, val) -> bool:
    """May a partition with value ``val`` contain rows matching ``f``?"""
    try:
        if isinstance(f, IsNull):
            return val is None
        if isinstance(f, IsNotNull):
            return val is not None
        if isinstance(f, EqualNullSafe):
            if val is None or f.value is None:
                return val is None and f.value is None
            return _pv_matches(EqualTo(f.attribute, f.value), val)
        if val is None:
            return False  # no comparison matches NULL
        if isinstance(f, EqualTo):
            return not _comparable(val, f.value) or val == f.value
        if isinstance(f, In):
            vals = [x for x in f.value if _comparable(val, x)]
            return len(vals) < len(list(f.value)) or val in vals
        if isinstance(f, GreaterThan):
            return not _comparable(val, f.value) or val > f.value
        if isinstance(f, GreaterThanOrEqual):
            return not _comparable(val, f.value) or val >= f.value
        if isinstance(f, LessThan):
            return not _comparable(val, f.value) or val < f.value
        if isinstance(f, LessThanOrEqual):
            return not _comparable(val, f.value) or val <= f.value
        if isinstance(f, StringStartsWith):
            return not isinstance(val, str) or val.startswith(f.value)
    except TypeError:
        return True
    return True  # unknown filter shape: never prune on it


def _bounds_match(f: Filter, lo, hi) -> bool:
    """May a file whose column spans [lo, hi] contain rows matching
    ``f``? (min/max say nothing about nulls: IsNull never prunes here.)"""
    try:
        if isinstance(f, EqualTo) or (
            isinstance(f, EqualNullSafe) and f.value is not None
        ):
            return not _comparable(lo, f.value) or lo <= f.value <= hi
        if isinstance(f, In):
            vals = [x for x in f.value if _comparable(lo, x)]
            return len(vals) < len(list(f.value)) or any(
                lo <= x <= hi for x in vals
            )
        if isinstance(f, GreaterThan):
            return not _comparable(hi, f.value) or hi > f.value
        if isinstance(f, GreaterThanOrEqual):
            return not _comparable(hi, f.value) or hi >= f.value
        if isinstance(f, LessThan):
            return not _comparable(lo, f.value) or lo < f.value
        if isinstance(f, LessThanOrEqual):
            return not _comparable(lo, f.value) or lo <= f.value
        if isinstance(f, StringStartsWith) and isinstance(lo, str):
            p = f.value
            return lo[: len(p)] <= p <= hi[: len(p)]
    except TypeError:
        return True
    return True


class _FilePart(InputPartition):
    """One data file — or one row-group RANGE of a file — = one Spark
    task. Carries everything the executor needs so read() never touches
    the commit log. ``rgs``/``row_start`` implement row-group splitting:
    a compacted 1-file partition at 100 TB must not become one multi-GB
    straggler task, so planning chunks the manifest's recorded row-group
    geometry into ~target-byte tasks; ``row_start`` re-bases the file's
    deletion-vector positions (file-relative row indices) onto the range
    this task actually reads."""

    def __init__(
        self, file, rel, part_vals, dv_files, rgs=None, row_start=0, size=0
    ):
        self.file = file
        self.rel = rel
        self.part_vals = part_vals  # {pcol: raw string | None}
        self.dv_files = dv_files  # tombstone parquet files for its dir
        self.rgs = rgs  # row-group indices to read, or None = whole file
        self.row_start = row_start  # first file-relative row of the range
        self.size = size  # manifest bytes (whole files; coalescing input)


class _MultiPart(InputPartition):
    """Several SMALL files bundled into one Spark task. The per-task cost
    of the Python DataSource path (worker round trip, Arrow serializer
    setup) is paid per task regardless of bytes, so a 100k-small-file
    table must not launch 100k Python tasks — the same reason Spark's own
    FileScan packs splits up to maxPartitionBytes. Bundles keep manifest
    order, so partition locality (and therefore DV dir reuse) is
    preserved."""

    def __init__(self, parts: tuple):
        self.parts = parts


def _coalesce_parts(parts: list, target_bytes: int) -> list:
    """Bin-pack consecutive whole-file parts into <= target_bytes
    bundles. Row-group-split parts are already ~target-sized and pass
    through unbundled; a bundle of one stays a bare _FilePart."""
    out: list = []
    cur: list = []
    cur_bytes = 0

    def flush():
        nonlocal cur, cur_bytes
        if len(cur) == 1:
            out.append(cur[0])
        elif cur:
            out.append(_MultiPart(tuple(cur)))
        cur, cur_bytes = [], 0

    for p in parts:
        if p.rgs is not None or not p.size:
            flush()
            out.append(p)
            continue
        if cur and cur_bytes + p.size > target_bytes:
            flush()
        cur.append(p)
        cur_bytes += p.size
    flush()
    return out


def _read_file_batches(part: _FilePart, arrow_schema, renames, pcols):
    """Executor-side file read → Arrow record batches shaped EXACTLY to
    the scan's arrow schema: tombstoned rows dropped, physical names
    mapped through the rename chain, absent columns (files written before
    a schema-evolving commit) filled with nulls, partition columns
    attached as typed constants, every column cast to the declared type.

    Column pruning happens AT the parquet read: only the physical columns
    the scan schema resolves to are decoded (one footer read names the
    file's columns first), so renamed-away/dropped physical columns —
    and, under the ``columns`` read option, every deselected logical
    column — never pay decode or Arrow-conversion cost."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import from_arrow_type

    pf = pq.ParquetFile(part.file)
    fcols = set(pf.schema_arrow.names)
    needed: list[str] = []
    for field in arrow_schema:
        if field.name in part.part_vals:
            continue
        for phys in _rename_chain_names(field.name, renames):
            if phys in fcols:
                needed.append(phys)
                break
    if needed:
        if part.rgs is None:
            tbl = pf.read(columns=needed)
        else:
            tbl = pf.read_row_groups(list(part.rgs), columns=needed)
    else:
        # nothing physical to decode (all-partition/null projection):
        # the row count still comes from the footer, for free
        tbl = None
        if part.rgs is None:
            _n_rows = pf.metadata.num_rows
        else:
            _n_rows = sum(
                pf.metadata.row_group(i).num_rows for i in part.rgs
            )
    n0 = tbl.num_rows if tbl is not None else _n_rows
    if part.dv_files:
        dv = pa.concat_tables(
            [pq.read_table(f, columns=["file", "pos"]) for f in part.dv_files]
        )
        pos = dv.filter(pc.equal(dv["file"], part.rel)).column("pos").to_pylist()
        # DV positions are file-relative; keep only those landing inside
        # this task's row-group range, re-based to range-relative indices
        lo, hi = part.row_start, part.row_start + n0
        pos = [p - lo for p in pos if lo <= p < hi]
        if pos:
            import numpy as np

            mask = np.ones(n0, dtype=bool)
            mask[np.asarray(pos, dtype=np.int64)] = False
            if tbl is not None:
                tbl = tbl.filter(pa.array(mask))
            n0 -= len(pos)
    n = tbl.num_rows if tbl is not None else n0
    arrays = []
    for field in arrow_schema:
        if field.name in part.part_vals:
            typed = _parse_pv(
                part.part_vals[field.name], from_arrow_type(field.type)
            )
            # C-level constant column — a [typed] * n Python list costs
            # per-row Python object churn on every million-row task
            arrays.append(pa.repeat(pa.scalar(typed, type=field.type), n))
            continue
        col = None
        if tbl is not None:
            for phys in _rename_chain_names(field.name, renames):
                if phys in tbl.column_names:
                    col = tbl.column(phys)
                    break
        if col is None:
            arrays.append(pa.nulls(n, type=field.type))
        else:
            arrays.append(
                col.cast(field.type) if col.type != field.type else col
            )
    out = pa.table(dict(zip(arrow_schema.names, arrays)))
    yield from out.to_batches()


# ---------------------------------------------------------------------------
# Batch reader.


class CbxTableReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._root = root
        self._schema = schema
        self._arrow_schema = to_arrow_schema(schema)
        v = _resolve_version(root, options)
        self._v = v
        _entries, _cols, pcols, renames, _sj = _snapshot_meta(root, v)
        self._pcols = pcols
        self._renames = [list(r) for r in renames]
        self._filters: list[Filter] = []
        # row-group task splitting: on by default; splitRowGroups=false
        # disables, targetSplitBytes tunes the per-task byte target.
        # coalesceFiles=false disables small-file task packing (same
        # byte target).
        self._target_bytes = int(
            options.get("targetsplitbytes", _DEFAULT_SPLIT_BYTES)
        )
        self._split_bytes: int | None = self._target_bytes
        if not _opt_bool_default(options, "splitrowgroups", True):
            self._split_bytes = None
        self._coalesce = _opt_bool_default(options, "coalescefiles", True)

    def pushFilters(self, filters: list[Filter]) -> Iterable[Filter]:
        # keep every filter for pruning, hand every filter BACK to Spark
        # for post-scan re-application: pruning is pure skipping
        self._filters = [
            f for f in filters if getattr(f, "attribute", None) is not None
        ]
        return filters

    def partitions(self) -> Sequence[InputPartition]:
        parts, _skipped = _plan_files(
            self._root,
            self._v,
            self._filters,
            self._schema,
            split_bytes=self._split_bytes,
        )
        if self._coalesce:
            # small-file coalescing (coalesceFiles=false disables): the
            # Python-task constant is paid per task, so pack small files —
            # but never below the cluster's parallelism. Same formula as
            # Spark's FilePartition.maxSplitBytes: the effective target is
            # min(configured target, max(open-cost, total/parallelism)),
            # so a small table still fans out while a 100k-file table
            # packs toward the byte target.
            whole = sum(p.size for p in parts if p.rgs is None and p.size)
            para = os.cpu_count() or 8
            dyn = max(_OPEN_COST_BYTES, whole // para + 1)
            parts = _coalesce_parts(parts, min(self._target_bytes, dyn))
        # Spark requires >= 1 partition; an everything-pruned scan reads
        # nothing through one no-op task
        return parts or [_FilePart(None, None, {}, ())]

    def read(self, partition) -> Iterator:
        if isinstance(partition, _MultiPart):
            for p in partition.parts:
                yield from _read_file_batches(
                    p, self._arrow_schema, self._renames, self._pcols
                )
            return
        if partition.file is None:
            return
        yield from _read_file_batches(
            partition, self._arrow_schema, self._renames, self._pcols
        )


def _resolve_version(root: str, options) -> int:
    from ..operators import table_format as TF

    ver = options.get("version")
    ts = options.get("timestamp")
    if ver is not None and ts is not None:
        raise ValueError("pass version OR timestamp, not both")
    if ts is not None:
        return TF.version_at(root, float(ts))
    return int(ver) if ver is not None else TF.current_version(root)


def _split_rgs(rgs: list[list[int]], target_bytes: int) -> list[tuple[list[int], int]]:
    """Chunk a file's row groups ([rows, bytes] each, in file order) into
    consecutive runs of <= target_bytes (always at least one group per
    chunk). Returns [(rg index list, first file-relative row), ...]."""
    chunks: list[tuple[list[int], int]] = []
    cur: list[int] = []
    cur_bytes = 0
    row = 0
    cur_row = 0
    for i, (n_rows, n_bytes) in enumerate(rgs):
        if cur and cur_bytes + n_bytes > target_bytes:
            chunks.append((cur, cur_row))
            cur, cur_bytes, cur_row = [], 0, row
        cur.append(i)
        cur_bytes += n_bytes
        row += n_rows
    if cur:
        chunks.append((cur, cur_row))
    return chunks


# One task should read about what Spark's own parquet scan defaults to per
# split (spark.sql.files.maxPartitionBytes = 128m) — compressed bytes here,
# so tasks skew slightly larger after decode, which is the right side to
# err on for Python-worker startup amortization.
_DEFAULT_SPLIT_BYTES = 128 << 20
# Floor for the dynamic coalescing target (Spark's files.openCostInBytes):
# below this, bundling more files into a task costs less than opening them.
_OPEN_COST_BYTES = 4 << 20


def _plan_files(
    root: str,
    v: int,
    filters: list[Filter],
    schema: StructType,
    split_bytes: int | None = _DEFAULT_SPLIT_BYTES,
) -> tuple[list[_FilePart], int]:
    """Manifest-planned file list for snapshot ``v`` with two-level
    pruning (partition values, then per-file min/max bounds). Returns
    (kept partitions, #files skipped) — the count is the pruning
    evidence the tests pin.

    Kept files LARGER than ``split_bytes`` are split into row-group-
    aligned ranges using the geometry the manifest already carries
    (recorded from the footer at commit time — zero extra plan IO), so a
    compacted one-file-per-partition table parallelizes instead of
    handing one executor a multi-GB task. ``split_bytes=None`` disables
    splitting; files whose manifest entry predates the geometry field
    degrade to one task (correct, just coarser)."""
    from ..operators import table_format as TF

    vdir = TF._vdir(root, v)
    _entries, _cols, pcols, renames, _sj = _snapshot_meta(root, v)
    types = {f.name: f.dataType for f in schema.fields}
    # single-column filters only; pruning on a column we don't know is a bug
    flt = [
        (f, f.attribute[0])
        for f in filters
        if getattr(f, "attribute", None) is not None
        and len(f.attribute) == 1
        and f.attribute[0] in types
    ]
    has_dv = TF._has_dv(vdir)
    dv_by_dir: dict[str, tuple] = {}
    parts: list[_FilePart] = []
    skipped = 0
    for e in TF.manifest(root, v):
        rel = e["path"]
        pdir, raw_vals = os.path.dirname(rel), TF._rel_values(rel, pcols)
        keep = True
        for f, col in flt:
            if col in raw_vals:
                try:
                    typed = _parse_pv(raw_vals[col], types[col])
                except (ValueError, TypeError):
                    continue
                if not _pv_matches(f, typed):
                    keep = False
                    break
            else:
                stats = e.get("stats") or {}
                b = next(
                    (
                        stats[p]
                        for p in _rename_chain_names(col, renames)
                        if p in stats
                    ),
                    None,
                )
                if b is not None and not _bounds_match(f, b[0], b[1]):
                    keep = False
                    break
        if not keep:
            skipped += 1
            continue
        if has_dv and pdir not in dv_by_dir:
            dv_by_dir[pdir] = tuple(
                TF._dv_files(vdir, [pdir] if pdir else None)
            )
        full = os.path.join(vdir, rel)
        dvs = dv_by_dir.get(pdir, ())
        rgs = e.get("rgs")
        if (
            split_bytes is not None
            and rgs
            and len(rgs) > 1
            and sum(b for _, b in rgs) > split_bytes
        ):
            for idxs, row_start in _split_rgs(rgs, split_bytes):
                parts.append(
                    _FilePart(full, rel, raw_vals, dvs, idxs, row_start)
                )
        else:
            parts.append(
                _FilePart(
                    full, rel, raw_vals, dvs, size=int(e.get("size") or 0)
                )
            )
    return parts, skipped


# ---------------------------------------------------------------------------
# Streaming reader: the commit log as a microbatch source.


class CbxTableStreamReader(DataSourceStreamReader):
    def __init__(self, root: str, schema: StructType, options):
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..operators import table_format as TF

        self._root = root
        self._schema = schema
        self._arrow_schema = to_arrow_schema(schema)
        self._skip_changes = _opt_bool(options, "skipchangecommits")
        self._ignore_changes = _opt_bool(options, "ignorechanges")
        self._with_version = _opt_bool(options, "withcommitversion")
        sv = options.get("startingversion")
        if sv is None:
            self._start_v = TF.current_version(root)
        elif str(sv).lower() == "earliest":
            self._start_v = 0
        else:
            self._start_v = int(sv)

    def initialOffset(self) -> dict:
        return {"version": self._start_v}

    def latestOffset(self) -> dict:
        from ..operators import table_format as TF

        return {"version": TF.current_version(self._root)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            parts.extend(self._version_parts(v))
        return parts

    def read(self, partition: _FilePart) -> Iterator:
        if partition.file is None:
            return iter(())
        return _read_file_batches(
            partition, self._arrow_schema, partition.renames, ()
        )

    def commit(self, end: dict) -> None:
        pass  # offsets are durable table versions; nothing to release

    def _version_parts(self, v: int) -> list[_FilePart]:
        """The data files NEW in commit ``v`` — a manifest diff against
        the parent (hardlink-carried files keep path AND mtime, so
        (path, mtime_ns) identifies carried vs fresh). A commit that
        REMOVES files or adds tombstones changed existing rows: raise,
        skip (skipChangeCommits) or stream just its appends
        (ignoreChanges) — the Delta streaming-source contract."""
        from ..operators import table_format as TF

        entries = [e for e in TF.history(self._root) if e["version"] <= v]
        if not entries or entries[-1]["version"] != v:
            raise FileNotFoundError(
                f"version {v} of {self._root} is not in the commit log "
                f"(vacuumed past the stream's offset?)"
            )
        pcols = TF._part_cols(entries[-1].get("partition_by"))
        renames = [list(r) for r in TF._since_reset(entries)[1]]
        cur = {
            (e["path"], e.get("mtime_ns")): e for e in TF.manifest(self._root, v)
        }
        prev_keys: set = set()
        prev_dv = 0
        if v > 1:
            prev_keys = {
                (e["path"], e.get("mtime_ns"))
                for e in TF.manifest(self._root, v - 1)
            }
            prev_dv = sum(TF._dv_counts(TF._vdir(self._root, v - 1)).values())
        new = [e for k, e in sorted(cur.items()) if k not in prev_keys]
        removed = prev_keys - set(cur)
        cur_dv = sum(TF._dv_counts(TF._vdir(self._root, v)).values())
        if removed or cur_dv > prev_dv:
            if self._skip_changes:
                return []
            if not self._ignore_changes:
                action = entries[-1].get("action")
                raise ValueError(
                    f"commit v{v} ({action}) of {self._root} changed or "
                    f"removed existing rows; a cbxtable stream is "
                    f"append-only. Set skipChangeCommits=true to drop such "
                    f"commits or ignoreChanges=true to stream just their "
                    f"appended files (downstream must tolerate replays)."
                )
        vdir = TF._vdir(self._root, v)
        out = []
        for e in new:
            rel = e["path"]
            raw_vals = TF._rel_values(rel, pcols)
            if self._with_version:
                # rides the same typed-constant path as partition values:
                # one microbatch may span SEVERAL commits, and a
                # last-wins consumer needs the per-row commit order that
                # batch boundaries no longer carry
                raw_vals = {**raw_vals, "_commit_version": str(v)}
            p = _FilePart(os.path.join(vdir, rel), rel, raw_vals, ())
            p.renames = renames  # per-version: restores can revive old names
            out.append(p)
        return out


def _opt_bool(options, key: str) -> bool:
    return str(options.get(key, "false")).lower() == "true"


def _opt_bool_default(options, key: str, default: bool) -> bool:
    return str(options.get(key, str(default))).lower() == "true"


# ---------------------------------------------------------------------------
# Batch writer: df.write.format("cbxtable").  Write tasks emit parquet
# files straight into a job staging area (per-file stats could be
# collected here too — this IS the write-tasks-collect design real
# formats use); the driver's commit() turns exactly the files named in
# the SUCCESSFUL tasks' commit messages into one atomic table version.
# Speculative/retried task attempts may leave stray files in the staging
# area — they are never committed (only message-listed files move) and
# the job dir is removed afterwards. Partition directories are named by
# table_format's codec, so they are byte-identical to what the native
# Spark writer produces and one table never mixes two encodings.


class _WriteResult(WriterCommitMessage):
    def __init__(self, rel_paths: list[str], rows: int):
        self.rel_paths = rel_paths
        self.rows = rows


class CbxTableWriter(DataSourceArrowWriter):
    def __init__(self, root: str, schema: StructType, overwrite: bool, options):
        import uuid

        from pyspark.sql.pandas.types import to_arrow_schema

        from ..operators import table_format as TF

        self._root = root
        self._schema = schema
        self._overwrite = overwrite
        self._target_arrow = None
        exists = os.path.exists(os.path.join(root, TF._POINTER))
        self._exists = exists
        if exists:
            if TF.table_checks(root):
                raise ValueError(
                    "this table declares CHECK constraints; the format "
                    "writer does not enforce them — use "
                    "table_format.insert_into/merge_into instead"
                )
            scheme = TF.partition_scheme(root)
            self._pcols = TF._part_cols(scheme)
            logical = _logical_schema(root, TF.current_version(root))
            want = [f.name for f in logical.fields]
            have = list(schema.names)
            if sorted(want) != sorted(have):
                raise ValueError(
                    f"write schema columns {have} != table columns {want}"
                )
            if not overwrite:
                # appended footers must carry the TABLE's types, or a
                # non-mergeSchema read could mis-sample a narrower file
                self._target_arrow = to_arrow_schema(logical)
        else:
            pb = options.get("partition_by") or options.get("partitionby")
            self._pcols = TF._part_cols(pb)
            missing = [c for c in self._pcols if c not in schema.names]
            if missing:
                raise ValueError(
                    f"partition_by column(s) {missing} not in {schema.names}"
                )
        bad = [c for c in self._pcols if c.startswith(("_", "."))]
        if bad:
            raise ValueError(f"partition column name(s) {bad} are reserved")
        floats = [
            f.name
            for f in schema.fields
            if f.name in self._pcols
            and isinstance(f.dataType, (FloatType, DoubleType))
        ]
        if floats:
            # Spark names such directories with Java's Double.toString,
            # which this JVM-free writer cannot reproduce exactly
            raise ValueError(
                f"cbxtable cannot write float/double partition column(s) "
                f"{floats}: their directory names follow Java's "
                f"Double.toString (1e20 is '1.0E20'); write through "
                f"table_format.create_table/insert_into instead"
            )
        # job staging INSIDE the table root: same filesystem as the final
        # version dir, so every commit-time move is a metadata rename
        self._job_dir = os.path.join(root, f".ds_write_{uuid.uuid4().hex}")
        os.makedirs(self._job_dir, exist_ok=True)

    # -- executor side ------------------------------------------------------
    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from ..operators import table_format as TF

        batches = list(iterator)
        if not batches:
            return _WriteResult([], 0)
        tbl = pa.Table.from_batches(batches)
        if self._target_arrow is not None:
            tbl = pa.table(
                {
                    n: (
                        tbl.column(n).cast(self._target_arrow.field(n).type)
                        if tbl.column(n).type != self._target_arrow.field(n).type
                        else tbl.column(n)
                    )
                    for n in tbl.column_names
                }
            )
        task_id = uuid.uuid4().hex
        rels: list[str] = []

        def emit(sub: "pa.Table", rel_dir: str) -> None:
            if sub.num_rows == 0:
                return
            data = sub.drop_columns(self._pcols) if self._pcols else sub
            rel = (
                f"{rel_dir}/part-{task_id}-{len(rels):05d}.parquet"
                if rel_dir
                else f"part-{task_id}-{len(rels):05d}.parquet"
            )
            full = os.path.join(self._job_dir, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            pq.write_table(data, full)
            rels.append(rel)

        if not self._pcols:
            emit(tbl, "")
            return _WriteResult(rels, tbl.num_rows)
        combos = (
            tbl.select(self._pcols).group_by(self._pcols).aggregate([])
        )
        for i in range(combos.num_rows):
            mask = None
            vals = tuple(combos.column(c)[i].as_py() for c in self._pcols)
            for c, v in zip(self._pcols, vals):
                cond = (
                    pc.is_null(tbl.column(c))
                    if v is None
                    else pc.equal(tbl.column(c), v)
                )
                mask = cond if mask is None else pc.and_(mask, cond)
            emit(tbl.filter(mask), TF._part_rel(self._pcols, vals))
        return _WriteResult(rels, tbl.num_rows)

    # -- driver side --------------------------------------------------------
    def commit(self, messages) -> None:
        import shutil

        from ..operators import table_format as TF

        rels = [r for m in messages if m is not None for r in m.rel_paths]
        try:
            if not self._exists:
                self._commit_new(rels, action="create", version=1)
            elif self._overwrite:
                # optimistic concurrency, same as native committing ops: a
                # racing writer costs a re-claim against the new head, and
                # both closures re-derive the base version on each attempt
                TF.commit_with_retry(
                    self._root,
                    lambda: self._commit_new(
                        rels,
                        action="overwrite",
                        version=TF.current_version(self._root) + 1,
                    ),
                    what="overwrite",
                )
            else:
                TF.commit_with_retry(
                    self._root,
                    lambda: self._commit_append(rels),
                    what="append",
                )
        finally:
            shutil.rmtree(self._job_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self._job_dir, ignore_errors=True)

    def _move_listed(self, rels: list[str], staging: str) -> None:
        for rel in rels:
            dst = os.path.join(staging, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(self._job_dir, rel), dst)

    def _commit_new(self, rels: list[str], action: str, version: int) -> int:
        from ..operators import table_format as TF

        def fill(staging: str) -> None:
            os.makedirs(staging)
            self._move_listed(rels, staging)

        return TF._commit_version(
            self._root,
            version,
            fill,
            {
                "action": action,
                "schema_json": self._schema.json(),
                "partition_by": TF._part_scheme(self._pcols),
                "columns": list(self._schema.names),
                **({"checks": {}} if action == "create" else {}),
                **({"parent": version - 1} if action != "create" else {}),
            },
        )

    def _commit_append(self, rels: list[str]) -> int:
        from ..operators import table_format as TF

        root = self._root
        base_v = TF.current_version(root)
        state = TF._carried_state(
            [e for e in TF.history(root) if e["version"] <= base_v]
        )

        def fill(staging: str) -> int:
            copied = TF._link_tree(TF._vdir(root, base_v), staging)
            self._move_listed(rels, staging)
            return copied

        # the log records the WRITE schema, not the carried one
        return TF._commit_version(
            root,
            base_v + 1,
            fill,
            {
                "action": "insert",
                "parent": base_v,
                **state,
                "schema_json": self._schema.json(),
                "columns": state["columns"] or list(self._schema.names),
            },
        )


# ---------------------------------------------------------------------------
# The DataSource.


class CbxTableDataSource(DataSource):
    """``spark.dataSource.register(CbxTableDataSource)`` then::

        spark.read.format("cbxtable").option("version", 3).load(root)
        spark.readStream.format("cbxtable")
             .option("startingVersion", "earliest").load(root)
    """

    @classmethod
    def name(cls) -> str:
        return "cbxtable"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError(
                "cbxtable needs a table root: .load(path) or .option('path', ...)"
            )
        return root

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType

        root = self._root()
        st = _logical_schema(root, _resolve_version(root, self.options))
        cols = self.options.get("columns")
        if cols is not None:
            # explicit projection: the Python DataSource API has no
            # column-pruning hook (Spark prunes only AFTER the worker has
            # shipped every column through Arrow), so a wide-table scan
            # that needs two columns pays decode + transfer for all of
            # them unless the user names the projection here. The option
            # reaches _read_file_batches through the scan schema, so
            # deselected columns are never decoded at the parquet read.
            want = [c.strip() for c in cols.split(",") if c.strip()]
            have = {f.name: f for f in st.fields}
            unknown = [c for c in want if c not in have]
            if unknown:
                raise ValueError(
                    f"columns option names unknown column(s) {unknown}; "
                    f"table has {sorted(have)}"
                )
            st = StructType([have[c] for c in want])
        if _opt_bool(self.options, "withcommitversion"):
            st = StructType(
                st.fields + [StructField("_commit_version", LongType(), False)]
            )
        return st

    def reader(self, schema: StructType):
        if _opt_bool(self.options, "withcommitversion"):
            raise ValueError(
                "withCommitVersion is a streaming option (a batch snapshot "
                "has ONE version; per-file provenance is not recorded)"
            )
        return CbxTableReader(self._root(), schema, self.options)

    def streamReader(self, schema: StructType) -> CbxTableStreamReader:
        return CbxTableStreamReader(self._root(), schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> CbxTableWriter:
        return CbxTableWriter(self._root(), schema, overwrite, self.options)


def register(spark) -> None:
    """Idempotently register the format with a session. Also enables
    Python-data-source filter pushdown (a runtime SQL conf, default
    false): a reader that implements ``pushFilters`` is REJECTED outright
    while the conf is off, so registration and the conf travel together —
    the harness's vanilla sessions get both from this one call."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(CbxTableDataSource)
