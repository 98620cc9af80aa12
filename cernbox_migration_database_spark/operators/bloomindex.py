"""Per-partition Bloom pruning index for versioned tables.

The probabilistic sibling of the record-level key index (keyindex.py), the
shape of Delta's Bloom filter index / Iceberg puffin blobs: one fixed-size
Bloom bitset PER PARTITION over the key column. A point lookup probes the
bitsets DRIVER-SIDE (n_partitions x k hash tests on pure metadata — no
index-table scan at all) and reads only partitions that MAY contain a
probe key.

Why it complements keyindex at 100 TB:

* The whole index is ``n_partitions x m/8`` bytes of metadata (KiB-MiB),
  not O(n_keys) index rows — no side TABLE to scan, merge, or compact;
  lookup planning costs zero cluster work.
* Maintenance is ADD-ONLY from the change feed: inserts and updates OR
  their key's positions into the destination partition's bitset. Deletes
  (and the source half of partition-moving updates) need NO action — a
  stale bit can only cause a false-positive partition read, never a miss,
  so pruning stays CORRECT and merely less tight until the next rebuild
  (rebuild with create_bloom_index after heavy deletion or a compact).
* Add-only means pruning effectiveness decays SILENTLY — at 100 TB a
  six-month-old index quietly degrades toward a full scan while every
  lookup still returns correct rows. :func:`bloom_debt_report` meters
  that debt from the sidecar alone (fill-derived false-positive rate vs
  its build anchor, deleted-key fraction since build) and
  :func:`rebuild_bloom_index` is the priced repair; both register in
  ``maintenance.plan_maintenance(drift_stores=)`` next to the
  hist/ivf/ivfpq drift stores (r11 verdict item 1).
* The trade against keyindex: probabilistic (reads ~fp_rate extra
  partitions) and add-only, but maintenance never shuffles and the lookup
  never touches storage before the pruned base read.

Hashes are the same md5-derived positions as sketches.bloom_pos with the
key CAST TO STRING first, so the driver-side Python probe (hashlib.md5)
is bit-identical to the executor-side build — pinned by test.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store_state
from .sketches import bloom_pos
from .table_format import current_version, partition_scheme, read_table

_STATE_SUFFIX = ".bloomindex.json"


def _py_positions(value, i_range: range, m_bits: int) -> list[int]:
    """Python twin of sketches.bloom_pos on the STRINGIFIED key — must stay
    bit-identical to the Spark expression (test-pinned). Only valid for key
    types whose Python str() rendering equals Spark's CAST(.. AS STRING)
    (integers and strings); other types go through _probe_positions."""
    s = str(value)
    return [
        int(hashlib.md5(f"{s}#{i}".encode()).hexdigest()[:13], 16) % m_bits
        for i in i_range
    ]


# Key types where Python str(value) is provably identical to Spark's
# CAST(key AS STRING), so the zero-job driver probe is safe.
_PY_STR_SAFE_TYPES = {"string", "tinyint", "smallint", "int", "bigint"}


def _probe_positions(
    spark: SparkSession, values: list, key_type: str, k: int, m_bits: int
) -> dict:
    """Probe positions computed with the SAME Spark expression pipeline as
    the build side (CAST to the key's column type, then to STRING, then
    bloom_pos). For float ('1e-07' vs '1.0E-7'), boolean ('True' vs
    'true'), timestamp, and decimal keys the Python and Spark string
    renderings differ, so hashing str(value) driver-side would probe the
    WRONG bits and silently skip partitions that contain the key — a
    false negative the index contract forbids. One local job over
    len(values) rows; no table data touched."""
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, ["__i", "__v"])
    ks = F.col("__v").cast(key_type).cast("string")
    out = df.select(
        "__i", F.array(*[bloom_pos(ks, j, m_bits) for j in range(k)]).alias("pos")
    ).collect()
    return {values[r["__i"]]: list(r["pos"]) for r in out}


def _part_positions(
    df: DataFrame, key: str, part_col: str, m_bits: int, k: int
) -> dict:
    """(partition value -> set of bit positions) for every key in ``df`` —
    ONE distributed job; the collect is bounded by n_partitions x m_bits,
    metadata-sized by construction."""
    ks = F.col(key).cast("string")
    # Partition values are normalized to STRING form here (and kept string
    # through the JSON state round-trip) so int-partitioned tables don't
    # split one partition across 5-vs-'5' dict keys on refresh.
    rows = (
        df.select(
            F.col(part_col).cast("string").alias("__p"),
            F.explode(
                F.array(*[bloom_pos(ks, i, m_bits) for i in range(k)])
            ).alias("pos"),
        )
        .distinct()
        .collect()
    )
    out: dict = {}
    for r in rows:
        out.setdefault(r["__p"], set()).add(r["pos"])
    return out


def _popcount(b: bytes) -> int:
    return int.from_bytes(b, "big").bit_count()


def _fold(bitsets: dict, positions: dict, m_bits: int) -> None:
    for part, poss in positions.items():
        cur = bytearray(bitsets.get(part) or bytes(m_bits // 8))
        for p in poss:
            cur[p >> 3] |= 1 << (p & 7)
        bitsets[part] = bytes(cur)


def _blooms_to_json(bitsets: dict) -> dict:
    return {
        ("\x00null" if p is None else str(p)): b.hex()
        for p, b in bitsets.items()
    }


def _blooms_from_json(st: dict) -> dict:
    return {
        (None if p == "\x00null" else p): bytes.fromhex(h)
        for p, h in st["blooms"].items()
    }


def create_bloom_index(
    spark: SparkSession,
    base_root: str,
    index_path: str,
    key: str,
    m_bits: int = 1 << 14,
    k: int = 4,
) -> int:
    """Build the per-partition bitsets at the base table's current version.
    One base scan (key + partition column only); everything after is
    metadata. Returns the indexed base version."""
    part_col = partition_scheme(base_root)
    if not part_col or not isinstance(part_col, str):
        raise ValueError(
            "bloom index requires a single-column-partitioned base table, "
            f"got partition scheme {part_col!r}"
        )
    if m_bits % 8:
        raise ValueError(f"m_bits must be a multiple of 8, got {m_bits}")
    base_v = current_version(base_root)
    base = read_table(spark, base_root, base_v)
    bitsets: dict = {}
    _fold(bitsets, _part_positions(base, key, part_col, m_bits, k), m_bits)
    # debt anchors (bloom_debt_report): per-partition fill at build plus
    # an exact build key count — add-only folds can only RAISE fill, so
    # the anchor bounds how far pruning has decayed since the last
    # (re)build. One extra count aggregate on the same 1-column scan.
    n_keys = int(
        base.select(F.countDistinct(F.col(key)).alias("n")).first()["n"]
    )
    st = {
        "base_root": base_root,
        "base_version": base_v,
        "key": key,
        "part_col": part_col,
        "m_bits": m_bits,
        "k": k,
        "n_keys_build": n_keys,
        "adds_since_build": 0,
        "deletes_since_build": 0,
        "ref_bits_set": {
            ("\x00null" if p is None else str(p)): _popcount(b)
            for p, b in bitsets.items()
        },
        "blooms": _blooms_to_json(bitsets),
    }
    store_state.write(index_path, st)
    return base_v


def refresh_bloom_index(spark: SparkSession, index_path: str) -> int:
    """Fold the base change feed into the bitsets: insert/update keys OR
    their positions into the post-image partition. Deletes are a NO-OP by
    design (add-only; stale bits are false-positive reads, never misses).
    O(changed rows) cluster work, zero shuffle beyond the CDF diff."""

    def fold(st, ch, cur):
        # debt counters (bloom_debt_report): one KiB-result aggregate over
        # the feed the fold already reads — deletes leave stale bits the
        # report prices, inserts grow the live-key denominator
        by_type = {
            r["_change_type"]: int(r["n"])
            for r in ch.groupBy("_change_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        st["adds_since_build"] = (
            st.get("adds_since_build", 0) + by_type.get("insert", 0)
        )
        st["deletes_since_build"] = (
            st.get("deletes_since_build", 0) + by_type.get("delete", 0)
        )
        adds = ch.where(F.col("_change_type").isin("insert", "update"))
        bitsets = _blooms_from_json(st)
        _fold(
            bitsets,
            _part_positions(
                adds, st["key"], st["part_col"], st["m_bits"], st["k"]
            ),
            st["m_bits"],
        )
        st["blooms"] = _blooms_to_json(bitsets)

    return store_state.fold_window(spark, index_path, fold)


def _may_contain(bitset: bytes, positions: list[int]) -> bool:
    return all(bitset[p >> 3] & (1 << (p & 7)) for p in positions)


def bloom_prune_lookup(
    spark: SparkSession, index_path: str, values: list
) -> DataFrame:
    """Point lookup pruned by the bitsets: a partition is read iff its
    bloom MAY contain at least one probe value (no false negatives — a
    present key's partition always passes). The probe itself is
    driver-side metadata arithmetic; the returned plan reads only the
    admitted partition directories with the key filter pushed down.

    Raises if the base has committed versions the index has not folded:
    the add-only safety argument covers DELETES only — an unfolded
    INSERT's key has no bits, so probing a lagging index would silently
    MISS rows (the false negative the contract forbids). Refresh first;
    the fold is O(changed rows)."""
    st = store_state.read(index_path)
    store_state.check_current(st, "refresh_bloom_index")
    k, m = st["k"], st["m_bits"]
    base = read_table(spark, st["base_root"])
    key_type = dict(base.dtypes)[st["key"]]
    if key_type in _PY_STR_SAFE_TYPES:
        # zero-job driver probe: Python str(value) is bit-identical to
        # Spark's cast for integer/string keys (test-pinned)
        probe_pos = {v: _py_positions(v, range(k), m) for v in values}
    else:
        probe_pos = _probe_positions(spark, values, key_type, k, m)
    parts = [
        part
        for part, bitset in _blooms_from_json(st).items()
        if any(_may_contain(bitset, pos) for pos in probe_pos.values())
    ]
    # Compare in string space (the state's normalized form). The cast is a
    # deterministic expression of the partition column alone, so partition
    # pruning still evaluates it driver-side against the directory values
    # (executed-file evidence in tests).
    pc = F.col(st["part_col"]).cast("string")
    pred = pc.isin([p for p in parts if p is not None])
    if any(p is None for p in parts):
        pred = pred | F.col(st["part_col"]).isNull()
    return base.where(pred & F.col(st["key"]).isin(values))


def bloom_debt_report(
    index_path: str,
    fp_rate_threshold: float = 0.1,
    deleted_fraction_threshold: float = 0.2,
) -> dict:
    """Staleness-debt meter for the add-only index (r11 verdict item 1):
    pruning effectiveness decays SILENTLY by design — stale bits from
    deletions and ever-rising fill never cause a wrong row, they cause
    extra partition reads, until a point lookup quietly degrades into a
    near-full scan. Pure sidecar arithmetic, zero cluster work:

    * **est_fp_rate** — the expected fraction of partitions a single
      ABSENT probe key falsely admits: mean over partitions of
      (bits_set/m)^k, the standard Bloom false-positive formula applied
      to each partition's measured fill. This is the direct price of a
      miss-probe at plan time.
    * **fp_ratio** — est_fp_rate vs the same quantity at the last
      (re)build (``ref_bits_set``): how much of the decay is NEW debt
      rather than the corpus's intrinsic density.
    * **deleted_fraction** — delete rows folded since build over the
      live-key estimate (build keys + inserts − deletes): the share of
      the bitset's information that describes keys which no longer
      exist. High deleted_fraction with flat fill means a rebuild would
      RE-TIGHTEN pruning even though fill alone looks stable.

    ``drifted`` when either signal crosses its threshold; the repair is
    :func:`rebuild_bloom_index` — one column-pruned base scan, the same
    O(corpus)-but-cheap class as table compaction, priced and executed
    by ``maintenance.apply_maintenance``."""
    st = store_state.read(index_path)
    blooms = _blooms_from_json(st)
    m, k = st["m_bits"], st["k"]
    fills = {p: _popcount(b) / m for p, b in blooms.items()}
    est_fp = (
        sum(f**k for f in fills.values()) / len(fills) if fills else 0.0
    )
    ref_bits = st.get("ref_bits_set") or {}
    ref_fp = (
        sum((n / m) ** k for n in ref_bits.values()) / len(ref_bits)
        if ref_bits
        else None
    )
    adds = int(st.get("adds_since_build", 0))
    dels = int(st.get("deletes_since_build", 0))
    live_est = max(1, int(st.get("n_keys_build", 0)) + adds - dels)
    deleted_fraction = dels / (dels + live_est)
    rep = {
        "n_partitions": len(blooms),
        "m_bits": m,
        "k": k,
        "fill_avg": round(sum(fills.values()) / len(fills), 6)
        if fills
        else 0.0,
        "fill_max": round(max(fills.values()), 6) if fills else 0.0,
        "est_fp_rate": round(est_fp, 6),
        "ref_fp_rate": round(ref_fp, 6) if ref_fp is not None else None,
        "fp_ratio": round(est_fp / ref_fp, 6)
        if ref_fp
        else (None if ref_fp is None else 1.0),
        "fp_rate_threshold": fp_rate_threshold,
        "adds_since_build": adds,
        "deletes_since_build": dels,
        "deleted_fraction": round(deleted_fraction, 6),
        "deleted_fraction_threshold": deleted_fraction_threshold,
    }
    rep["drifted"] = (
        est_fp > fp_rate_threshold
        or deleted_fraction > deleted_fraction_threshold
    )
    rep["action"] = "rebuild_bloom_index" if rep["drifted"] else None
    return rep


def rebuild_bloom_index(spark: SparkSession, index_path: str) -> int:
    """Re-tighten the bitsets from the base's CURRENT snapshot under the
    index's own recorded parameters — the repair :func:`bloom_debt_report`
    prescribes. Stale bits from folded deletions vanish; the debt
    counters and fill anchors re-zero. One column-pruned base scan."""
    st = store_state.read(index_path)
    return create_bloom_index(
        spark,
        st["base_root"],
        index_path,
        st["key"],
        m_bits=st["m_bits"],
        k=st["k"],
    )
