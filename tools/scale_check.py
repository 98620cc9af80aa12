"""Scale-up check: do the headline plans scale linearly with data volume?

Builds a k-fold replica of the FACT tables (lineitem, orders, events) at
/tmp/scale_<k> — each `<name>.parquet` becomes a DIRECTORY of k file copies,
which Spark reads as one table with k x the rows and k x the input splits —
while dimension tables (region/nation/customer/supplier/part) stay at 1x.
That is the shape of real growth: facts scale, dims don't. Then times a
scan+agg query (q1), a multi-join query (q3), and an event-time agg
(time_bucket_agg) at 1x and kx and reports the scaling efficiency
t_k / (k * t_1); 1.0 = perfectly linear, < 1 = super-linear (economies of
scale from fixed overheads), > 1 = a plan that degrades with volume
(the thing this tool exists to catch).

Duplicate-sensitive operators (near-dup pairing, distinct-heavy plans) are
excluded from the file-copy replica: replicating rows k x inflates their
OUTPUT quadratically (every copy of a doc near-matches every other copy),
so wall-clock would measure the workload change, not the plan. For the
dedup/ANN family (`--dedup`) a REPLICATION-SAFE replica is built instead
(VERDICT r3 item 5): k shards of documents/embeddings where each shard
gets offset ids and a per-shard token prefix on every text token — shard
vocabularies are disjoint, so cross-shard similarity is ~0 and MinHash/
SimHash bands almost never collide across shards. Candidate and pair
OUTPUT then scales ~linearly in k (k independent corpora) while candidate
generation processes k x the rows — which is exactly the growth shape of
a real crawl and lets the efficiency ratio grade the PLAN. Probe/seed
rows (vec_id < 20 queries, codebook seeds) live only in shard 0, so ANN
probe count stays fixed while the scanned corpus scales.

Usage: python tools/scale_check.py [k] [sf_dir] [runs]
       python tools/scale_check.py --dedup [k] [sf_dir] [runs]   (add --isolate for per-query fresh-JVM timing)
       python tools/scale_check.py --table [k] [sf_dir]
       python tools/scale_check.py --textindex [k] [sf_dir] [runs]
       python tools/scale_check.py --joinview [k] [sf_dir]
       python tools/scale_check.py --r6 [k] [sf_dir]
       python tools/scale_check.py --lshindex [k] [sf_dir] [runs]
       python tools/scale_check.py --clusterindex [k] [sf_dir]
       python tools/scale_check.py --histstore [k] [sf_dir]
       python tools/scale_check.py --freqstore [k] [sf_dir]
       python tools/scale_check.py --branch [k] [sf_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cernbox_migration_database_spark import queries as Q
from cernbox_migration_database_spark import util as U
from cernbox_migration_database_spark.session import get_spark

FACTS = ("lineitem", "orders", "events")
DIMS = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "documents",
    "embeddings",
)
QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "time_bucket_agg")
DEDUP_QUERIES = (
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "similarity_pq_adc",
    "dedup_prefix_filter",
    # round-4 continuation additions. Replica-safety notes: bloom probes
    # and repeated-spans canonicalization see disjoint per-shard token
    # vocabularies (output ~linear in k); IVF-PQ probes live in shard 0
    # only, so the probe count is fixed while cells hold k x the code
    # rows. dedup_semantic_keep is EXCLUDED: embedding vectors replicate
    # verbatim across shards (only text gets shard tags), so identical
    # copies pair quadratically — the workload would change, not the plan.
    "bloom_decontaminate",
    "similarity_ivf_pq",
    "dedup_repeated_spans",
    # round 7: the incremental IVF-PQ index probe — queries live in shard
    # 0 (vec_id < 20), the code table holds k x the rows; probe cost
    # should stay bounded by nprobe cells
    "similarity_ivfpq_index_probe",
)


def build_replica(sf_dir: str, k: int) -> str:
    out = f"/tmp/scale_{k}x_{os.path.basename(os.path.normpath(sf_dir))}"
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    for name in FACTS:
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        src = os.path.join(sf_dir, f"{name}.parquet")
        for i in range(k):
            # hard links where possible: k x the logical bytes, 1 x the disk
            dst = os.path.join(d, f"copy_{i:02d}.parquet")
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy(src, dst)
    for name in DIMS:
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy(src, dst)
    return out


def build_dedup_replica(spark, sf_dir: str, k: int) -> str:
    """k-shard documents/embeddings replica with disjoint per-shard content:
    ids offset by shard * 1e9 and every whitespace token prefixed with the
    shard tag (shard 0 keeps the original rows verbatim, so seeds/probes
    keyed on small ids keep working and 1x results embed in the kx run)."""
    from pyspark.sql import functions as F

    out = f"/tmp/scale_dedup_{k}x_{os.path.basename(os.path.normpath(sf_dir))}"
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    doc_shards = [
        docs.select(
            (F.col("doc_id") + F.lit(i * 1_000_000_000)).alias("doc_id"),
            (
                F.regexp_replace("text", r"(\S+)", f"s{i}_$1")
                if i
                else F.col("text")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(k)
    ]
    u = doc_shards[0]
    for s in doc_shards[1:]:
        u = u.unionByName(s)
    u.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    e_shards = [
        emb.select(
            (F.col("vec_id") + F.lit(i * 1_000_000_000)).alias("vec_id"),
            "embedding",
            "label",
        )
        for i in range(k)
    ]
    ue = e_shards[0]
    for s in e_shards[1:]:
        ue = ue.unionByName(s)
    ue.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    for name in FACTS + tuple(d for d in DIMS if d not in ("documents", "embeddings")):
        src = os.path.join(sf_dir, f"{name}.parquet")
        dst = os.path.join(out, f"{name}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy(src, dst)
    return out


def time_query(spark, name: str, sf_dir: str, runs: int) -> float:
    fn = Q.QUERIES[name]
    # one untimed warm-up compiles the query's generated classes (the
    # session's 1000-entry codegen cache keeps them for the timed runs) and
    # warms the JIT, so the timed runs measure the data-dependent cost —
    # the part that scales
    fn(spark, sf_dir).count()
    ts = []
    for _ in range(runs):
        t0 = time.monotonic()
        fn(spark, sf_dir).count()
        ts.append(time.monotonic() - t0)
        U.release_persisted()
    return statistics.median(ts)


def time_query_isolated(name: str, sf_dir: str, runs: int) -> float:
    """time_query in a FRESH subprocess/JVM: the r7 prefix-filter episode
    showed in-session sequential timing mis-grades heavy queries by up to
    ~8x (accumulated heap/GC from earlier queries in the batch); a fresh
    process per (query, scale) is the bench protocol's proven fix."""
    import subprocess

    out = subprocess.run(
        [
            sys.executable, os.path.abspath(__file__),
            "--_time-one", name, sf_dir, str(runs),
        ],
        capture_output=True, text=True, timeout=1800,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("T=")]
    if not lines:
        raise RuntimeError(
            f"isolated timing of {name} produced no result: "
            f"{out.stderr[-500:]}"
        )
    return float(lines[-1][2:])


def table_mode_main(argv: list[str]) -> int:
    """--table: versioned-table lakehouse scaling. Replicates orders k-fold
    (disjoint key ranges), then measures, at 1x and kx:
      * COW merge write amplification for a ONE-partition merge — rewritten
        vs hardlinked bytes (the claim: amplification tracks the touched
        fraction, not table size);
      * matview refresh wall-time for a FIXED-size delta (the claim:
        refresh is delta-bound — flat as the base grows);
      * a SPARSE scattered delete (~0.1 % of rows, touching EVERY
        partition) committed both copy-on-write and merge-on-read from
        two shallow clones of the same snapshot (the claim: COW rewrite
        bytes track TABLE size while MOR tombstone bytes track DELETED
        rows — flat in k — which is why deletion vectors exist), plus the
        DV read tax (post-delete scan wall-time, MOR vs COW).
    """
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import matview as MV
    from cernbox_migration_database_spark.operators import table_format as TF

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="scale-check-table")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def sizes(vdir, prev_inodes):
        new_b = linked_b = 0
        for dp, _, fs in os.walk(vdir):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                st = os.stat(os.path.join(dp, f))
                if st.st_ino in prev_inodes:
                    linked_b += st.st_size
                else:
                    new_b += st.st_size
        return new_b, linked_b

    def inodes(vdir):
        return {
            os.stat(os.path.join(dp, f)).st_ino
            for dp, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        }

    def run(mult):
        import functools

        base = functools.reduce(
            lambda a, b: a.unionByName(b),
            [
                orders.withColumn(
                    "o_orderkey", F.col("o_orderkey") + 10_000_000 * i
                )
                for i in range(mult)
            ],
        )
        with tempfile.TemporaryDirectory() as d:
            root, mv = os.path.join(d, "t"), os.path.join(d, "mv")
            TF.create_table(base, root, partition_by="o_orderpriority")
            MV.create_aggregate_view(
                spark, root, mv,
                key="o_orderkey", group_cols=["o_orderpriority"],
                sum_cols=["o_totalprice"],
            )
            v1 = os.path.join(root, "_versions", "v00000001")
            base_inodes = inodes(v1)
            total = sum(sizes(v1, set()))
            # one-partition COW merge (fixed selectivity inside 1-URGENT)
            src = base.where(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_orderkey") % 13 == 0)
            ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
            TF.merge_into(spark, root, src, on="o_orderkey", when_not_matched=None)
            v2 = os.path.join(root, "_versions", "v00000002")
            new_b, linked_b = sizes(v2, base_inodes)
            # fixed-size delta refresh (same ~row count at every mult)
            delta = orders.where(F.col("o_orderkey") % 83 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1
            )
            TF.merge_into(spark, root, delta, on="o_orderkey", when_not_matched=None)
            t0 = time.monotonic()
            MV.refresh_aggregate_view(spark, mv)
            refresh_s = time.monotonic() - t0
            # Scan planning: manifest sidecar (ONE sequential file read)
            # vs recursive directory listing (O(#dirs + #files) round
            # trips — the billed LIST calls on an object store). Local FS
            # makes both cheap; the file/syscall counts are the claim.
            cur = TF.current_version(root)
            t0 = time.monotonic()
            entries = TF.manifest(root, cur)
            manifest_ms = 1000 * (time.monotonic() - t0)
            vdir = os.path.join(root, "_versions", f"v{cur:08d}")
            t0 = time.monotonic()
            listed = [
                os.path.join(dp, f)
                for dp, _dn, fs in os.walk(vdir)
                for f in fs
                if not f.startswith(("_", "."))
            ]
            listing_ms = 1000 * (time.monotonic() - t0)
            assert len(entries) == len(listed)
            # Sparse scattered delete, COW vs MOR, from two shallow
            # clones of the SAME snapshot (clone = hardlink carry, so the
            # branch itself is free and both sides start byte-identical).
            c_cow, c_mor = os.path.join(d, "c_cow"), os.path.join(d, "c_mor")
            TF.clone_table(root, c_cow)
            TF.clone_table(root, c_mor)
            pred = "o_orderkey % 997 = 0"
            t0 = time.monotonic()
            TF.delete_where(spark, c_cow, pred, mode="cow")
            cow_sec = time.monotonic() - t0
            cow_new, _l = sizes(
                os.path.join(c_cow, "_versions", "v00000002"),
                inodes(os.path.join(c_cow, "_versions", "v00000001")),
            )
            t0 = time.monotonic()
            TF.delete_where(spark, c_mor, pred, mode="mor")
            mor_sec = time.monotonic() - t0
            mor_vdir = os.path.join(c_mor, "_versions", "v00000002")
            mor_new = sum(
                os.path.getsize(p) for p in TF._dv_files(mor_vdir)
            )
            t0 = time.monotonic()
            n_mor = TF.read_table(spark, c_mor).count()
            mor_read = time.monotonic() - t0
            t0 = time.monotonic()
            n_cow = TF.read_table(spark, c_cow).count()
            cow_read = time.monotonic() - t0
            assert n_mor == n_cow
            return {
                "table_bytes": total,
                "rewritten_bytes": new_b,
                "rewritten_pct": round(100 * new_b / total, 1),
                "hardlinked_pct": round(100 * linked_b / total, 1),
                "mv_refresh_sec": round(refresh_s, 2),
                "plan_files": len(entries),
                "manifest_plan_ms": round(manifest_ms, 1),
                "listing_plan_ms": round(listing_ms, 1),
                "sparse_delete_cow_sec": round(cow_sec, 2),
                "sparse_delete_cow_rewritten_bytes": cow_new,
                "sparse_delete_mor_sec": round(mor_sec, 2),
                "sparse_delete_mor_tombstone_bytes": mor_new,
                "post_delete_read_cow_sec": round(cow_read, 2),
                "post_delete_read_mor_sec": round(mor_read, 2),
            }

    r1, rk = run(1), run(k)
    print(
        json.dumps(
            {
                "metric": "scale_check_table",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "at_1x": r1,
                f"at_{k}x": rk,
                "mv_refresh_ratio": round(
                    rk["mv_refresh_sec"] / max(r1["mv_refresh_sec"], 1e-9), 2
                ),
                # COW bytes grow ~k-fold with the table; MOR tombstone
                # bytes track deleted-row count (×k rows deleted here, so
                # ~k in bytes too, but 3-4 orders of magnitude smaller —
                # the ratio of ratios below is the headline claim)
                "sparse_delete_write_ratio_cow_over_mor_at_k": round(
                    rk["sparse_delete_cow_rewritten_bytes"]
                    / max(rk["sparse_delete_mor_tombstone_bytes"], 1),
                    1,
                ),
            }
        )
    )
    return 0


def textindex_mode_main(argv: list[str]) -> int:
    """--textindex: does the inverted index keep probe cost flat while the
    corpus grows? Builds the index at 1x and kx (replication-safe dedup
    replica — probe terms live in shard 0, so probe SELECTIVITY is fixed
    while the corpus scales, the regime an index exists for), then times
    (a) the bucket-pruned probe and (b) the full-scan bm25_search at both
    scales. Grades: probe ratio kx/1x (how much of corpus growth the probe
    pays — buckets grow ~k, so well under k means planning overheads
    dominate and the data read is trivial) and probe vs scan at kx (what
    the index saves end-to-end)."""
    import tempfile

    from cernbox_migration_database_spark.operators import textindex as TI

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    runs = int(argv[2]) if len(argv) > 2 else 3
    spark = get_spark(app_name="scale-check-textindex")
    replica = build_dedup_replica(spark, sf_dir, k)
    # let the replica build's own load decay before the timed 1x leg —
    # without this the FIRST leg runs under self-load and every ratio
    # is biased low (measured: build_ratio 0.83 at k=10 under load 6.9)
    time.sleep(float(os.environ.get("SPARK_GRAFT_SCALE_COOLDOWN", "0")))
    terms = list(Q._BM25_TERMS)
    out = {}
    for tag, d in (("1x", sf_dir), (f"{k}x", replica)):
        base = tempfile.mkdtemp(prefix=f"cbx_textidx_{tag}_")
        shutil.rmtree(base)
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        t0 = time.monotonic()
        TI.build_text_index(spark, docs, base)
        build = time.monotonic() - t0
        probes = []
        for _ in range(runs + 1):
            t0 = time.monotonic()
            TI.bm25_probe(spark, base, terms, top_k=50).collect()
            probes.append(time.monotonic() - t0)
        scan = time_query(spark, "bm25_search", d, runs)
        out[tag] = {
            "build_sec": round(build, 3),
            "probe_sec": round(statistics.median(probes[1:]), 3),
            "scan_sec": round(scan, 3),
        }
        shutil.rmtree(base, ignore_errors=True)
        U.release_persisted()
    kx = f"{k}x"
    print(
        json.dumps(
            {
                "metric": "scale_check_textindex",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "scales": out,
                "probe_ratio": round(
                    out[kx]["probe_sec"] / out["1x"]["probe_sec"], 2
                ),
                "build_ratio": round(
                    out[kx]["build_sec"] / out["1x"]["build_sec"], 2
                ),
                "probe_vs_scan_kx": round(
                    out[kx]["probe_sec"] / out[kx]["scan_sec"], 2
                ),
            }
        )
    )
    shutil.rmtree(replica, ignore_errors=True)
    return 0


def ivfdrift_mode_main(argv: list[str]) -> int:
    """--ivfdrift: the drift lifecycle's cost split across corpus scale.
    Claims to verify: DETECTION (ivf_drift_report) is one cell-count
    aggregate + one row-local qerr aggregate over the index — it should
    grow far slower than the corpus; a FIXED-SIZE drifted fold is
    delta-bound (~flat); REBUILD is the one deliberate O(corpus) step
    (~k is the honest expectation, not a regression). Builds the index
    at 1x and kx on the shard replica (vec_id<16 seeds live in shard 0),
    folds a fixed 100-vector drifted window, reports, replans, rebuilds;
    medians over `runs` for the cheap ops, single-shot for rebuild."""
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import ivfindex as IX
    from cernbox_migration_database_spark.operators import similarity as S
    from cernbox_migration_database_spark.operators import (
        table_format as TF,
    )

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    runs = int(argv[2]) if len(argv) > 2 else 3
    spark = get_spark(app_name="scale-check-ivfdrift")
    replica = build_dedup_replica(spark, sf_dir, k)

    def lifecycle(d, tag, trim=None):
        work = tempfile.mkdtemp(prefix=f"cbx_ivfdrift_{tag}_")
        base, idx = os.path.join(work, "emb"), os.path.join(work, "idx")
        emb = spark.read.parquet(
            os.path.join(d, "embeddings.parquet")
        ).select("vec_id", "embedding")
        if trim:
            emb = emb.where(F.col("vec_id") < trim)
        TF.create_table(emb, base)
        t0 = time.monotonic()
        IX.build_ivf_index(spark, base, idx, S.seed_centroids(emb, k=16))
        build = time.monotonic() - t0
        reports = []
        for _ in range(runs + 1):
            t0 = time.monotonic()
            IX.ivf_drift_report(spark, idx)
            reports.append(time.monotonic() - t0)
        # fixed-size drifted fold: 100 re-embedded vectors, any scale
        drifted = (
            emb.orderBy("vec_id").limit(100)
            .select(
                (F.col("vec_id") + 5_000_000_000).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x: (
                        x.cast("double") * F.lit(0.0625) + F.lit(4.0)
                    ).cast("float"),
                ).alias("embedding"),
            )
        )
        TF.merge_into(spark, base, drifted, on="vec_id", when_matched=None)
        t0 = time.monotonic()
        IX.refresh_ivf_index(spark, idx)
        fold = time.monotonic() - t0
        rep = IX.ivf_drift_report(spark, idx, share_factor=1.01)
        t0 = time.monotonic()
        cents = IX.replan_centroids(
            spark, idx, rep["hot_cells"][:1], rep["empty_cells"]
        )
        IX.rebuild_ivf_index(spark, idx, cents)
        rebuild = time.monotonic() - t0
        shutil.rmtree(work, ignore_errors=True)
        U.release_persisted()
        return {
            "build_sec": round(build, 3),
            "report_sec": round(statistics.median(reports[1:]), 3),
            "fold_sec": round(fold, 3),
            "rebuild_sec": round(rebuild, 3),
        }

    # throwaway warm-up: the first lifecycle in a session pays JVM +
    # codegen for every plan shape (measured 4-5x on the 1x leg) — pay
    # it on a 200-vector corpus so both timed legs start warm
    lifecycle(sf_dir, "warm", trim=200)
    # and let the replica/warm-up load decay before the timed legs
    time.sleep(float(os.environ.get("SPARK_GRAFT_SCALE_COOLDOWN", "0")))
    out = {}
    for tag, d in (("1x", sf_dir), (f"{k}x", replica)):
        out[tag] = lifecycle(d, tag)
    kx = f"{k}x"
    print(
        json.dumps(
            {
                "metric": "scale_check_ivfdrift",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "scales": out,
                "report_ratio": round(
                    out[kx]["report_sec"] / out["1x"]["report_sec"], 2
                ),
                "fold_ratio": round(
                    out[kx]["fold_sec"] / out["1x"]["fold_sec"], 2
                ),
                "rebuild_ratio": round(
                    out[kx]["rebuild_sec"] / out["1x"]["rebuild_sec"], 2
                ),
            }
        )
    )
    shutil.rmtree(replica, ignore_errors=True)
    return 0


def replan_mode_main(argv: list[str]) -> int:
    """--replan: replan_centroids latency vs HOT-CELL COUNT (r11 verdict
    item 7). Since r12 every pick round is ONE grouped min_by job over a
    PERSISTED union of the hot-cell partitions, so a drift event naming
    16 hot cells pays constant job count and one storage scan; the
    residual growth is the data-proportional term (16x the member rows
    flow through the per-round aggregate — unavoidable for an exact
    greedy pick). Builds one 32-cell index at sf, then times
    replan_centroids(per_cell=2) for |hot| in {1, 4, 16} — the claim is
    latency SUBLINEAR in hot-cell count (16x cells well under 16x
    time), not flatness."""
    import tempfile

    from cernbox_migration_database_spark.operators import ivfindex as IX
    from cernbox_migration_database_spark.operators import similarity as S
    from cernbox_migration_database_spark.operators import (
        table_format as TF,
    )

    sf_dir = argv[0] if len(argv) > 0 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    runs = int(argv[1]) if len(argv) > 1 else 3
    spark = get_spark(app_name="scale-check-replan")
    work = tempfile.mkdtemp(prefix="cbx_replan_")
    base, idx = os.path.join(work, "emb"), os.path.join(work, "idx")
    emb = spark.read.parquet(
        os.path.join(sf_dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    TF.create_table(emb, base)
    IX.build_ivf_index(spark, base, idx, S.seed_centroids(emb, k=32))
    out = {}
    for n_hot in (1, 4, 16):
        times = []
        for _ in range(runs + 1):  # first run is codegen warm-up
            t0 = time.monotonic()
            cents = IX.replan_centroids(
                spark, idx, list(range(n_hot)), per_cell=2
            )
            times.append(time.monotonic() - t0)
        assert len(cents) == 32 + 2 * n_hot, len(cents)
        out[str(n_hot)] = round(statistics.median(times[1:]), 3)
        U.release_persisted()
    print(
        json.dumps(
            {
                "metric": "scale_check_replan",
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "hot_cells_sec": out,
                "ratio_16x_vs_1x": round(out["16"] / out["1"], 2),
            }
        )
    )
    shutil.rmtree(work, ignore_errors=True)
    return 0


def lshindex_mode_main(argv: list[str]) -> int:
    """--lshindex: does the near-dup index keep probe cost flat while the
    corpus grows? Corpus at 1x and kx (replication-safe dedup replica —
    shard-disjoint vocabularies, probe batch lives in shard 0 so probe
    SELECTIVITY is fixed while the corpus scales). Times (a) the index
    build (one corpus signature pass — amortized), (b) the bucket-pruned
    probe of a fixed batch, and (c) the one-shot alternative a
    non-indexed pipeline pays: minhash_lsh_dedup over corpus ∪ batch.
    Grades: probe ratio kx/1x (flat is the claim — the probed buckets
    hold ~k x the rows but candidates stay shard-local) and probe vs
    one-shot at kx."""
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import dedup as D
    from cernbox_migration_database_spark.operators import lshindex as LX
    from cernbox_migration_database_spark.operators import table_format as TF

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    runs = int(argv[2]) if len(argv) > 2 else 3
    spark = get_spark(app_name="scale-check-lshindex")
    replica = build_dedup_replica(spark, sf_dir, k)
    out = {}
    for tag, d in (("1x", sf_dir), (f"{k}x", replica)):
        docs = spark.read.parquet(os.path.join(d, "documents.parquet")).select(
            "doc_id", "text"
        )
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        # fixed probe batch: shard 0's %10==0 docs at BOTH scales
        batch = docs.where(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1_000_000_000)
        )
        with tempfile.TemporaryDirectory() as tdir:
            base, idx = os.path.join(tdir, "docs"), os.path.join(tdir, "idx")
            TF.create_table(corpus, base)
            t0 = time.monotonic()
            LX.build_lsh_index(spark, base, idx)
            build = time.monotonic() - t0
            probes = []
            for _ in range(runs + 1):
                t0 = time.monotonic()
                LX.probe_lsh_index(spark, idx, batch, threshold=0.5).collect()
                probes.append(time.monotonic() - t0)
            t0 = time.monotonic()
            D.minhash_lsh_dedup(
                corpus.unionByName(batch), threshold=0.5
            ).collect()
            oneshot = time.monotonic() - t0
        out[tag] = {
            "build_sec": round(build, 3),
            "probe_sec": round(statistics.median(probes[1:]), 3),
            "oneshot_lsh_sec": round(oneshot, 3),
        }
        U.release_persisted()
    kx = f"{k}x"
    print(
        json.dumps(
            {
                "metric": "scale_check_lshindex",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "scales": out,
                "probe_ratio": round(
                    out[kx]["probe_sec"] / out["1x"]["probe_sec"], 2
                ),
                "build_ratio": round(
                    out[kx]["build_sec"] / out["1x"]["build_sec"], 2
                ),
                "probe_vs_oneshot_kx": round(
                    out[kx]["probe_sec"] / out[kx]["oneshot_lsh_sec"], 2
                ),
            }
        )
    )
    shutil.rmtree(replica, ignore_errors=True)
    return 0


def clusterindex_mode_main(argv: list[str]) -> int:
    """--clusterindex: does duplicate-cluster INGEST stay batch-bound
    while the settled corpus grows? Corpus at 1x and kx (dedup replica —
    disjoint shard vocabularies), a FIXED batch (shard-0 %10==0 docs,
    re-tagged with fresh ids) ingested into the standing cluster map vs
    the non-incremental alternative: re-clustering the whole corpus from
    scratch. Grades: ingest ratio kx/1x (flat is the claim) and ingest
    vs full re-cluster at kx."""
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import clusterindex as CI
    from cernbox_migration_database_spark.operators import lshindex as LX
    from cernbox_migration_database_spark.operators import table_format as TF

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="scale-check-clusterindex")
    replica = build_dedup_replica(spark, sf_dir, k)
    out = {}
    for tag, d in (("1x", sf_dir), (f"{k}x", replica)):
        docs = spark.read.parquet(
            os.path.join(d, "documents.parquet")
        ).select("doc_id", "text")
        corpus = docs.where(F.col("doc_id") % 10 != 0)
        batch = docs.where(
            (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 1_000_000_000)
        ).select((F.col("doc_id") + 5_000_000_000).alias("doc_id"), "text")
        with tempfile.TemporaryDirectory() as tdir:
            base, idx, cl = (
                os.path.join(tdir, "docs"),
                os.path.join(tdir, "idx"),
                os.path.join(tdir, "cl"),
            )
            TF.create_table(corpus, base)
            LX.build_lsh_index(spark, base, idx)
            t0 = time.monotonic()
            CI.build_cluster_index(spark, idx, cl, threshold=0.5)
            build = time.monotonic() - t0
            TF.merge_into(
                spark, base, batch, on="doc_id", when_matched=None
            )
            t0 = time.monotonic()
            CI.ingest_clusters(spark, cl)
            ingest = time.monotonic() - t0
            # the non-incremental alternative on the grown corpus: a
            # from-scratch pass must rebuild BOTH artifacts the
            # incremental path maintains (index + map)
            idx2, cl2 = os.path.join(tdir, "idx2"), os.path.join(tdir, "cl2")
            t0 = time.monotonic()
            LX.build_lsh_index(spark, base, idx2)
            CI.build_cluster_index(spark, idx2, cl2, threshold=0.5)
            recluster = time.monotonic() - t0
        out[tag] = {
            "initial_cluster_sec": round(build, 3),
            "ingest_sec": round(ingest, 3),
            "full_recluster_sec": round(recluster, 3),
        }
        U.release_persisted()
    kx = f"{k}x"
    print(
        json.dumps(
            {
                "metric": "scale_check_clusterindex",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "scales": out,
                "ingest_ratio": round(
                    out[kx]["ingest_sec"] / out["1x"]["ingest_sec"], 2
                ),
                "ingest_vs_recluster_kx": round(
                    out[kx]["ingest_sec"] / out[kx]["full_recluster_sec"], 2
                ),
            }
        )
    )
    shutil.rmtree(replica, ignore_errors=True)
    return 0


def joinview_mode_main(argv: list[str]) -> int:
    """--joinview: does incremental join-view refresh stay delta-bound
    while the fact table scales? A = orders replicated k-fold into
    disjoint key SHARDS, partitioned BY shard — the years-deep-table
    shape where growth adds partitions and churn stays in the recent one.
    B = customer (dims don't scale). At 1x and kx, three wall-times:
    (a) ``full_rebuild_sec`` — what a non-incremental pipeline pays: the
    whole A⋈B re-joined, bag-aggregated and re-written (grows ~k);
    (b) ``fact_refresh_sec`` — a fixed-size churn confined to shard 0,
    refreshed through the counting algorithm: the change feed prunes the
    diff to the touched shard, so cost is k-INDEPENDENT;
    (c) ``dim_refresh_sec`` — a fixed dim churn, whose A₀⋈ΔB half
    honestly scans A once (grows with k, but skips the full rebuild's
    view-sized shuffle+write). Grades: fact-refresh kx/1x (~flat is the
    claim) and each refresh vs the full rebuild at kx."""
    import functools
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import joinview as JV
    from cernbox_migration_database_spark.operators import table_format as TF

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="scale-check-joinview")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        F.col("o_custkey").alias("custkey"), "o_orderkey", "o_totalprice"
    )
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    # untimed warm-up starts the scan and join code paths; each run(mult)
    # below plans a different union, so it still compiles its own classes
    orders.join(cust, "custkey").count()

    def run(mult: int) -> dict:
        a = functools.reduce(
            lambda x, y: x.unionByName(y),
            [
                orders.select(
                    "custkey",
                    (F.col("o_orderkey") + 10_000_000 * i).alias("o_orderkey"),
                    "o_totalprice",
                    F.lit(i).alias("shard"),
                )
                for i in range(mult)
            ],
        )
        with tempfile.TemporaryDirectory() as d:
            a_root, b_root, mv, rb = (
                os.path.join(d, "a"), os.path.join(d, "b"),
                os.path.join(d, "mv"), os.path.join(d, "rebuild"),
            )
            TF.create_table(a, a_root, partition_by="shard")
            TF.create_table(cust, b_root)
            JV.create_join_view(
                spark, a_root, b_root, mv,
                on="custkey", a_key="o_orderkey", b_key="custkey",
                a_cols=["o_orderkey", "o_totalprice", "shard"],
                b_cols=["c_mktsegment"],
            )
            # fixed-size fact churn confined to shard 0
            delta = (
                orders.where(F.col("o_orderkey") % 83 == 0)
                .withColumn("o_totalprice", F.col("o_totalprice") + 1)
                .withColumn("shard", F.lit(0))
            )
            TF.merge_into(
                spark, a_root, delta, on="o_orderkey", when_not_matched=None
            )
            t0 = time.monotonic()
            JV.refresh_join_view(spark, mv)
            fact_s = time.monotonic() - t0
            # fixed-size dim churn: its delta half scans A0 once
            dim_delta = cust.where(F.col("custkey") % 10 == 0).withColumn(
                "c_mktsegment", F.lit("MOVED")
            )
            TF.merge_into(
                spark, b_root, dim_delta, on="custkey", when_not_matched=None
            )
            t0 = time.monotonic()
            JV.refresh_join_view(spark, mv)
            dim_s = time.monotonic() - t0
            # the non-incremental alternative: full re-join + re-write
            t0 = time.monotonic()
            TF.create_table(
                JV._bag(
                    TF.read_table(spark, a_root)
                    .select("custkey", "o_orderkey", "o_totalprice", "shard")
                    .join(
                        TF.read_table(spark, b_root).select(
                            "custkey", "c_mktsegment"
                        ),
                        "custkey",
                    ),
                    ["custkey", "o_orderkey", "o_totalprice", "shard",
                     "c_mktsegment"],
                ),
                rb,
            )
            full_s = time.monotonic() - t0
            U.release_persisted()
            return {
                "full_rebuild_sec": round(full_s, 2),
                "fact_refresh_sec": round(fact_s, 2),
                "dim_refresh_sec": round(dim_s, 2),
            }

    r1, rk = run(1), run(k)
    print(
        json.dumps(
            {
                "metric": "scale_check_joinview",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "at_1x": r1,
                f"at_{k}x": rk,
                "fact_refresh_ratio": round(
                    rk["fact_refresh_sec"] / max(r1["fact_refresh_sec"], 1e-9), 2
                ),
                "fact_refresh_vs_full_at_k": round(
                    rk["fact_refresh_sec"] / max(rk["full_rebuild_sec"], 1e-9), 2
                ),
                "dim_refresh_vs_full_at_k": round(
                    rk["dim_refresh_sec"] / max(rk["full_rebuild_sec"], 1e-9), 2
                ),
            }
        )
    )
    return 0


def branch_mode_main(argv: list[str]) -> int:
    """--branch: do the table-branching costs track CHANGES, not table
    size? Orders replicated k-fold into disjoint key shards (the
    histstore-mode base shape: partition-scoped commits keep the rebase
    diff prunable). At 1x and kx:
      * ``fork_sec`` / ``fork_new_bytes`` — create_branch: hardlink clone,
        zero new data bytes at any scale (O(#files) wall);
      * ``ff_sec`` / ``ff_new_bytes`` — fast-forward merge after a
        shard-0-confined branch update: one hardlink commit, zero new
        bytes on main (the branch already paid its COW rewrite);
      * ``rebase_sec`` — merge after BOTH sides moved (branch in shard 0,
        main in shard 1): the conflict check + change-feed replay prune
        to the touched shards, so the wall is churn-bound, ~flat in k.
    """
    import functools
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import table_format as TF

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="scale-check-branch")
    orders = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.groupBy("o_orderpriority").count().count()  # warm-up

    def parquet_stats(vdir, prev_inodes):
        new_b = linked_b = 0
        for dp, _, fs in os.walk(vdir):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                st = os.stat(os.path.join(dp, f))
                if st.st_ino in prev_inodes:
                    linked_b += st.st_size
                else:
                    new_b += st.st_size
        return new_b, linked_b

    def inodes(vdir):
        return {
            os.stat(os.path.join(dp, f)).st_ino
            for dp, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        }

    def run(mult: int) -> dict:
        base_df = functools.reduce(
            lambda x, y: x.unionByName(y),
            [
                orders.select(
                    (F.col("o_orderkey") + 10_000_000 * i).alias(
                        "o_orderkey"
                    ),
                    "o_orderpriority",
                    "o_totalprice",
                    F.lit(i).alias("shard"),
                )
                for i in range(mult)
            ],
        )
        with tempfile.TemporaryDirectory() as d:
            root = os.path.join(d, "t")
            TF.create_table(base_df, root, partition_by="shard")
            base_ino = inodes(TF._vdir(root, 1))
            t0 = time.monotonic()
            b1 = TF.create_branch(root, "ff")
            fork_s = time.monotonic() - t0
            fork_new, fork_linked = parquet_stats(TF._vdir(b1, 1), base_ino)
            # shard-0-confined fixed-size branch churn
            TF.update_where(
                spark, b1, "shard = 0 AND o_orderkey % 7 = 0",
                {"o_totalprice": "o_totalprice * 2"},
            )
            head_ino = inodes(TF._vdir(b1, TF.current_version(b1)))
            t0 = time.monotonic()
            r = TF.merge_branch(spark, root, "ff", key="o_orderkey")
            ff_s = time.monotonic() - t0
            assert r["mode"] == "ff", r
            ff_new, _ = parquet_stats(TF._vdir(root, r["version"]), head_ino)
            # rebase: branch churn in shard 0, main churn in shard 1
            TF.create_branch(root, "rb")
            b2 = TF.branch_root(root, "rb")
            TF.update_where(
                spark, b2, "shard = 0 AND o_orderkey % 11 = 0",
                {"o_totalprice": "o_totalprice + 1"},
            )
            TF.update_where(
                spark, root, "shard = 1 AND o_orderkey % 13 = 0",
                {"o_totalprice": "o_totalprice + 2"},
            )
            t0 = time.monotonic()
            r2 = TF.merge_branch(spark, root, "rb", key="o_orderkey")
            rebase_s = time.monotonic() - t0
            assert r2["mode"] == "rebase", r2
            return {
                "fork_sec": round(fork_s, 3),
                "fork_new_bytes": fork_new,
                "fork_linked_bytes": fork_linked,
                "ff_sec": round(ff_s, 3),
                "ff_new_bytes": ff_new,
                "rebase_sec": round(rebase_s, 3),
            }

    one, kx = run(1), run(k)
    out = {
        "mode": "branch",
        "k": k,
        "sf_dir": sf_dir,
        "t1": one,
        "tk": kx,
        "fork_ratio_kx_vs_1x": round(kx["fork_sec"] / one["fork_sec"], 3),
        "ff_ratio_kx_vs_1x": round(kx["ff_sec"] / one["ff_sec"], 3),
        "rebase_ratio_kx_vs_1x": round(
            kx["rebase_sec"] / one["rebase_sec"], 3
        ),
        "zero_copy": kx["fork_new_bytes"] == 0 and kx["ff_new_bytes"] == 0,
    }
    print(json.dumps(out))
    return 0


def r6_mode_main(argv: list[str]) -> int:
    """--r6: the round-6 lakehouse components at k-fold fact growth.
    One versioned orders table, replicated into k disjoint key shards
    (partition column = shard — growth adds partitions), graded on:

    * ``aggpush``: metadata-only partition_agg vs the same GROUP BY as a
      full scan. The claim: aggpush answers from the manifest (driver-
      side, O(#files)), so its wall time stays near-zero and ~flat in k
      while the scan grows.
    * ``resultcache``: cached() miss (compute + publish) vs hit (serve
      the pinned result parquet). The claim: hit cost is result-sized,
      i.e. flat in k; miss tracks the underlying aggregation.
    * ``txn``: MultiTableTxn commit latency with TWO writers contending
      on one catalog (disjoint table pairs, shared catalog lock). The
      claim: commit() is a metadata pointer swap — flat in k and in the
      face of contention (lock wait, not data IO).
    * ``connector``: the same aggregate through the cbxtable Python
      DataSource vs the native JVM read — the Arrow-boundary overhead
      ratio, which must stay bounded as data grows.
    """
    import functools
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import aggpush as AP
    from cernbox_migration_database_spark.operators import resultcache as RC
    from cernbox_migration_database_spark.operators import table_format as TF
    from cernbox_migration_database_spark.operators import txn as TX
    from cernbox_migration_database_spark.sources import cbx_datasource as DS

    k = int(argv[0]) if len(argv) > 0 else 10
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="scale-check-r6")
    DS.register(spark)
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    orders.count()  # warm codegen/footers

    def fact(mult: int):
        return functools.reduce(
            lambda x, y: x.unionByName(y),
            [
                orders.select(
                    (F.col("o_orderkey") + 10_000_000 * i).alias("o_orderkey"),
                    "o_orderpriority",
                    "o_totalprice",
                    F.lit(i).alias("shard"),
                )
                for i in range(mult)
            ],
        )

    def run(mult: int) -> dict:
        out: dict = {}
        with tempfile.TemporaryDirectory() as d:
            root = os.path.join(d, "t")
            TF.create_table(fact(mult), root, partition_by="shard")

            # -- connector vs native (same full aggregate) --------------
            def agg(df):
                return df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("o_totalprice").alias("s"),
                ).collect()

            def timed(df_fn, reps: int = 5) -> float:
                """Median of reps warm timings — these are sub-second
                ops on a co-tenant box; a single shot grades the
                neighbors, not the connector."""
                import statistics as _st

                agg(df_fn())  # warm
                ts = []
                for _ in range(reps):
                    t0 = time.monotonic()
                    agg(df_fn())
                    ts.append(time.monotonic() - t0)
                return round(_st.median(ts), 3)

            out["native_read_sec"] = timed(
                lambda: TF.read_table(spark, root)
            )
            out["connector_read_sec"] = timed(
                lambda: spark.read.format("cbxtable").load(root)
            )
            # the projection-pruned connector read: the Python DS API has
            # no column-pruning hook, so the `columns` option is how a
            # user keeps a wide-table aggregate from shipping every
            # column through Arrow — native Catalyst prunes automatically,
            # making THIS the like-for-like comparison
            out["connector_pruned_read_sec"] = timed(
                lambda: spark.read.format("cbxtable")
                .option("columns", "o_totalprice")
                .load(root)
            )

            # -- aggpush vs scan ----------------------------------------
            t0 = time.monotonic()
            AP.partition_agg(spark, root, cols=("o_totalprice",)).collect()
            out["aggpush_sec"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            (
                TF.read_table(spark, root)
                .groupBy("shard")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.min("o_totalprice"),
                    F.max("o_totalprice"),
                )
                .collect()
            )
            out["scan_agg_sec"] = round(time.monotonic() - t0, 3)

            # -- result cache: miss then hit ----------------------------
            cache = os.path.join(d, "cache")

            def build(sp, pinned):
                return (
                    pinned["t"]
                    .groupBy("o_orderpriority")
                    .agg(F.sum("o_totalprice").alias("s"))
                )

            t0 = time.monotonic()
            RC.cached(spark, cache, "agg", {"t": root}, build).collect()
            out["cache_miss_sec"] = round(time.monotonic() - t0, 3)
            t0 = time.monotonic()
            RC.cached(spark, cache, "agg", {"t": root}, build).collect()
            out["cache_hit_sec"] = round(time.monotonic() - t0, 3)

            # -- txn commit under 2-writer contention -------------------
            roots = {}
            for n in ("a", "b", "c", "d"):
                roots[n] = os.path.join(d, n)
                TF.create_table(
                    fact(mult) if n in ("a", "c") else orders.limit(1000),
                    roots[n],
                )
            cat = os.path.join(d, "catalog.json")
            TX.create_catalog(cat, {n: r for n, r in roots.items()})
            delta = orders.limit(500).withColumn(
                "o_totalprice", F.col("o_totalprice") + 1
            ).withColumn("shard", F.lit(0))
            commit_times: list[float] = []

            def writer(pair):
                for _ in range(2):
                    t = TX.MultiTableTxn(cat)
                    for n in pair:
                        src = delta if n in ("a", "c") else delta.drop("shard")
                        t.stage(
                            n,
                            lambda r, s=src: TF.merge_into(
                                spark, r, s, on="o_orderkey",
                                when_not_matched=None, publish=False,
                            ),
                        )
                    t0 = time.monotonic()
                    t.commit()
                    commit_times.append(time.monotonic() - t0)

            with ThreadPoolExecutor(max_workers=2) as ex:
                list(ex.map(writer, [("a", "b"), ("c", "d")]))
            out["txn_commit_mean_sec"] = round(
                statistics.mean(commit_times), 3
            )
            out["txn_commit_max_sec"] = round(max(commit_times), 3)
            U.release_persisted()
        return out

    r1, rk = run(1), run(k)
    ratio = lambda key: round(rk[key] / max(r1[key], 1e-9), 2)  # noqa: E731
    print(
        json.dumps(
            {
                "metric": "scale_check_r6",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "at_1x": r1,
                f"at_{k}x": rk,
                "ratios_kx_over_1x": {
                    key: ratio(key)
                    for key in (
                        "aggpush_sec",
                        "scan_agg_sec",
                        "cache_hit_sec",
                        "cache_miss_sec",
                        "txn_commit_mean_sec",
                        "connector_read_sec",
                        "native_read_sec",
                    )
                },
                "connector_over_native_at_k": round(
                    rk["connector_read_sec"]
                    / max(rk["native_read_sec"], 1e-9),
                    2,
                ),
                "connector_pruned_over_native_at_k": round(
                    rk["connector_pruned_read_sec"]
                    / max(rk["native_read_sec"], 1e-9),
                    2,
                ),
                "aggpush_over_scan_at_k": round(
                    rk["aggpush_sec"] / max(rk["scan_agg_sec"], 1e-9), 2
                ),
                "cache_hit_over_miss_at_k": round(
                    rk["cache_hit_sec"] / max(rk["cache_miss_sec"], 1e-9), 2
                ),
            }
        )
    )
    return 0


def histstore_mode_main(argv: list[str]) -> int:
    """--histstore: does the quantile histogram store stay delta-bound and
    state-bound while the base scales? Orders replicated k-fold into
    disjoint key shards. At 1x and kx, three wall-times: (a)
    ``full_rebuild_sec`` — re-deriving every bin count from the base
    (grows ~k); (b) ``refresh_sec`` — a FIXED-size mixed delete+insert
    window folded through the change feed (delta-bound, the ~flat claim);
    (c) ``estimate_sec`` — quantiles over 3 scopes served from the
    state table alone (state-bound: ≤ nbins·|parts| rows regardless of
    base size — flat is the whole point of the store)."""
    import functools
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import histstore as HS
    from cernbox_migration_database_spark.operators import table_format as TF

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="scale-check-histstore")
    orders = spark.read.parquet(
        os.path.join(sf_dir, "orders.parquet")
    ).select("o_orderkey", "o_orderpriority", "o_totalprice")
    orders.groupBy("o_orderpriority").count().count()  # warm-up

    def run(mult: int) -> dict:
        # shard-partitioned replica, churn confined to shard 0: commits
        # stay partition-scoped, so read_changes prunes its snapshot
        # diffs to the touched shard — the years-deep-table shape where
        # a delta-bound refresh is actually delta-bound (an UNPARTITIONED
        # base makes the CDF diff itself scan everything, and refresh
        # would grow with the base no matter how small the window)
        base_df = functools.reduce(
            lambda x, y: x.unionByName(y),
            [
                orders.select(
                    (F.col("o_orderkey") + 10_000_000 * i).alias(
                        "o_orderkey"
                    ),
                    "o_orderpriority",
                    "o_totalprice",
                    F.lit(i).alias("shard"),
                )
                for i in range(mult)
            ],
        )
        with tempfile.TemporaryDirectory() as d:
            root, store = os.path.join(d, "base"), os.path.join(d, "hist")
            TF.create_table(base_df, root, partition_by="shard")
            t0 = time.monotonic()
            HS.build_hist_store(
                spark, root, store,
                part_col="o_orderpriority", value_col="o_totalprice",
                key="o_orderkey", nbins=64,
            )
            rebuild_s = time.monotonic() - t0
            # FIXED-size churn regardless of mult, all inside shard 0
            TF.delete_where(
                spark, root,
                "shard = 0 AND o_orderkey % 97 = 0",
            )
            ins = orders.where(F.col("o_orderkey") % 89 == 0).select(
                (F.col("o_orderkey") + 900_000_000).alias("o_orderkey"),
                "o_orderpriority",
                "o_totalprice",
                F.lit(0).alias("shard"),
            )
            TF.merge_into(
                spark, root, ins, on="o_orderkey", when_matched=None
            )
            t0 = time.monotonic()
            HS.refresh_hist_store(spark, store)
            refresh_s = time.monotonic() - t0
            t0 = time.monotonic()
            HS.estimate_quantiles(
                spark, store,
                {"all": None, "urgent": ["1-URGENT", "2-HIGH"],
                 "low": ["5-LOW"]},
            ).collect()
            estimate_s = time.monotonic() - t0
            return {
                "full_rebuild_sec": round(rebuild_s, 3),
                "refresh_sec": round(refresh_s, 3),
                "estimate_sec": round(estimate_s, 3),
            }

    one, kx = run(1), run(k)
    out = {
        "mode": "histstore",
        "k": k,
        "sf_dir": sf_dir,
        "t1": one,
        "tk": kx,
        "refresh_ratio_kx_vs_1x": round(
            kx["refresh_sec"] / one["refresh_sec"], 3
        ),
        "estimate_ratio_kx_vs_1x": round(
            kx["estimate_sec"] / one["estimate_sec"], 3
        ),
        "rebuild_ratio_kx_vs_1x": round(
            kx["full_rebuild_sec"] / one["full_rebuild_sec"], 3
        ),
        "refresh_vs_rebuild_at_kx": round(
            kx["refresh_sec"] / kx["full_rebuild_sec"], 3
        ),
    }
    print(json.dumps(out))
    return 0


def freqstore_mode_main(argv: list[str]) -> int:
    """--freqstore: does the heavy-hitters store stay delta-bound and
    state-bound while the corpus scales? Documents replicated k-fold into
    disjoint key shards (texts reused — CMS counters scale k-fold, which
    is fine: the sketch is weight-agnostic). At 1x and kx: (a)
    ``full_rebuild_sec`` — sketch + candidates from the whole corpus
    (grows ~k); (b) ``refresh_sec`` — a FIXED-size insert+delete window
    folded through the change feed (delta-bound claim); (c)
    ``serve_sec`` — heavy_hitters() from store state alone (state-bound:
    depth x width counters + <= 2/theta candidates, flat)."""
    import functools
    import tempfile

    from pyspark.sql import functions as F

    from cernbox_migration_database_spark.operators import freqstore as FS
    from cernbox_migration_database_spark.operators import table_format as TF

    k = int(argv[0]) if len(argv) > 0 else 5
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark(app_name="scale-check-freqstore")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    docs.limit(5).count()  # warm-up

    def run(mult: int) -> dict:
        base_df = functools.reduce(
            lambda x, y: x.unionByName(y),
            [
                docs.select(
                    (F.col("doc_id") + 10_000_000 * i).alias("doc_id"),
                    "text",
                    F.lit(i).alias("shard"),
                )
                for i in range(mult)
            ],
        )
        with tempfile.TemporaryDirectory() as d:
            root, store = os.path.join(d, "docs"), os.path.join(d, "freq")
            TF.create_table(base_df, root, partition_by="shard")
            t0 = time.monotonic()
            FS.build_freq_store(
                spark, root, store, key="doc_id",
                theta_num=1, theta_den=32,
            )
            rebuild_s = time.monotonic() - t0
            # FIXED-size churn regardless of mult, confined to shard 0
            # so the CDF snapshot diff stays partition-pruned
            TF.delete_where(
                spark, root, "shard = 0 AND doc_id % 97 = 0"
            )
            ins = docs.where(F.col("doc_id") % 89 == 0).select(
                (F.col("doc_id") + 900_000_000).alias("doc_id"),
                "text",
                F.lit(0).alias("shard"),
            )
            TF.merge_into(
                spark, root, ins, on="doc_id", when_matched=None
            )
            t0 = time.monotonic()
            FS.refresh_freq_store(spark, store)
            refresh_s = time.monotonic() - t0
            t0 = time.monotonic()
            FS.heavy_hitters(spark, store).collect()
            serve_s = time.monotonic() - t0
            return {
                "full_rebuild_sec": round(rebuild_s, 3),
                "refresh_sec": round(refresh_s, 3),
                "serve_sec": round(serve_s, 3),
            }

    run(1)  # throwaway: pay store-path codegen/JIT before measuring
    one, kx = run(1), run(k)
    out = {
        "mode": "freqstore",
        "k": k,
        "sf_dir": sf_dir,
        "t1": one,
        "tk": kx,
        "refresh_ratio_kx_vs_1x": round(
            kx["refresh_sec"] / one["refresh_sec"], 3
        ),
        "serve_ratio_kx_vs_1x": round(
            kx["serve_sec"] / one["serve_sec"], 3
        ),
        "rebuild_ratio_kx_vs_1x": round(
            kx["full_rebuild_sec"] / one["full_rebuild_sec"], 3
        ),
        "refresh_vs_rebuild_at_kx": round(
            kx["refresh_sec"] / kx["full_rebuild_sec"], 3
        ),
    }
    print(json.dumps(out))
    return 0



def main() -> int:
    argv = list(sys.argv[1:])
    if "--_time-one" in argv:  # internal: one (query, dir) in this process
        i = argv.index("--_time-one")
        name, d, runs = argv[i + 1], argv[i + 2], int(argv[i + 3])
        spark = get_spark(app_name=f"scale-one-{name}")
        print(f"T={time_query(spark, name, d, runs)}")
        return 0
    isolate = "--isolate" in argv
    if isolate:
        argv.remove("--isolate")
    dedup_mode = "--dedup" in argv
    if "--table" in argv:
        argv.remove("--table")
        return table_mode_main(argv)
    if "--textindex" in argv:
        argv.remove("--textindex")
        return textindex_mode_main(argv)
    if "--joinview" in argv:
        argv.remove("--joinview")
        return joinview_mode_main(argv)
    if "--r6" in argv:
        argv.remove("--r6")
        return r6_mode_main(argv)
    if "--lshindex" in argv:
        argv.remove("--lshindex")
        return lshindex_mode_main(argv)
    if "--ivfdrift" in argv:
        argv.remove("--ivfdrift")
        return ivfdrift_mode_main(argv)
    if "--replan" in argv:
        argv.remove("--replan")
        return replan_mode_main(argv)
    if "--clusterindex" in argv:
        argv.remove("--clusterindex")
        return clusterindex_mode_main(argv)
    if "--histstore" in argv:
        argv.remove("--histstore")
        return histstore_mode_main(argv)
    if "--freqstore" in argv:
        argv.remove("--freqstore")
        return freqstore_mode_main(argv)
    if "--branch" in argv:
        argv.remove("--branch")
        return branch_mode_main(argv)
    if dedup_mode:
        argv.remove("--dedup")
    k = int(argv[0]) if len(argv) > 0 else (5 if dedup_mode else 10)
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    runs = int(argv[2]) if len(argv) > 2 else 3
    spark = get_spark(app_name="scale-check")
    if dedup_mode:
        replica = build_dedup_replica(spark, sf_dir, k)
        names = DEDUP_QUERIES
    else:
        replica = build_replica(sf_dir, k)
        names = QUERIES
    results = {}
    timer = (
        (lambda n, d: time_query_isolated(n, d, runs))
        if isolate
        else (lambda n, d: time_query(spark, n, d, runs))
    )
    for name in names:
        t1 = timer(name, sf_dir)
        tk = timer(name, replica)
        results[name] = {
            "t_1x_sec": round(t1, 3),
            f"t_{k}x_sec": round(tk, 3),
            "ratio": round(tk / t1, 2),
            "efficiency": round(tk / (k * t1), 3),
        }
    print(
        json.dumps(
            {
                "metric": "scale_check_dedup" if dedup_mode else "scale_check",
                "k": k,
                "sf_dir": sf_dir,
                "load_avg": round(os.getloadavg()[0], 2),
                "queries": results,
            }
        )
    )
    shutil.rmtree(replica, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
