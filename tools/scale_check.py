"""Scale probe: which layer's cost grows with data volume?

    python tools/scale_check.py [k] [sf_dir] [runs]

``k`` defaults to 8, ``sf_dir`` to ``$SPARK_GRAFT_SF_DIR`` and ``runs`` to 1.
In one ``get_spark`` session the probe measures every case below at 1x and
at kx inputs: one untimed cold pass, then ``runs`` measured passes, whose
per-layer median it reports. A pass is ``tools/profile_query.profile_pass``
(wall; executor, driver, GC, other-thread, Python and JIT CPU; Janino
classes compiled) run inside perfbench's ``Tracer``, which splits the pass
by span from Spark's status stores (jobs, executor CPU, driver idle,
shuffle bytes). The probe measures nothing itself.

Cases:

- ``migrate_small`` and ``pretrain_corpus``: perfbench's workload classes
  over k times their row counts, with inputs generated into a temporary
  directory. Every pass, cold ones included, is checked against DuckDB and
  the generator's truth, and a failed check stops the probe.
- ``QUERIES`` over a replica whose fact tables (lineitem, orders, events)
  are k hard links of the 1x file, so k times the rows and the splits,
  while the dimension tables stay at 1x: the shape of real growth.
- ``DEDUP_QUERIES`` over a replica of k document and embedding shards with
  disjoint content: ids offset per shard and every text token prefixed with
  the shard tag. Copying rows verbatim would pair every copy with every
  other and grow near-duplicate output quadratically, so the workload would
  change, not the plan; sharded, the output stays linear in k. Probe rows
  (``vec_id < 20``) live only in shard 0, so the probe count stays fixed.

Prints one JSON line: per case and layer, the 1x value, the kx value and
``ratio`` = kx / (k * 1x). Near 1 a layer grows linearly with the data;
far below 1 it is a fixed cost (driver, JIT, job count, whose kx / 1x
should be about 1); above 1 it degrades with volume.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "tools")]

import workloads as W  # noqa: E402
from profile_query import profile_pass, run_query  # noqa: E402
from spans import Tracer  # noqa: E402

from cernbox_migration_database_spark.session import get_spark  # noqa: E402

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
    # Bloom probes and repeated-span canonicalization see disjoint per-shard
    # vocabularies. IVF-PQ probes live in shard 0, so the probe count is
    # fixed while cells hold k times the code rows. dedup_semantic_keep is
    # left out: embedding vectors are copied verbatim across shards (only
    # text gets shard tags), so identical copies would pair quadratically.
    "bloom_decontaminate",
    "similarity_ivf_pq",
    "dedup_repeated_spans",
    "similarity_ivfpq_index_probe",
)
WORKLOADS = {
    "migrate_small": lambda k: W.Migrate(k * W.SHARES),
    "pretrain_corpus": lambda k: W.Pretrain(k * W.DOCUMENTS),
}
SEED = 1
# profile_pass columns reported per case; JIT folds in c2, c1 and exited.
PROFILE_LAYERS = ("wall", "exec", "driver", "gc", "other", "py", "jit", "janino")
SPAN_LAYERS = ("s", "jobs", "exec_cpu_s", "driver_idle_s", "shuffle_write_bytes")
# The status stores must keep every job of the run until the end, when the
# spans are read (perfbench's retention).
STATUS_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


def _link(src: str, dst: str) -> None:
    # hard links where possible: k x the logical bytes, 1 x the disk
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy(src, dst)


def build_replica(sf_dir: str, k: int, out: str) -> str:
    """Fact tables as directories of k links to the 1x file; dims at 1x."""
    os.makedirs(out)
    for name in FACTS:
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        for i in range(k):
            _link(os.path.join(sf_dir, f"{name}.parquet"), os.path.join(d, f"copy_{i:02d}.parquet"))
    for name in DIMS:
        _link(os.path.join(sf_dir, f"{name}.parquet"), os.path.join(out, f"{name}.parquet"))
    return out


def build_dedup_replica(spark, sf_dir: str, k: int, out: str) -> str:
    """k-shard documents/embeddings replica with disjoint per-shard content:
    ids offset by shard * 1e9 and every whitespace token prefixed with the
    shard tag (shard 0 keeps the original rows verbatim, so seeds/probes
    keyed on small ids keep working and 1x results embed in the kx run)."""
    from pyspark.sql import functions as F

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
        _link(os.path.join(sf_dir, f"{name}.parquet"), os.path.join(out, f"{name}.parquet"))
    return out


class Probe:
    """Runs passes in one session and keeps their profile rows; every pass
    is one tracer iteration, so its spans can be told apart at the end."""

    def __init__(self, spark, runs: int):
        self.spark, self.runs = spark, runs
        self.pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.tracer = Tracer(spark)
        self.tracer.enabled = True
        self.passes: list[tuple[str, str, bool, dict]] = []

    def measure(self, case: str, scale: str, fn, check=None) -> None:
        """One cold and ``runs`` measured passes of ``fn``; ``check`` gets
        each pass's result, outside its profile."""
        for i in range(1 + self.runs):
            self.tracer.iteration = len(self.passes)
            out = []
            row = profile_pass(self.spark, self.pid, lambda: out.append(fn()))
            if check is not None:
                check(out[0])
            self.passes.append((case, scale, i > 0, row))

    def report(self, k: int) -> dict:
        """``{case: {layer: {"1x", "<k>x", "ratio"}}}`` from the medians of
        the measured passes."""
        spans = self.tracer.collect()
        values: dict[tuple[str, str], list[dict]] = {}
        for it, (case, scale, measured, row) in enumerate(self.passes):
            if not measured:
                continue
            layers = {c: row[c] for c in PROFILE_LAYERS}
            layers["jobs"] = 0
            for name, by_iteration in spans.items():
                m = by_iteration.get(it)
                if m is not None:
                    layers["jobs"] += m["jobs"]
                    layers.update({f"{name}.{c}": m[c] for c in SPAN_LAYERS})
            values.setdefault((case, scale), []).append(layers)
        out: dict[str, dict] = {}
        for case in dict.fromkeys(case for case, *_ in self.passes):
            one, many = _median(values[(case, "1x")]), _median(values[(case, f"{k}x")])
            out[case] = {
                layer: {
                    "1x": round(v1, 3),
                    f"{k}x": round(many.get(layer, 0), 3),
                    "ratio": round(many.get(layer, 0) / (k * v1), 3) if v1 else None,
                }
                for layer, v1 in one.items()
            }
        return out


def _median(rows: list[dict]) -> dict:
    return {key: statistics.median(r.get(key, 0) for r in rows) for key in rows[0]}


def _workload(probe: Probe, case: str, mult: int, scale: str, tmp: str) -> None:
    wl = WORKLOADS[case](mult)
    in_dir, work = os.path.join(tmp, f"{case}_{scale}_in"), os.path.join(tmp, f"{case}_{scale}")
    os.makedirs(work)
    truth = wl.generate(in_dir, SEED)
    wl.prepare(probe.spark, in_dir, work, truth, wl.expect(in_dir, truth))

    def check(r):
        wl.check(r)
        wl.cleanup(r)

    probe.measure(case, scale, lambda: wl.iteration(probe.tracer), check)
    shutil.rmtree(work)


def _query(probe: Probe, name: str, scale: str, sf_dir: str) -> None:
    def run():
        with probe.tracer.span(f"queries.{name}"):
            run_query(probe.spark, name, sf_dir)

    probe.measure(name, scale, run)


def main(argv: list[str]) -> int:
    sf_dir = argv[1] if len(argv) > 1 else os.environ.get("SPARK_GRAFT_SF_DIR")
    if sf_dir is None:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    k = int(argv[0]) if argv else 8
    runs = int(argv[2]) if len(argv) > 2 else 1
    t0 = time.perf_counter()
    spark = get_spark(app_name="scale-check", extra_conf=STATUS_CONF)
    probe = Probe(spark, runs)
    tmp = tempfile.mkdtemp(prefix="scale_check_")
    try:
        for case in WORKLOADS:
            for scale, mult in (("1x", 1), (f"{k}x", k)):
                _workload(probe, case, mult, scale, tmp)
        replica = build_replica(sf_dir, k, os.path.join(tmp, "facts"))
        for name in QUERIES:
            _query(probe, name, "1x", sf_dir)
            _query(probe, name, f"{k}x", replica)
        replica = build_dedup_replica(spark, sf_dir, k, os.path.join(tmp, "dedup"))
        for name in DEDUP_QUERIES:
            _query(probe, name, "1x", sf_dir)
            _query(probe, name, f"{k}x", replica)
        cases = probe.report(k)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    print(json.dumps({
        "metric": "scale_check",
        "k": k,
        "sf_dir": sf_dir,
        "runs": runs,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "probe_s": round(time.perf_counter() - t0, 1),
        "cases": cases,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
