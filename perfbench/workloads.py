"""The workloads, each a closed loop driven by one client.

A workload object prepares its fixtures once (``prepare``), then runs
iterations (``iteration``) until the measuring window ends, and at least
``min_iterations`` of them after the cold one. With a 10 s window on a
4-core machine the minimum outlasts the window, so the number of samples
behind a median is the same from run to run. Every iteration
is checked (``check``) outside its timing; a mismatch or an exception
counts as a failed operation. A workload may also have a ``serve`` phase,
which the traced run runs once after its iterations. Calls into the
program's layers are wrapped in ``tracer.span`` so the traced run can
attribute Spark work to them.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import oracle
from cernbox_migration_database_spark import util as U
from cernbox_migration_database_spark.functions import kv as KV
from cernbox_migration_database_spark.operators import keyindex as KI
from cernbox_migration_database_spark.operators import table_format as TF
from cernbox_migration_database_spark.operators.router import DECISIONS
from cernbox_migration_database_spark.plans import migration as MIG
from cernbox_migration_database_spark.queries import train as TRAIN
from cernbox_migration_database_spark.queries._registry import ORACLE, STAGE_TIMES

_ENRICH = "operators.enrich.lookup_join"

SHARES = 10_000
DOCUMENTS = 500
LOOKUPS = 20
UPDATE_ROWS = 50


class CheckFailed(Exception):
    """An output differed from the oracle or the generator's truth."""


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def _observed(obs: Observation) -> dict:
    """An observation's metrics, or {} when its plan never ran."""
    fut = obs._jo.future() if obs._jo is not None else None
    if fut is None or not fut.isCompleted():
        return {}
    return obs.get


class _Counts:
    """Row counts observed at layer boundaries during one traced iteration.

    ``observe`` adds a metrics node to a plan, so counting costs no extra
    Spark job; the patched functions are restored by ``close``."""

    def __init__(self):
        self.obs: list[tuple[str, Observation]] = []
        self._saved: list[tuple[object, str, object]] = []

    def patch(self, module, name: str, wrapper) -> None:
        orig = getattr(module, name)
        self._saved.append((module, name, orig))
        setattr(module, name, wrapper(orig))

    def close(self) -> None:
        while self._saved:
            module, name, orig = self._saved.pop()
            setattr(module, name, orig)

    def observe(self, key: str, df, *aggs):
        o = Observation()
        self.obs.append((key, o))
        return df.observe(o, *aggs)

    def values(self, spark) -> dict:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out: dict[str, float] = {}
        for key, o in self.obs:
            for k, v in _observed(o).items():
                name = f"{key}.{k}"
                out[name] = out.get(name, 0) + (v or 0)
        return out


def _count_lookup_join(counts: _Counts):
    def wrapper(orig):
        def lookup_join(df, lookup, on, required_col, broadcast=True, stage="lookup"):
            matched, dead = orig(df, lookup, on, required_col, broadcast, stage)
            key = f"operators.enrich.lookup_join.{stage}"
            one = F.count(F.lit(1))
            return (
                counts.observe(key, matched, one.alias("rows_hit")),
                counts.observe(key, dead, one.alias("rows_missed")),
            )
        return lookup_join
    return wrapper


def _count_router(counts: _Counts):
    def wrapper(orig):
        def with_decision(df, *args, **kw):
            routed = orig(df, *args, **kw)
            return counts.observe(
                "operators.router.rows",
                routed,
                *[F.sum(F.when(F.col("decision") == d, 1).otherwise(0)).alias(d) for d in DECISIONS],
            )
        return with_decision
    return wrapper


def _check_truth(expected: dict, m: dict) -> None:
    _expect("oracle audit vs generator", expected["audit"], {
        "ALREADY_POINTS_TO_VERSION_FOLDER": m["already"],
        "NOT_UNDER_HOME": m["nothome"],
        "POINTS_TO_A_VERSION": m["parent"] - m["parent_missing"],
        "DEFAULT": m["default"] - m["create_refused"],
    })
    _expect("oracle dead letters vs generator", expected["dead"], {
        k: v for k, v in {
            "eos_info_by_inode": m["dangling"] + m["unparseable"],
            "eos_info_by_parent_path": m["parent_missing"],
            "versions_folder_create": m["create_refused"],
        }.items() if v
    })


def expected_counts(truth: gen.Truth) -> dict:
    """The layer row counts a traced iteration must observe, from the
    generator's branch mix."""
    m = truth.mix
    return {
        "functions.kv.rows_parsed": truth.n_replies - m["unparseable"],
        "functions.kv.rows_unparsed": m["unparseable"],
        f"{_ENRICH}.eos_info_by_inode.rows_hit": sum(m[b] for b in gen.BRANCHES),
        f"{_ENRICH}.eos_info_by_inode.rows_missed": m["dangling"] + m["unparseable"],
        f"{_ENRICH}.eos_info_by_parent_path.rows_hit": m["parent"] - m["parent_missing"],
        f"{_ENRICH}.eos_info_by_parent_path.rows_missed": m["parent_missing"],
        f"{_ENRICH}.versions_folder_create.rows_hit": m["versions_created"],
        f"{_ENRICH}.versions_folder_create.rows_missed": m["create_refused"],
        **{f"operators.router.rows.{d}": m[b] for d, b in zip(DECISIONS, gen.BRANCHES)},
    }


class Migrate:
    """scan -> parse -> enrich -> route -> create sink -> re-lookup ->
    merge_into a share table partitioned by share_type -> audit and dead
    letters. Each iteration migrates a freshly created table; ``serve``
    then indexes the last one, merges an update batch and looks keys up."""

    # Three warm samples behind the median; at about 6 s each (4 cores)
    # they outlast a 10 s window.
    min_iterations = 3

    def __init__(self, n_shares: int):
        self.rows = n_shares

    def generate(self, in_dir: str, seed: int) -> gen.Truth:
        return gen.generate(in_dir, seed, self.rows, 0)

    def expect(self, in_dir: str, truth: gen.Truth) -> dict:
        """The oracle's outputs, cross-checked against the generator."""
        expected = oracle.migration_expected(in_dir)
        _check_truth(expected, truth.mix)
        return expected

    def prepare(self, spark, in_dir, work, truth, expected) -> None:
        self.spark, self.in_dir, self.work = spark, in_dir, work
        self.truth, self.expected = truth, expected
        self.it = 0
        self.last = None
        self.updated = np.asarray(sorted(truth.after), dtype=np.int64)

    def _meta(self, counts):
        raw = self.spark.read.parquet(os.path.join(self.in_dir, "eos_meta.parquet"))
        kv = KV.parse_kv_map(F.col("raw"))
        parsed = raw.select(
            "inode",
            KV.length_prefixed_value(F.col("raw")).alias("path"),
            kv["uid"].alias("uid"),
            kv["gid"].alias("gid"),
            kv["size"].try_cast("long").alias("size"),
        )
        if counts is not None:
            parsed = counts.observe(
                "functions.kv", parsed,
                F.count("path").alias("rows_parsed"),
                F.count_if(F.col("path").isNull()).alias("rows_unparsed"),
            )
        return parsed.where(F.col("path").isNotNull())

    def _create_fn(self, out_dir, tracer):
        spark = self.spark

        def create_sink(df_miss):
            with tracer.span("create_sink") as sp:
                created = df_miss.where(F.col("f_uid") != gen.LOCKED_UID).select(
                    (F.col("f_inode") + F.lit(gen.CREATED_BASE)).alias("inode"),
                    F.col("target_path").alias("path"),
                    F.col("f_uid").alias("uid"),
                    F.col("f_gid").alias("gid"),
                    F.lit(0).cast("long").alias("size"),
                )
                created.write.mode("overwrite").parquet(out_dir)
                if sp is not None:
                    sp.counts["rows"] = pq.ParquetDataset(out_dir).read(columns=["inode"]).num_rows
                return spark.read.parquet(out_dir)

        return create_sink

    def iteration(self, tracer) -> dict:
        spark, it = self.spark, self.it
        self.it += 1
        root = os.path.join(self.work, f"shares_v{it}")
        out = os.path.join(self.work, f"out{it}")
        counts = _Counts() if tracer.enabled else None
        if counts is not None:
            counts.patch(MIG, "lookup_join", _count_lookup_join(counts))
            counts.patch(MIG, "with_decision", _count_router(counts))
        try:
            t0 = time.perf_counter()
            shares = spark.read.parquet(os.path.join(self.in_dir, "shares.parquet"))
            with tracer.span("operators.table_format.create_table"):
                TF.create_table(shares, root, partition_by="share_type")
            with tracer.span("operators.table_format.read_table"):
                base = TF.read_table(spark, root)
            with tracer.span("plans.migration.run_migration"):
                res = MIG.run_migration(
                    base, self._meta(counts), home_prefix=gen.HOME_PREFIX,
                    create_fn=self._create_fn(os.path.join(out, "created"), tracer),
                )
            with tracer.span("operators.table_format.merge_into") as sp:
                version = TF.merge_into(spark, root, res.updates, on="id", when_not_matched=None)
            merge = _merge_stats(root, version)
            if sp is not None:
                sp.counts.update(merge)
            with tracer.span("plans.migration.audit_sink"):
                res.audit.write.parquet(os.path.join(out, "audit"))
            with tracer.span("plans.migration.dead_letter_sink"):
                res.dead.write.parquet(os.path.join(out, "dead"))
            elapsed = time.perf_counter() - t0
        finally:
            if counts is not None:
                counts.close()
        r = {"s": elapsed, "root": root, "out": out, "version": version, "merge": merge}
        if counts is not None:
            r["counts"] = counts.values(spark)
        return r

    def serve(self, tracer) -> dict:
        """Index the last migrated table, merge one small update batch,
        refresh the index from the change feed, then look up seeded share
        ids -- half of them from the batch -- one key at a time, checking
        each row against the generator's truth."""
        spark, root = self.spark, self.last["root"]
        index = root + "_index"
        with tracer.span("operators.keyindex.create_key_index"):
            KI.create_key_index(spark, root, index, "id")
        rng = np.random.default_rng(self.it)
        batch = rng.choice(self.updated, UPDATE_ROWS, replace=False)
        upd = {
            int(i): (*self.truth.after[int(i)][:3], f"/renamed {int(i)} {self.it}")
            for i in batch
        }
        source = spark.createDataFrame(
            [(i, *v) for i, v in upd.items()],
            "id long, item_source string, item_target string, file_source long, "
            "file_target string",
        )
        with tracer.span("operators.table_format.merge_into") as sp:
            version = TF.merge_into(spark, root, source, on="id", when_not_matched=None)
        if sp is not None:
            sp.counts.update(_merge_stats(root, version))
        with tracer.span("operators.keyindex.refresh_key_index"):
            KI.refresh_key_index(spark, index)
        keys = [*batch[: LOOKUPS // 2], *rng.choice(self.updated, LOOKUPS - LOOKUPS // 2)]
        lat = []
        for k in map(int, keys):
            with tracer.span("operators.keyindex.point_lookup"):
                a = time.perf_counter()
                rows = KI.point_lookup(spark, index, [k]).select(*oracle.MERGED_COLS).collect()
                lat.append(time.perf_counter() - a)
            _expect(f"rows for share {k}", len(rows), 1)
            row = rows[0]
            _expect(f"share {k}", (row["item_source"], row["item_target"], row["file_source"],
                                   row["file_target"]), upd.get(k, self.truth.after[k]))
        shutil.rmtree(index, ignore_errors=True)
        return {"lat": lat}

    def check(self, r: dict) -> None:
        exp = self.expected
        if "counts" in r:
            _expect("layer row counts", r["counts"], expected_counts(self.truth))
        audit = pq.read_table(os.path.join(r["out"], "audit"), columns=["decision"])
        _expect("audit rows per decision",
                _value_counts(audit.column("decision")), exp["audit"])
        dead = pq.read_table(os.path.join(r["out"], "dead"), columns=["error_stage"])
        _expect("dead letters per stage",
                _value_counts(dead.column("error_stage")), exp["dead"])
        table = TF.read_table(self.spark, r["root"], version=r["version"]).select(
            *oracle.MERGED_COLS)
        _expect("merged table hash", oracle.frame_hash(table.toPandas()), exp["merged_hash"])
        r["bytes_per_row"] = r["merge"]["bytes_written"] / exp["updates"]

    def cleanup(self, r: dict) -> None:
        """Drop the previous iteration's outputs; the last table stays for
        ``serve``."""
        if self.last is not None:
            for d in (self.last["root"], self.last["out"]):
                shutil.rmtree(d, ignore_errors=True)
        self.last = r


def _value_counts(col) -> dict:
    return {d["values"]: int(d["counts"]) for d in col.value_counts().to_pylist()}


def _merge_stats(root: str, version: int) -> dict:
    """Files and bytes a merge wrote: manifest entries of ``version`` that
    are not hardlinked forward from its parent."""
    prev = {(e["path"], e.get("mtime_ns")) for e in TF.manifest(root, version - 1)}
    new = [e for e in TF.manifest(root, version) if (e["path"], e.get("mtime_ns")) not in prev]
    touched = TF.history(root)[-1].get("touched_partitions") or []
    return {
        "files_rewritten": len(new),
        "bytes_written": sum(e["size"] for e in new),
        "partitions_touched": len(touched),
    }


class Pretrain:
    """The pretraining pipeline, quality filter to shard manifest, over
    generated documents (the PHASED build and pack of
    ``pipeline_pretraining_corpus``), releasing what it persisted."""

    min_iterations = 3

    def __init__(self, n_documents: int):
        self.rows = n_documents

    def generate(self, in_dir: str, seed: int) -> gen.Truth:
        return gen.generate(in_dir, seed, 0, self.rows)

    def expect(self, in_dir: str, truth: gen.Truth) -> list[tuple]:
        return oracle.pipeline_expected(in_dir, ORACLE["pipeline_pretraining_corpus"])

    def prepare(self, spark, in_dir, work, truth, expected) -> None:
        self.spark, self.in_dir, self.expected = spark, in_dir, expected

    def iteration(self, tracer) -> dict:
        spark = self.spark
        t0 = time.perf_counter()
        with tracer.span("queries.pipeline_pretraining_corpus.build"):
            survivors = TRAIN._pipeline_clean(spark, self.in_dir)
        with tracer.span("queries.pipeline_pretraining_corpus.pack"):
            rows = [tuple(r) for r in TRAIN._pipeline_pack(spark, survivors).collect()]
        with tracer.span("util.release_persisted"):
            U.release_persisted()
        elapsed = time.perf_counter() - t0
        stages = dict(STAGE_TIMES.get("pipeline_pretraining_corpus", {}))
        n_docs = sum(r[1] for r in rows)
        return {"s": elapsed, "rows": rows, "stages": stages, "survivors": survivors,
                "survivor_ratio": n_docs / self.rows}

    def check(self, r: dict) -> None:
        _expect("shard manifest", sorted(r["rows"]), self.expected)
        # The survivors checkpoint is the pipeline's sink.
        written = sum(e.stat().st_size for e in os.scandir(r["survivors"])
                      if e.name.endswith(".parquet"))
        r["bytes_per_row"] = written / max(1, sum(x[1] for x in r["rows"]))

    def cleanup(self, r: dict) -> None:
        pass


WORKLOADS = {
    "migrate_small": lambda: Migrate(SHARES),
    "pretrain_corpus": lambda: Pretrain(DOCUMENTS),
}
