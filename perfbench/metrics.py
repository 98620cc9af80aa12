"""Metric names, units and how each is computed from a run's samples.

End-to-end metrics come from untraced iterations. Per-layer metrics come
from the traced iteration and are that iteration's totals per layer; the
``migrate_small`` serve phase (key index, update batch, lookups) is traced
with it and counts toward it. A layer the workload never calls reads 0. One
iteration is one migration (``migrate_small``) or one pipeline run
(``pretrain_corpus``).

``setup_s`` is session start plus input generation (the median of several
generations); the DuckDB oracle is the benchmark's own cost and is left out.
``cold_cpu_s`` is the CPU seconds the driver JVM and the Python client spent
in the first iteration of the fresh session, and ``cpu_s`` the median of
that over the later iterations. Their wall times are reported too, as the
per-layer ``run.cold_s``, ``run.wall_s`` and ``run.rows_per_s`` of the trace
run, but they are not end-to-end metrics: on a shared virtual machine the
CPU time the hypervisor steals moves them by far more than any bound
allows, while CPU seconds are not charged for stolen time. None of these
figures includes the serve phase.
"""

from __future__ import annotations

import statistics

from cernbox_migration_database_spark.operators.router import DECISIONS

END_TO_END = (
    ("setup_s", "s"),
    ("cold_cpu_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MiB"),
    ("sink_bytes_per_row", "B"),
)

# Layer calls that record the common set. Stage and task counts are left
# out to stay within 128 per-layer metrics.
CALLS = (
    "operators.table_format.create_table",
    "operators.table_format.merge_into",
    "operators.table_format.read_table",
    "plans.migration.run_migration",
    "plans.migration.audit_sink",
    "plans.migration.dead_letter_sink",
    "operators.keyindex.create_key_index",
    "operators.keyindex.refresh_key_index",
    "operators.keyindex.point_lookup",
    "queries.pipeline_pretraining_corpus.build",
    "queries.pipeline_pretraining_corpus.pack",
    "util.release_persisted",
)
COMMON = (
    ("s", "s"),
    ("jobs", "count"),
    ("exec_cpu_s", "s"),
    ("exec_run_s", "s"),
    ("driver_idle_s", "s"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
)
ENRICH_STAGES = ("eos_info_by_inode", "eos_info_by_parent_path", "versions_folder_create")
PIPELINE_STAGES = ("filter_langid_redact", "exact_dedup", "near_dedup", "decontaminate_checkpoint")


# Per-layer counts where more is the better outcome; every other per-layer
# metric is a cost.
HIGHER = {"functions.kv.rows_parsed", "run.rows_per_s"} | {
    f"operators.enrich.lookup_join.{st}.rows_hit" for st in ENRICH_STAGES
}


def per_layer_names() -> list[tuple[str, str]]:
    out = [("session.get_spark.s", "s"), ("gen.generate.s", "s")]
    out += [(f"{c}.{m}", u) for c in CALLS for m, u in COMMON]
    out += [("sources.bytes_read", "B"), ("sources.files_read", "count"),
            ("sources.rows_read", "count"),
            ("functions.kv.rows_parsed", "count"), ("functions.kv.rows_unparsed", "count")]
    for st in ENRICH_STAGES:
        out += [(f"operators.enrich.lookup_join.{st}.rows_in", "count"),
                (f"operators.enrich.lookup_join.{st}.rows_hit", "count"),
                (f"operators.enrich.lookup_join.{st}.miss_ratio", "ratio")]
    out += [(f"operators.router.rows.{d}", "count") for d in DECISIONS]
    out += [("create_sink.s", "s"), ("create_sink.rows", "count"),
            ("operators.table_format.merge_into.files_rewritten", "count"),
            ("operators.table_format.merge_into.bytes_written", "B"),
            ("operators.table_format.merge_into.partitions_touched", "count"),
            ("operators.keyindex.point_lookup.partitions_scanned", "count"),
            ("operators.keyindex.point_lookup.p50_ms", "ms"),
            ("operators.keyindex.point_lookup.p90_ms", "ms")]
    out += [(f"queries.pipeline_pretraining_corpus.{s}_s", "s") for s in PIPELINE_STAGES]
    out += [("queries.pipeline_pretraining_corpus.survivor_ratio", "ratio"),
            ("util.cached_bytes_peak", "B"),
            ("run.cold_s", "s"), ("run.wall_s", "s"), ("run.rows_per_s", "1/s"),
            ("trace.wall_s", "s"), ("trace.overhead_s", "s")]
    return out


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(samples: list[dict], setup_s: float, cold_cpu_s: float, rss_mb: float) -> dict:
    v = {
        "setup_s": setup_s,
        "cold_cpu_s": cold_cpu_s,
        "cpu_s": statistics.median(r["cpu_s"] for r in samples),
        "peak_rss_mb": rss_mb,
        "sink_bytes_per_row": statistics.median(r["bytes_per_row"] for r in samples),
    }
    return {k: _m(v[k], u) for k, u in END_TO_END}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def per_layer(tracer, rows: int, cold: dict, traced: list[dict], untraced: list[dict],
              session_s: float, gen_s: float, lookup_s: list[float]) -> dict:
    layers = tracer.collect()
    sql = tracer.sql_counts()
    iters = [r["iteration"] for r in traced]

    def med(name: str, metric: str) -> float:
        return _median(layers.get(name, {}).get(i, {}).get(metric, 0) for i in iters)

    def total(metric: str) -> float:
        return _median(
            sum(per.get(i, {}).get(metric, 0) for per in layers.values()) for i in iters
        )

    def count(key: str) -> float:
        return _median(r.get("counts", {}).get(key, 0) for r in traced)

    v = {"session.get_spark.s": session_s, "gen.generate.s": gen_s}
    for c in CALLS:
        for m, _u in COMMON:
            v[f"{c}.{m}"] = med(c, m)
    v["sources.bytes_read"] = total("input_bytes")
    v["sources.rows_read"] = total("input_rows")
    v["sources.files_read"] = _median(sql.get(i, {}).get("files_read", 0) for i in iters)
    v["functions.kv.rows_parsed"] = count("functions.kv.rows_parsed")
    v["functions.kv.rows_unparsed"] = count("functions.kv.rows_unparsed")
    for st in ENRICH_STAGES:
        key = f"operators.enrich.lookup_join.{st}"
        hit, miss = count(f"{key}.rows_hit"), count(f"{key}.rows_missed")
        v[f"{key}.rows_in"] = hit + miss
        v[f"{key}.rows_hit"] = hit
        v[f"{key}.miss_ratio"] = miss / (hit + miss) if hit + miss else 0.0
    for d in DECISIONS:
        v[f"operators.router.rows.{d}"] = count(f"operators.router.rows.{d}")
    v["create_sink.s"] = med("create_sink", "s")
    v["create_sink.rows"] = med("create_sink", "rows")
    for m in ("files_rewritten", "bytes_written", "partitions_touched"):
        v[f"operators.table_format.merge_into.{m}"] = med("operators.table_format.merge_into", m)
    v["operators.keyindex.point_lookup.partitions_scanned"] = _median(
        sql.get(i, {}).get("partitions_read.operators.keyindex.point_lookup", 0) for i in iters
    )
    v["operators.keyindex.point_lookup.p50_ms"] = 1e3 * _median(lookup_s)
    v["operators.keyindex.point_lookup.p90_ms"] = (
        1e3 * statistics.quantiles(lookup_s, n=10)[-1] if len(lookup_s) > 1 else 0.0
    )
    for s in PIPELINE_STAGES:
        v[f"queries.pipeline_pretraining_corpus.{s}_s"] = _median(
            r.get("stages", {}).get(s, 0) for r in traced
        )
    v["queries.pipeline_pretraining_corpus.survivor_ratio"] = _median(
        r.get("survivor_ratio", 0) for r in traced
    )
    v["util.cached_bytes_peak"] = tracer.cached_bytes_peak
    v["run.cold_s"] = cold["s"]
    v["run.wall_s"] = _median(r["s"] for r in untraced)
    v["run.rows_per_s"] = rows / v["run.wall_s"]
    v["trace.wall_s"] = _median(r["s"] for r in traced)
    v["trace.overhead_s"] = v["trace.wall_s"] - v["run.wall_s"]
    return {name: _m(v[name], unit) for name, unit in per_layer_names()}
