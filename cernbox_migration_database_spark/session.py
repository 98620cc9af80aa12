"""SparkSession factory.

Local-mode defaults are tuned for the test/bench harness (local[N], one JVM),
but every config here is also the right call on a large cluster: AQE for
runtime re-planning and skew joins, UTC session time zone for cross-engine
comparability, Arrow for the few pandas-UDF paths, shuffle partitions sized
to parallelism instead of the 200 default, and a generated-code cache
sized to the engine's working set so each whole-stage-codegen class is
compiled once per session instead of once per pass. The driver JVM it starts
maps a class-data-sharing archive of Spark's classes, recorded by the first
start on the machine (see ``cds``), which roughly halves session start.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from . import cds

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "cernbox_migration_database_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NB: spark.sql.optimizer.runtime.bloomFilter.enabled +
        # runtimeFilter.semiJoinReduction.enabled HANG this Spark build on
        # trivial queries (optimizer loop) — do not enable; runtime join
        # pruning stays a backlog item.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Defensive only since r3: parse_kv_map dedupes keys structurally
        # (functions/kv.py) and no catalog query depends on this conf; kept
        # so ad-hoc user queries on this session get Go-style last-wins.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Static conf (builder only). One share-migration pass generates 105
        # distinct classes and one pretraining-pipeline pass 147-166, and the
        # tier-1 suite runs the whole catalog in one session. At Spark's
        # default of 100 entries a repeating pass larger than the cache
        # misses on most lookups and recompiles every warm pass (72 classes
        # for the migration, 118-131 for the pipeline).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The cache is keyed on the generated source, and by default each
        # whole-stage class is named after its codegen stage id. Adaptive
        # execution numbers a query's stages in the order it creates them,
        # which follows which stage finished first, so an unchanged stage
        # could come back under another id and compile again (14 classes
        # in one warm pretraining pass, the near-dedup filter among them).
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # 128 MB splits: measured best at harness scale too — smaller splits
        # (8 MB tried) add task/footer overhead that outweighs the extra
        # parallelism on these ~30 MB files; compute-heavy operators handle
        # their own parallelism via util.ensure_parallelism instead.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    launch = None
    if SparkContext._gateway is None:  # this call starts the driver JVM
        conf = {"spark.driver.memory": driver_memory, **(extra_conf or {})}
        launch = cds.plan(conf, os.environ, _find_spark_home())
    spark = builder.getOrCreate() if launch is None else cds.get_or_create(builder, launch)
    spark.sparkContext.setLogLevel("WARN")
    return spark
