"""Session-factory properties that hold for a whole session, not one query."""

from __future__ import annotations

from cernbox_migration_database_spark import util as U
from cernbox_migration_database_spark.queries import PHASED


def _classes_compiled(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pipeline_passes_reuse_compiled_classes(spark, sf_dir):
    """A repeated pretraining-pipeline pass compiles (almost) nothing new:
    its ~150 generated classes fit the session's codegen cache. With Spark's
    default 100-entry cache every warm pass recompiles ~129 of them."""
    build, pack = PHASED["pipeline_pretraining_corpus"]

    def one_pass():
        pack(spark, build(spark, sf_dir)).collect()
        U.release_persisted()

    one_pass()
    compiled = []
    for _ in range(2):
        before = _classes_compiled(spark)
        one_pass()
        compiled.append(_classes_compiled(spark) - before)
    assert max(compiled) <= 5, compiled
