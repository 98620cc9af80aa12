"""Session-factory properties that hold for a whole session, not one query."""

from __future__ import annotations

import pytest

from cernbox_migration_database_spark import util as U
from cernbox_migration_database_spark.queries import PHASED, QUERIES


def _classes_compiled(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pipeline_pass(spark, sf_dir):
    build, pack = PHASED["pipeline_pretraining_corpus"]
    pack(spark, build(spark, sf_dir)).collect()


def _migration_pass(spark, sf_dir):
    QUERIES["migration_merged"](spark, sf_dir).collect()


@pytest.mark.parametrize(
    "one_pass, allowed",
    [
        # The shingle-set filter (operators/dedup.py) recompiles 4 classes in
        # some warm passes.
        pytest.param(_pipeline_pass, 5, id="pipeline"),
        pytest.param(_migration_pass, 0, id="migration"),
    ],
)
def test_warm_pipeline_passes_reuse_compiled_classes(spark, sf_dir, one_pass, allowed):
    """A repeated pass compiles (almost) nothing new: the pretraining
    pipeline's ~150 generated classes fit the session's codegen cache (with
    Spark's default 100-entry cache every warm pass recompiles ~129 of
    them), and the migration's generated source repeats from run to run."""
    one_pass(spark, sf_dir)
    U.release_persisted()
    compiled = []
    for _ in range(2):
        before = _classes_compiled(spark)
        one_pass(spark, sf_dir)
        U.release_persisted()
        compiled.append(_classes_compiled(spark) - before)
    assert max(compiled) <= allowed, compiled
