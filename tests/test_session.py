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
    "one_pass",
    [
        pytest.param(_pipeline_pass, id="pipeline"),
        pytest.param(_migration_pass, id="migration"),
    ],
)
def test_warm_pipeline_passes_reuse_compiled_classes(spark, sf_dir, one_pass):
    """A repeated pass compiles nothing new: the pretraining pipeline's ~150
    generated classes fit the session's codegen cache (with Spark's default
    100-entry cache every warm pass recompiles ~129 of them), and the
    generated source repeats from run to run (with codegen stage ids in the
    class names, adaptive execution's run-to-run stage numbering recompiled
    the near-dedup stages in some warm pipeline passes)."""
    one_pass(spark, sf_dir)
    U.release_persisted()
    compiled = []
    for _ in range(2):
        before = _classes_compiled(spark)
        one_pass(spark, sf_dir)
        U.release_persisted()
        compiled.append(_classes_compiled(spark) - before)
    assert compiled == [0, 0]
