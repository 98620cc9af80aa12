from __future__ import annotations

import os
from typing import NamedTuple

import pytest

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

from cernbox_migration_database_spark.session import get_spark  # noqa: E402

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cbx-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST_DIR


class SparkStatus(NamedTuple):
    last_execution: int  # id of the latest SQL execution, -1 before any
    job_ids: frozenset[int]
    cached_rdds: frozenset[int]


@pytest.fixture
def spark_status(spark):
    """Returns a reader of Spark's status stores that first waits until
    every queued listener event has reached them. SQL execution ids are
    consecutive, while the store's execution count stops growing at
    spark.sql.ui.retainedExecutions, so callers compare ids."""
    sc = spark.sparkContext._jsc.sc()
    sql_store = spark._jsparkSession.sharedState().statusStore()

    def read() -> SparkStatus:
        sc.listenerBus().waitUntilEmpty()
        runs = sql_store.executionsList()
        rdds = sc.statusStore().rddList(True)
        return SparkStatus(
            runs.last().executionId() if runs.nonEmpty() else -1,
            frozenset(spark.sparkContext.statusTracker().getJobIdsForGroup()),
            frozenset(rdds.apply(i).id() for i in range(rdds.length())),
        )

    return read
