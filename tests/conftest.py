from __future__ import annotations

import pytest

from cola_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("cola_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def named_rdds(spark):
    """Returns a function giving the ids of the RDDs persisted by
    ``Dataset.persist`` (it names the RDD after the plan;
    ``localCheckpoint`` leaves the name null)."""
    jsc = spark.sparkContext._jsc

    def ids() -> set:
        return {int(k) for k, rdd in jsc.getPersistentRDDs().items() if rdd.name() is not None}

    return ids
