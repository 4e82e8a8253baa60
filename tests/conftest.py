from __future__ import annotations

import pytest

from hatchery_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hatchery_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def pinned_rdds(spark):
    """Count of persisted RDDs other than local checkpoints: a checkpoint is
    freed with the frame that owns it, a persisted frame only by `unpersist`."""

    def count() -> int:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        return sum(not rdds[k].rdd().isCheckpointed() for k in rdds)

    return count
