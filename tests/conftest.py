from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from axora_spark.catalog import SnapshotCatalog
from axora_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("axora-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture()
def catalog():
    d = tempfile.mkdtemp(prefix="axora_wh_")
    yield SnapshotCatalog(d)
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def count_jobs(spark):
    """`run(fn)` calls fn() under a fresh job group and returns (its
    result, the number of Spark jobs it started)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # the status store fills from the (asynchronous) listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run
