from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from ais_etl_spark import get_spark


@pytest.fixture(scope="session")
def spark():
    # local[8] keeps JVM startup + task overhead sane for unit tests;
    # scale behavior is bench territory (bench.py / bench_scaling.py).
    s = get_spark(app_name="ais-etl-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def tmpdir_path():
    d = tempfile.mkdtemp(prefix="ais-etl-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), number of Spark jobs fn started)``:
    runs ``fn`` under its own job group and counts the group's jobs
    once the listener bus has delivered every event."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
