import os

import pytest

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from mdscraper_spark.session import get_spark

    session = get_spark(
        app_name="mdscraper-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB"},
    )
    yield session
    session.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), n)``: n is the number of Spark jobs
    ``fn`` launched, counted under a fresh job group through the
    status tracker once the listener bus has delivered every event."""
    import uuid

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
