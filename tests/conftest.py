import os

import pytest

# test fixtures are MB-scale single files: split small so local cores share
# the scan (the library default is the production 128m)
os.environ.setdefault("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")


@pytest.fixture(scope="session")
def spark():
    from spatialpandas_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(group, fn)`` runs ``fn`` under its own job group and
    returns ``(fn(), number of Spark jobs it launched)``."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
