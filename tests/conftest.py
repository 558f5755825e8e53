import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[*]")
        .appName("maggy-spark-tests")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.maxMetadataStringLength", "2000")  # full FileScan lines for plan audits
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def job_group(spark):
    """Run the test under a Spark job group of its own. The fixture's
    value returns the ids of the jobs that group has run so far, read
    after the listener bus has drained, so no finished job is missed."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count probe")

    def jobs() -> list[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    try:
        yield jobs
    finally:
        sc._jsc.clearJobGroup()
