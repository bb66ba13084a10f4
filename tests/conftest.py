import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

SF_DIR = os.environ.get("SPIDERSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from spiderspark.session import get_spark

    s = get_spark("spiderspark-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def spark_jobs(spark):
    """A probe of Spark's status store: ``{job id: job tags}`` for every
    job, read after the listener bus has delivered every event so far."""
    jsc = spark.sparkContext._jsc.sc()

    def jobs() -> dict[int, set[str]]:
        jsc.listenerBus().waitUntilEmpty()
        listed = jsc.statusStore().jobsList(None)
        out = {}
        for i in range(listed.size()):
            j = listed.apply(i)
            tags = j.jobTags()
            out[j.jobId()] = {tags.apply(k) for k in range(tags.size())}
        return out

    return jobs
