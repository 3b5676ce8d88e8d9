import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("hbase-snapshot-spark-tests")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        # tiny-data unit tests: AQE re-planning overhead dominates, turn it
        # off here (it stays ON in bench.py / __spark_entry__.py where it
        # matters for the scale posture)
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "10m")
        # tables here grow one segment directory per mutate batch: past
        # the default 32 root paths every read would launch a parallel
        # file-listing JOB (doubling a point get's latency); list them
        # on the driver instead — results are identical either way
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
