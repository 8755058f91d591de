import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[4]")
         .appName("planetiler_spark_tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def shuffle_partitions(spark):
    """Set spark.sql.shuffle.partitions for one test, restored after."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    yield lambda p: spark.conf.set(key, str(p))
    spark.conf.set(key, old)
