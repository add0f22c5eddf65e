import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # engine package


def session(**conf):
    """A small local SparkSession; the caller stops it."""
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master("local[2]")
         .appName("perfbench-tests")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.sql.session.timeZone", "UTC"))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


@pytest.fixture(scope="module")
def spark():
    s = session()
    yield s
    s.stop()
