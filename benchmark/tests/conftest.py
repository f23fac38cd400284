import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the benchmark's modules
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # the engine package


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    local = tmp_path_factory.mktemp("spark-local")
    session = (
        SparkSession.builder.master("local[2]")
        .appName("benchmark-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.local.dir", str(local))
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
