import os
import sys

import pytest

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(TESTS_DIR)
sys.path.insert(0, REPO_ROOT)
# Arrow/pandas UDF workers must import pdfextract_spark, and the worker
# daemon must import spark_worker_daemon
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO_ROOT, TESTS_DIR, os.environ.get("PYTHONPATH", "")]
)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("pdfextract-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        # fork Python workers whose tasks skip re-reading Spark's archives
        .config("spark.python.daemon.module", "spark_worker_daemon")
        .getOrCreate()
    )
    yield spark
    spark.stop()
