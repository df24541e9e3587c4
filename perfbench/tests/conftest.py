import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """A small session with a short status-tracker memory, so tests can
    push job ids past the tracker's retention; the engine's runtime confs
    are applied as the engine would."""
    from pyspark.sql import SparkSession

    from databricks_incremental_lakehouse_spark.session import apply_runtime_confs

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "20")
        .config("spark.ui.retainedStages", "20")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    apply_runtime_confs(s)
    yield s
    s.stop()
