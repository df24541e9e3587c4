"""Source-table loading (reference operator S1, extract_orders.py:40).

The reference scans Unity-Catalog tables (``samples.tpch.orders``); the local
harness scans one parquet file per table under an sf directory (TESTDATA.md).
Loading is centralized here so schema quirks of the driver-generated parquet
are normalized exactly once:

- ``events.ts`` is parquet TIMESTAMP(NANOS), unreadable by Spark 4 without
  ``spark.sql.legacy.parquet.nanosAsLong`` — read as long and convert to a
  microsecond timestamp (integer div, matching DuckDB's ns->us cast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import apply_runtime_confs


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one source table; raw schema except documented normalizations."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns since epoch -> us since epoch; integer division keeps full
        # precision (a double round-trip would lose bits above 2^53).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df

