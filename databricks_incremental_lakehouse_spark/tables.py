"""Source-table loading (reference operator S1, extract_orders.py:40).

The reference scans Unity-Catalog tables (``samples.tpch.orders``); the local
harness scans one parquet file per table under an sf directory (TESTDATA.md).
Loading is centralized here so schema quirks of the driver-generated parquet
are normalized exactly once:

- ``events.ts`` is parquet TIMESTAMP(NANOS), unreadable by Spark 4 without
  ``spark.sql.legacy.parquet.nanosAsLong`` — read as long and convert to a
  microsecond timestamp (integer div, matching DuckDB's ns->us cast).
- Each source file's schema is inferred once per session: inference is a
  Spark job per read, and the files are read-only inputs, so later loads
  read with the remembered schema (keyed on path, size and mtime, so a
  rewritten file is inferred afresh).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import memo
from .session import apply_runtime_confs


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one source table; raw schema except documented normalizations."""
    apply_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
    except OSError:
        # not a local file (or missing): let Spark resolve and report it
        df = spark.read.parquet(path)
    else:
        schema = memo.once(
            spark,
            ("source_schema", path, st.st_size, st.st_mtime_ns),
            lambda: spark.read.parquet(path).schema,
        )
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # ns since epoch -> us since epoch; integer division keeps full
        # precision (a double round-trip would lose bits above 2^53).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
