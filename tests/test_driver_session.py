"""Driver-session robustness: the contract must work under a BARE
SparkSession the driver builds itself — none of ``session.build_spark``'s
confs pre-applied (``apply_runtime_confs`` is supposed to retrofit them
defensively on every load). Runs in a subprocess because a JVM allows one
SparkSession per process and the suite's fixture already owns this one.

Covers the conf-sensitive paths: entry() (ANSI/rounding semantics),
an events query (TIMESTAMP(NANOS) parquet needs nanosAsLong), and the
stateful streaming drain (Arrow + state store).
"""

import subprocess
import sys

SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[8]")
    .appName("bare-driver-sim")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
import __spark_entry__ as e

rows = e.entry(spark).collect()
assert len(rows) >= 0 and len(rows) is not None
# the generated-code cache size is a static conf: a driver's session keeps
# Spark's default, while the runtime confs are retrofitted
assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "100"
assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"

q = e.queries()
for name in ("events_tumbling_hourly", "bronze_orders", "stream_user_totals"):
    n = q[name](spark, "/root/testdata/sf0.001").count()
    assert n >= 0, name
    print(f"OK {name} rows={n}")
spark.stop()
print("BARE_SESSION_OK")
"""


def test_contract_under_bare_session():
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, f"stderr tail:\n{proc.stderr[-3000:]}"
    assert "BARE_SESSION_OK" in proc.stdout


def test_clean_error_on_missing_sf_dir(spark):
    """A nonexistent sf_dir must surface as a clean AnalysisException (the
    driver's UX probe in .claude/skills/verify), not a hang or an opaque
    Py4J stack."""
    import pytest
    from pyspark.errors import AnalysisException

    import __spark_entry__ as e

    for name in ("bronze_orders", "text_stats", "events_tumbling_hourly"):
        with pytest.raises(AnalysisException):
            e.queries()[name](spark, "/root/testdata/no_such_sf").collect()
