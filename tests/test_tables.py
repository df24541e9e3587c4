"""Source loading: each source file's schema is inferred once per session."""

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq

from databricks_incremental_lakehouse_spark.tables import load_table

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result of ``fn()``, Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_each_source_schema_once(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)

    first, n_first = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again, n_again = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_first == 1  # schema inference
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(r.k for r in again.collect()) == [1, 2, 3]

    # a rewritten file is a new file: its schema is inferred afresh
    pq.write_table(pa.table({"k": [4], "v": ["x"]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    new, n_new = _jobs(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_new == 1
    assert new.columns == ["k", "v"]
    assert [tuple(r) for r in new.collect()] == [(4, "x")]
