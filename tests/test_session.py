"""Engine dials are checked in build_spark before any session starts."""

import pytest

from databricks_incremental_lakehouse_spark.session import build_spark


def test_bad_statestore_dial_fails_at_build(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STATESTORE", "leveldb")
    with pytest.raises(ValueError, match="hdfs.*rocksdb"):
        build_spark()


def test_checkpoint_pin_without_dir_fails_at_build(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PIN", "checkpoint")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        build_spark()
