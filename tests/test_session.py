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


def test_env_dials_are_read_in_one_place():
    """Static guard: the process environment is read only by
    ``build_spark``, the pin-mode dial and the config-file loader — a new
    env dial cannot hide in an operator module."""
    import ast
    import pathlib

    import databricks_incremental_lakehouse_spark as pkg_mod

    pkg = pathlib.Path(pkg_mod.__file__).parent
    allowed = {"session.py", "pinning.py", "config.py"}
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.parent == pkg and path.name in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, ast.ImportFrom) and node.module == "os":
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            for n in names:
                if n in ("environ", "getenv"):
                    offenders.append(f"{path.relative_to(pkg)}:{node.lineno} {n}")
    assert not offenders, offenders
