"""Session-cache contract (memo.py, VERDICT r6 #1): one lifecycle for
every build-once value in the package."""

import ast
import os
import pathlib
import threading
from types import SimpleNamespace

from databricks_incremental_lakehouse_spark import memo
from databricks_incremental_lakehouse_spark.silver.order_details import (
    silver_order_details,
)


def test_shared_frame_returns_same_object_and_builds_once(spark, sf_smoke):
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).toDF("x")

    a = memo.shared_frame(spark, ("t1", "k"), build)
    b = memo.shared_frame(spark, ("t1", "k"), build)
    assert a is b
    assert len(calls) == 1


def test_silver_default_build_is_shared_but_injected_bypasses(spark, sf_smoke):
    """The pinned-default silver build is one shared frame; passing any
    injected input frame (the refresh path) must bypass the cache — a
    micro-batch build keyed like the full build would poison every
    consumer."""
    a = silver_order_details(spark, sf_smoke)
    b = silver_order_details(spark, sf_smoke)
    assert a is b
    injected = silver_order_details(
        spark, sf_smoke, lineitem=spark.read.parquet(
            os.path.join(sf_smoke, "lineitem.parquet")
        ).limit(0)
    )
    assert injected is not a
    # the shared frame's executed plan keeps real lineage under the cache
    # node, so plan locks still see the join structure
    plan = a._jdf.queryExecution().toString()
    assert "order_key" in plan


def dead_session():
    """A stand-in for a stopped session: only its cache identity."""
    return SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app-dead", startTime=0)
    )


def test_stale_session_entries_swept(spark):
    """Entries keyed by a dead session must be dropped (and released) on
    the next build (the cache would otherwise grow for the process
    lifetime)."""
    dead = dead_session()
    released = []
    memo.once(dead, ("zombie",), lambda: "v", released.append)
    assert memo.get(dead, ("zombie",)) == "v"
    memo.shared_frame(spark, ("t3", "k"), lambda: spark.range(1).toDF("x"))
    assert memo.get(dead, ("zombie",)) is None
    assert released == ["v"]


def test_once_builds_any_value_once_and_releases_on_drop(spark):
    calls = []

    def build():
        calls.append(1)
        return 41 + len(calls)

    released = []
    assert memo.once(spark, ("t4", "k"), build, released.append) == 42
    assert memo.once(spark, ("t4", "k"), build, released.append) == 42
    assert calls == [1]
    memo.drop(spark, ("t4", "k"))
    assert released == [42]
    assert memo.get(spark, ("t4", "k")) is None
    assert memo.once(spark, ("t4", "k"), build) == 43


def test_put_replaces_and_releases_old_value(spark):
    released = []
    memo.put(spark, ("t5", "k"), "a", released.append)
    memo.put(spark, ("t5", "k"), "b", released.append)
    assert memo.get(spark, ("t5", "k")) == "b"
    assert released == ["a"]
    memo.drop(spark, ("t5", "k"))
    assert released == ["a", "b"]


def test_different_keys_build_concurrently(spark):
    """Key A's build waits on an event only key B's build sets: with one
    lock held across builds this would deadlock (the wait times out)."""
    b_started = threading.Event()
    out = {}

    def build_a():
        assert b_started.wait(timeout=30), "key B's build never ran"
        return "a"

    def build_b():
        b_started.set()
        return "b"

    t = threading.Thread(target=lambda: out.update(a=memo.once(spark, ("t6", "a"), build_a)))
    t.start()
    out["b"] = memo.once(spark, ("t6", "b"), build_b)
    t.join(timeout=60)
    assert not t.is_alive()
    assert out == {"a": "a", "b": "b"}


def test_once_builds_each_key_once_under_contention(spark):
    """More threads than cores race first calls on a few keys with a
    short switch interval: every key is built exactly once and every
    caller sees that one value (a lost check-then-build would not)."""
    import sys

    builds = {k: 0 for k in range(4)}
    guard = threading.Lock()
    seen = []

    def build(k):
        with guard:
            builds[k] += 1
        return object()

    def worker(i):
        k = i % 4
        seen.append((k, memo.once(spark, ("t8", k), lambda: build(k))))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(32)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert builds == {k: 1 for k in range(4)}
    assert len(seen) == 32
    for k, v in seen:
        assert v is memo.get(spark, ("t8", k))


def test_clear_waits_for_a_running_build(spark):
    """clear() must not release an entry while its build still runs: it
    takes the key's build lock, so it releases the finished value."""
    building, finish = threading.Event(), threading.Event()
    released = []

    def build():
        building.set()
        assert finish.wait(timeout=30)
        return "v"

    memo.once(spark, ("t7", "k"), lambda: "old", released.append)
    memo.drop(spark, ("t7", "k"))
    t = threading.Thread(target=lambda: memo.once(spark, ("t7", "k"), build, released.append))
    t.start()
    assert building.wait(timeout=30)
    cleared = threading.Thread(target=memo.clear)
    cleared.start()
    cleared.join(timeout=0.5)
    assert cleared.is_alive(), "clear() did not wait for the running build"
    finish.set()
    t.join(timeout=30)
    cleared.join(timeout=30)
    assert not t.is_alive() and not cleared.is_alive()
    assert released == ["old", "v"]
    assert memo.get(spark, ("t7", "k")) is None


def test_only_memo_knows_the_session_cache_policy():
    """Static guard: the session key and the clearer registry are memo.py
    internals — no other module keys its own per-session cache."""
    pkg = pathlib.Path(memo.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "memo.py" and path.parent == pkg:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.Name):
                names = [node.id]
            for n in names:
                if n in ("_session_key", "register_aux_clear"):
                    offenders.append(f"{path.relative_to(pkg)}:{node.lineno} {n}")
    assert not offenders, offenders
