"""Span wrappers, self times and parenting, without Spark."""

import sys
import threading
import types

from perfbench import trace


def _fake_package():
    def work(x):
        return x + 1

    core = types.ModuleType("fakepkg.core")
    core.work = work
    user = types.ModuleType("fakepkg.user")
    user.work = work  # `from .core import work`
    user.REGISTRY = {"w": work, "other": len}
    other = types.ModuleType("otherpkg")
    other.work = work
    mods = {"fakepkg": types.ModuleType("fakepkg"), "fakepkg.core": core,
            "fakepkg.user": user, "otherpkg": other}
    return work, mods


def test_wrap_rebinds_every_import_and_restores(monkeypatch):
    work, mods = _fake_package()
    for name, mod in mods.items():
        monkeypatch.setitem(sys.modules, name, mod)
    tracer = trace.Tracer(None)
    ins = trace.Instrumentation(tracer, "fakepkg")
    ins.wrap(work, "core", registries=[mods["fakepkg.user"].REGISTRY])
    core, user = mods["fakepkg.core"], mods["fakepkg.user"]
    assert core.work is not work and user.work is core.work
    assert user.REGISTRY["w"] is core.work and user.REGISTRY["other"] is len
    assert mods["otherpkg"].work is work  # outside the package: untouched
    assert user.work(1) == 2 and user.REGISTRY["w"](2) == 3
    assert [s.layer for s in tracer.spans] == ["core", "core"]
    ins.restore()
    assert core.work is work and user.work is work and user.REGISTRY["w"] is work


def test_nested_and_threaded_spans_are_attributed():
    tracer = trace.Tracer(None)

    def inner():
        with tracer.span("inner", "merge"):
            pass

    with tracer.operation(0):
        with tracer.span("outer", "cdf") as outer:
            inner()
        t = threading.Thread(target=inner)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    root = by_name["op"][0]
    nested, threaded = sorted(by_name["inner"], key=lambda s: s.start)
    assert nested.parent == outer.id
    assert threaded.parent == root.id and threaded.thread != root.thread
    assert outer.parent == root.id and root.parent is None
    assert all(s.op == 0 for s in tracer.spans)


def test_self_time_subtracts_merged_child_intervals():
    mk = lambda i, p, a, b: trace.Span(i, f"s{i}", "x", a, p, 0, 0, end=b)  # noqa: E731
    spans = [mk(0, None, 0.0, 10.0), mk(1, 0, 1.0, 4.0), mk(2, 0, 3.0, 6.0),
             mk(3, 0, 8.0, 12.0), mk(4, 1, 1.0, 2.0)]
    st = trace.self_times(spans)
    # children of 0 cover [1,6] and [8,10] (clipped): 7 of its 10 seconds
    assert abs(st[0] - 3.0) < 1e-9
    assert abs(st[1] - 2.0) < 1e-9
    assert abs(st[4] - 1.0) < 1e-9


def test_wrapper_propagates_errors_and_still_records():
    tracer = trace.Tracer(None)

    def boom():
        raise ValueError("x")

    mod = types.ModuleType("fakeerr.m")
    mod.boom = boom
    sys.modules["fakeerr.m"] = mod
    try:
        ins = trace.Instrumentation(tracer, "fakeerr")
        ins.wrap(boom, "merge")
        try:
            mod.boom()
        except ValueError:
            pass
        else:
            raise AssertionError("error swallowed")
        assert len(tracer.spans) == 1 and tracer.spans[0].end >= tracer.spans[0].start
        ins.restore()
        assert mod.boom is boom
    finally:
        del sys.modules["fakeerr.m"]
