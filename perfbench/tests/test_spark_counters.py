"""Spark-side counters and the workloads' oracle checks on generated data."""

import os
import threading

import pytest

from perfbench import datagen, trace, workloads
from perfbench.run import Context, load_parity


def _jobs(spark, n):
    for _ in range(n):
        spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count().collect()


def test_counts_follow_the_calling_thread_and_never_go_negative(spark):
    counters = trace.SparkCounters(spark.sparkContext)
    tracer = trace.Tracer(counters)

    def in_worker():
        with tracer.span("worker", "merge"):
            _jobs(spark, 2)

    with tracer.operation(0) as op:
        with tracer.span("main", "cdf"):
            _jobs(spark, 1)
            # a thread started inside a span does not inherit its job group
            t = threading.Thread(target=lambda: _jobs(spark, 1))
            t.start()
            t.join(timeout=60)
        w = threading.Thread(target=in_worker)
        w.start()
        w.join(timeout=60)
    assert not t.is_alive() and not w.is_alive()
    spans = {s.name: s for s in tracer.spans}
    per_job = spans["worker"].counts["jobs"] // 2
    assert per_job >= 1
    assert spans["main"].counts["jobs"] == per_job
    assert op.window["jobs"] == 4 * per_job  # the untagged thread's jobs too
    for s in tracer.spans:
        assert all(v >= 0 for v in {**s.counts, **s.window}.values())


def test_window_count_survives_tracker_eviction(spark):
    counters = trace.SparkCounters(spark.sparkContext)
    j0 = counters.next_job_id()
    _jobs(spark, 15)  # well past the fixture's 20 retained jobs
    j1 = counters.next_job_id()
    got = counters.window_counts(j0, j1)
    assert got["jobs"] == j1 - j0 >= 15
    assert all(v >= 0 for v in got.values())
    assert counters.window_counts(j1, j0)["jobs"] == 0


@pytest.fixture()
def ctx(spark, tmp_path):
    src = str(tmp_path / "src")
    datagen.write_source(src, 5, 0.001, 400)
    return Context(spark, str(tmp_path), src, 5, None, load_parity().compare)


def test_fold_check_holds_on_generated_slices_and_catches_a_lost_slice(ctx, monkeypatch):
    monkeypatch.setattr(workloads.CorpusStatsFold, "N_DOCS", 400)
    wl = workloads.CorpusStatsFold(ctx)
    wl.initial_load()
    wl.op(0)
    wl.op(1)
    wl.check()
    wl.applied.pop()  # the oracle now expects one slice fewer
    with pytest.raises(AssertionError):
        wl.check()


def test_rebuild_check_holds_on_generated_source(ctx):
    wl = workloads.MedallionRebuild(ctx)
    wl.initial_load()
    wl.check()
    assert set(wl.bi) == {
        "bi_regional_revenue_1998",
        "bi_top_platinum_clv",
        "bi_strategic_suppliers",
        "bi_monthly_trend_series",
    }
    assert os.path.isdir(wl.cfg.table_path("views", "vw_revenue_by_region"))
