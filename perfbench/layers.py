"""Per-layer metrics of a traced run, from its spans and per-op samples.

Layer names are the engine's module names. Every metric is per timed
operation (a mean over the first ``k`` of them) unless its name says
otherwise; layers a workload does not exercise read 0.
"""

from __future__ import annotations

from .trace import median, self_times

SCAN_LAYERS = ("bronze", "silver", "gold")
BUSY_LAYERS = (*SCAN_LAYERS, "quality", "merge", "cdf")
JOB_LAYERS = (*SCAN_LAYERS, "quality", "query", "merge", "cdf")


def layer_metrics(wl, tracer, per_op, lat, session_s, peak_rss_mb, k_max) -> dict:
    k = min(k_max, len(per_op))
    ops = range(k)
    spans = tracer.spans
    selft = self_times(spans)
    timed = [s for s in spans if s.op in ops]

    def per_op_sum(values) -> float:
        return sum(values) / k

    def of(layer):
        return [s for s in timed if s.layer == layer]

    def stat(key) -> float:
        vals = wl.stats.get(key, [])[:k]
        return sum(vals) / k if vals else 0.0

    m: dict[str, tuple[float, str]] = {"session.build_s": (session_s, "s")}

    pipe = of("pipelines")
    dag = stat("pipelines.dag_s")
    busy = stat("pipelines.stage_busy_s")
    m["pipelines.dag_s"] = (dag, "s")
    m["pipelines.stage_busy_s"] = (busy, "s")
    m["pipelines.overlap"] = (busy / dag if dag else 0.0, "ratio")
    for c in ("jobs", "stages", "tasks"):
        m[f"pipelines.{c}"] = (per_op_sum(s.window[c] for s in pipe), "count")

    for layer in BUSY_LAYERS:
        m[f"{layer}.busy_s"] = (per_op_sum(selft[s.id] for s in of(layer)), "s")
    for layer in JOB_LAYERS:
        m[f"{layer}.jobs"] = (per_op_sum(s.counts["jobs"] for s in of(layer)), "count")
    for layer in SCAN_LAYERS:
        m[f"{layer}.files_written"] = (stat(f"{layer}.files_written"), "count")
        m[f"{layer}.bytes_written"] = (stat(f"{layer}.bytes_written"), "B")
    m["gold.bi_s"] = (stat("gold.bi_s"), "s")
    m["query.plan_s"] = (stat("query.plan_s"), "s")
    m["query.exec_s"] = (stat("query.exec_s"), "s")
    for c in ("stages", "tasks"):
        m[f"query.{c}"] = (per_op_sum(s.counts[c] for s in of("query")), "count")

    m["merge.calls"] = (len(of("merge")) / k, "count")
    m["merge.files_rewritten"] = (stat("merge.files_rewritten"), "count")
    m["merge.bytes_rewritten"] = (stat("merge.bytes_rewritten"), "B")
    m["merge.write_amp"] = (stat("merge.write_amp"), "ratio")
    m["cdf.calls"] = (len(of("cdf")) / k, "count")
    m["changelog.commits"] = (stat("changelog.commits"), "count")
    m["changelog.bytes"] = (stat("changelog.bytes"), "B")
    m["incrstats.cycle_jobs"] = (
        per_op_sum(s.window["jobs"] for s in of("incrstats")),
        "count",
    )
    m["incrstats.init_s"] = (
        sum(s.duration for s in spans if s.layer == "incrstats.init"),
        "s",
    )

    live = [r["live_rdds"] for r in per_op[:k]]
    m["cache.live_rdds"] = (live[-1], "count")
    m["cache.live_rdds_growth"] = ((live[-1] - live[0]) / max(1, k - 1), "count")

    roots = [s for s in timed if s.layer == "op"]
    for c in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{c}"] = (per_op_sum(s.window[c] for s in roots), "count")
    claimed = sum(s.counts.get("jobs", 0) for s in timed)
    m["spark.untagged_jobs"] = (m["spark.jobs"][0] - claimed / k, "count")
    m["jvm.cpu_s"] = (per_op_sum(r["u1"]["jvm"] - r["u0"]["jvm"] for r in per_op[:k]), "s")
    m["py.cpu_s"] = (per_op_sum(r["u1"]["py"] - r["u0"]["py"] for r in per_op[:k]), "s")
    m["trace.op_p50_s"] = (median(lat), "s")
    m["peak_rss_mb"] = (peak_rss_mb, "MiB")
    return m
