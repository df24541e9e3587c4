"""Lakehouse benchmark: one workload per process, single-client closed loop.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload medallion_rebuild --seed 1 --seconds 15 --trace 0

The run generates its inputs from ``--seed``, builds the engine's Spark
session on ``local[<cpus>]`` and does the workload's initial load, which
also warms the JVM. It then runs operations back to back (the next starts
when the previous one finishes) for ``--seconds`` seconds, and at least
``MIN_OPS`` of them. It checks the outputs against the DuckDB oracles and
prints, as its last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` wraps the engine's layer functions
and reports per-layer metrics instead, and writes the spans to
``.perfbench_out/``. Exit status is 0 only when every output is correct.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "databricks_incremental_lakehouse_spark"
# source scale: every run is a fresh process that pays JVM start and a cold
# initial load, so the data is kept small enough for a run to take about a
# minute on 4 cores; at this size the engine's costs are its per-job and
# per-commit overheads
SF = 0.002
# the reported latency is the median of at least this many operations
MIN_OPS = 2
JVM_HEAP = "2g"
# per-layer counts are means over the first TRACE_OPS timed operations,
# which every traced run completes, so two runs of one seed agree exactly
TRACE_OPS = 2


def process_start() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


class Context:
    def __init__(self, spark, work: str, src: str, seed: int, tracer, compare) -> None:
        self.spark = spark
        self.work = work
        self.src = src
        self.seed = seed
        self.tracer = tracer
        self.compare = compare


def load_parity():
    """``tests/parity.py`` of the checkout (the engine's oracle comparator)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(ROOT, "tests", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    t_start = process_start()
    # a terminated run still stops the JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import datagen, probes, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # everything the run writes (Spark scratch, JVM temp files, the
    # warehouse) stays in one directory of the checkout, removed at exit
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the engine's default JVM heap (8g) is sized for a workstation;
    # these inputs need a fraction of it
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.chdir(work)
    spark = None
    try:
        src = os.path.join(work, "src")
        datagen.write_source(src, args.seed, SF, workloads.CorpusStatsFold.N_DOCS)
        log(f"inputs written at {time.time() - t_start:.1f}s")

        from databricks_incremental_lakehouse_spark.session import build_spark

        t = time.perf_counter()
        spark = build_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        log(f"session built in {session_s:.1f}s")
        spark.sparkContext.setLogLevel("ERROR")
        counters = trace.SparkCounters(spark.sparkContext) if args.trace else None
        tracer = trace.Tracer(counters) if args.trace else None
        ctx = Context(spark, work, src, args.seed, tracer, load_parity().compare)
        wl = workloads.WORKLOADS[args.workload](ctx)
        ins = None
        if tracer is not None:
            ins = trace.Instrumentation(tracer, PKG)
            wl.instrument(ins)

        t = time.perf_counter()
        if tracer is not None:
            tracer.op = -1
        wl.initial_load()
        initial_load_s = time.perf_counter() - t
        log(f"initial load {initial_load_s:.1f}s")
        setup_s = time.time() - t_start - initial_load_s
        log(f"set-up {setup_s:.1f}s")
        wl.stats.clear()

        lat, per_op, failed = [], [], 0
        u0 = probes.tree_usage()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < args.seconds or len(lat) < MIN_OPS:
            i = len(lat)
            rec: dict = {}
            if tracer is not None:
                wl.storage_before()
                rec["u0"] = probes.tree_usage()
            ts = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.operation(i):
                        wl.op(i)
                else:
                    wl.op(i)
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                failed += 1
                traceback.print_exc()
            lat.append(time.perf_counter() - ts)
            log(f"op {i}: {lat[-1]:.2f}s")
            if tracer is not None:
                rec["u1"] = probes.tree_usage()
                rec["live_rdds"] = counters.live_rdds()
                wl.storage_after()
                per_op.append(rec)
        u1 = probes.tree_usage()
        n = len(lat)
        if ins is not None:
            ins.restore()

        correct = failed == 0
        t = time.perf_counter()
        try:
            wl.check()
        except AssertionError:
            correct = False
            traceback.print_exc()
        log(f"check {'passed' if correct else 'FAILED'} in {time.perf_counter() - t:.1f}s")

        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "initial_load_s": (initial_load_s, "s"),
                "op_p50_s": (trace.median(lat), "s"),
                "cpu_s_per_op": (
                    (u1["py"] - u0["py"] + u1["jvm"] - u0["jvm"]) / n,
                    "s",
                ),
            }
        else:
            from perfbench.layers import layer_metrics

            metrics = layer_metrics(
                wl, tracer, per_op, lat, session_s, u1["peak_rss_mb"], TRACE_OPS
            )
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        result = {
            "correct": correct,
            "attempted": n,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        log(f"stopped in {time.perf_counter() - t:.1f}s")
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
