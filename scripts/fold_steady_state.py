#!/usr/bin/env python
"""Steady-state cost of the token-statistics fold: N ``apply_doc_updates``
cycles in ONE session on the benchmark's seeded inputs.

A ``corpus_stats_fold`` benchmark run does a handful of operations per
fresh process, too few to reach a totals compaction (one every
``num_buckets`` folds), so its median never shows the amortized cost.
This script drives the same workload class
(``perfbench.workloads.CorpusStatsFold``, with smaller slices so more
cycles fit in the held-out documents) for ``--cycles`` cycles and prints
one line per cycle: wall time, Spark jobs, the pending deltas of each
statistics table, which tables compacted, and the time of a
``token_stats`` collect taken after the cycle (outside its wall time).
It ends with the workload's DuckDB oracle check of the final tables and
one summary JSON line.

Usage (from the root of a checkout):

    python scripts/fold_steady_state.py --seed 3 --cycles 36 --slice 5
    python scripts/fold_steady_state.py --checkout /path/to/other/checkout

``--checkout`` runs another checkout's engine and benchmark code (for an
A/B against an older commit, which need not contain this script). The
run's files live in a temporary directory that is removed at exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATS = ("tok_stats", "doc_stats", "bigram_stats")


def pending(root: str) -> dict[str, int]:
    """Published, not yet compacted deltas of each statistics table."""
    return {t: len(glob.glob(os.path.join(root, t, "_deltas", "d=*"))) for t in STATS}


def dir_ids(root: str) -> dict[str, int]:
    """Inode of each statistics table's dir: a compaction swaps in a new
    dir, a delta publish or a bucket swap keeps it."""
    return {t: os.stat(os.path.join(root, t)).st_ino for t in STATS}


def num_buckets(root: str) -> int | None:
    try:
        with open(os.path.join(root, "tok_stats", "_merge_meta.json")) as f:
            return int(json.load(f)["num_buckets"])
    except (OSError, ValueError, KeyError):
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--checkout", default=HERE, help="checkout whose engine runs")
    ap.add_argument("--seed", type=int, default=3)
    ap.add_argument("--cycles", type=int, default=36)
    ap.add_argument("--slice", type=int, default=5, help="documents per cycle")
    ap.add_argument(
        "--warm", type=int, default=5, help="cycles left out of the summary mean"
    )
    args = ap.parse_args(argv)

    checkout = os.path.abspath(args.checkout)
    sys.path.insert(0, checkout)
    from perfbench import datagen, run, workloads

    work = tempfile.mkdtemp(prefix="fold_steady_")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_DRIVER_MEM"] = run.JVM_HEAP
    spark = None
    try:
        src = os.path.join(work, "src")
        datagen.write_source(src, args.seed, run.SF, workloads.CorpusStatsFold.N_DOCS)
        from databricks_incremental_lakehouse_spark.session import build_spark

        spark = build_spark(app_name="fold-steady-state")
        spark.sparkContext.setLogLevel("ERROR")
        ctx = run.Context(spark, work, src, args.seed, None, run.load_parity().compare)

        class Fold(workloads.CorpusStatsFold):
            SLICE = args.slice

        wl = Fold(ctx)
        if args.cycles > len(wl.slices):
            ap.error(f"--cycles {args.cycles} > {len(wl.slices)} slices of {args.slice}")
        t = time.perf_counter()
        wl.initial_load()
        init_s = time.perf_counter() - t
        jsc = spark.sparkContext._jsc.sc()

        def read_s() -> float:
            t = time.perf_counter()
            wl.incrstats.token_stats(spark, wl.root).collect()
            return time.perf_counter() - t

        reads = {pending(wl.root)["tok_stats"]: [read_s()]}
        cycles = []
        print(f"initial load {init_s:.2f}s; num_buckets {num_buckets(wl.root)}", flush=True)
        for i in range(args.cycles):
            before = dir_ids(wl.root)
            j0 = jsc.dagScheduler().nextJobId()
            t = time.perf_counter()
            wl.op(i)
            wall = time.perf_counter() - t
            jobs = jsc.dagScheduler().nextJobId() - j0
            after = pending(wl.root)
            compacted = [s for s, ino in dir_ids(wl.root).items() if ino != before[s]]
            r = read_s()
            reads.setdefault(after["tok_stats"], []).append(r)
            cycles.append({"wall_s": wall, "jobs": jobs, "compacted": compacted, "pending": after})
            mark = f" COMPACTED {','.join(compacted)}" if compacted else ""
            print(
                f"cycle {i + 1:3d} {wall:6.2f}s {jobs:3d} jobs  pending "
                f"{' '.join(str(after[s]) for s in STATS)}  read {r:.2f}s{mark}",
                flush=True,
            )

        t = time.perf_counter()
        try:
            wl.check()
            check = "passed"
        except AssertionError as exc:
            check = f"FAILED: {exc}"
        print(f"oracle check {check} in {time.perf_counter() - t:.1f}s", flush=True)

        steady = [c["wall_s"] for c in cycles[args.warm :]]
        summary = {
            "checkout": checkout,
            "seed": args.seed,
            "cycles": args.cycles,
            "slice": args.slice,
            "num_buckets": num_buckets(wl.root),
            "initial_load_s": round(init_s, 3),
            f"mean_s_after_{args.warm}": round(statistics.mean(steady), 3),
            f"median_s_after_{args.warm}": round(statistics.median(steady), 3),
            "mean_jobs": round(statistics.mean(c["jobs"] for c in cycles), 2),
            "compacting_cycles": {
                i + 1: [round(c["wall_s"], 3), c["jobs"]]
                for i, c in enumerate(cycles)
                if c["compacted"]
            },
            "max_pending": max(max(c["pending"].values()) for c in cycles),
            "token_stats_read_s_by_pending": {
                k: round(statistics.median(v), 3) for k, v in sorted(reads.items())
            },
            "check": check,
        }
        print(json.dumps(summary), flush=True)
        return 0 if check == "passed" else 1
    finally:
        if spark is not None:
            run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
