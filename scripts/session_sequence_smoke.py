"""One-session full-registry sequence smoke (VERDICT r12 #2).

The registry's 170 queries share session-scoped state (the tokmemo
shared-frame cache, maintained warehouses, IVF stores). The per-query
oracle sweep runs each query in whatever window order the round uses,
so a query that CORRUPTS shared state for a LATER consumer can stay
invisible for rounds — exactly the stale-adopted-frame crash VERDICT
r12 #1 bisected (token-stats -> CMS cycle -> any tokmemo consumer died
FILE_NOT_EXIST; latent since r10 because no window ever ran that order).

This script is the detector that bug class lacked: execute EVERY
registered query in ONE Spark session, twice —

  1. in the registry's own (rotation-policy) order, and
  2. in a seeded-shuffle order, a different interleaving each seed —

asserting only that each query builds and collects without raising.
Pure smoke: no oracle, no value comparison (the sweep owns those), so a
full 2x170 pass at sf0.001 is cheap relative to one oracle sweep.

Each order's summary also counts Spark's generated-code compiles: the
total (``codegen_compiles``) and the distinct classes among them
(``codegen_distinct``, the order's codegen working set). The
generated-code cache is emptied when an order starts, so distinct is the
cache's size at the end. The session sizes the cache as ``build_spark``
does (``CODEGEN_CACHE_ENTRIES``); if an order's working set outgrew it,
the cache evicted (total > cached) and distinct is reported as null.

Usage:
    python scripts/session_sequence_smoke.py [--sf-dir DIR] [--seed N]
        [--orders window,shuffled] [--out FILE]

Exit code 0 iff every query in every order succeeded.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from databricks_incremental_lakehouse_spark.session import (  # noqa: E402
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)

SF_DIR = os.environ.get("SEQ_SMOKE_SF_DIR", "/root/testdata/sf0.001")


def _build_session() -> SparkSession:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("session-sequence-smoke")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _codegen_cache(spark: SparkSession):
    """Spark's generated-code cache (a private field, read by reflection)."""
    jvm = spark.sparkContext._jvm
    field = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    ).getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def run_order(order_name: str, names: list[str], sf_dir: str) -> dict:
    """Run every query once, in `names` order, inside ONE fresh session.

    Each order gets its own session (memo keys include the session
    identity, so a fresh session starts with cold shared state — the
    order under test is the only order-dependence in play)."""
    from databricks_incremental_lakehouse_spark import memo

    spark = _build_session()
    queries = entry.queries()
    failures = []
    t_order = time.time()
    cache = _codegen_cache(spark)
    cache.invalidateAll()  # the JVM, and its cache, outlive the last order
    compiles0 = codegen_compiles(spark)
    try:
        for i, name in enumerate(names):
            t0 = time.time()
            try:
                n = queries[name](spark, sf_dir).count()
                status = "ok"
            except Exception:
                n = None
                status = "ERROR"
                failures.append(
                    {
                        "name": name,
                        "i": i,
                        "trace": traceback.format_exc()[-1200:],
                    }
                )
            print(
                json.dumps(
                    {
                        "order": order_name,
                        "i": i,
                        "name": name,
                        "status": status,
                        "rows": n,
                        "sec": round(time.time() - t0, 2),
                    }
                ),
                flush=True,
            )
        compiles = codegen_compiles(spark) - compiles0
        cached = int(cache.size())
    finally:
        memo.clear()
        spark.stop()
    return {
        "order": order_name,
        "n_queries": len(names),
        "n_failures": len(failures),
        "failures": failures,
        "sec": round(time.time() - t_order, 1),
        "codegen_compiles": compiles,
        "codegen_distinct": cached if cached == compiles else None,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--seed", type=int, default=13)
    ap.add_argument("--orders", default="window,shuffled")
    ap.add_argument("--out", default=None, help="write the summary JSON here too")
    args = ap.parse_args()

    window_order = list(entry.queries())
    orders: dict[str, list[str]] = {}
    for o in args.orders.split(","):
        if o == "window":
            orders["window"] = window_order
        elif o == "shuffled":
            shuffled = list(window_order)
            random.Random(args.seed).shuffle(shuffled)
            orders[f"shuffled_seed{args.seed}"] = shuffled
        else:
            raise SystemExit(f"unknown order {o!r}")

    results = [run_order(name, names, args.sf_dir) for name, names in orders.items()]
    summary = {
        "sf_dir": args.sf_dir,
        "seed": args.seed,
        "orders": results,
        "ok": all(r["n_failures"] == 0 for r in results),
    }
    print(json.dumps(summary), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0 if summary["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
