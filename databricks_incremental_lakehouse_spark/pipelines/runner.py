"""Pipeline orchestration — the reference's two workflow DAGs, in-process.

Re-expresses ``src/pipelines/run_sales_analytics.py`` and
``run_supplier_analytics.py``: the ``dbutils.notebook.run`` child-job chain
(run_sales_analytics.py:45-60) becomes plain function calls per stage with
the same stage names, fail-fast gates (:74-76, :98-100, :112-114), timing,
and result-dict shape ``{"status", "elapsed"[, "error"]}`` (:56-60), plus
``_context.py``'s env-config loading with inline fallback defaults (:24-42).

Inter-stage data flows through materialized tables exactly as in the
reference (catalog tables there, parquet dirs here) — never through driver
memory. Silver ``order_details`` is written partitioned by ``order_year``
(create_refined_schemas.py:58) so gold-year predicates prune files.

Scale notes: each stage is one terminal write of one lazy plan —
all-or-nothing materialization (README.md:146-150). Writes coalesce by a
target file-count heuristic standing in for Delta's optimizeWrite
(create_extract_schemas.py:40); on a real cluster this becomes
``optimizeWrite``/``autoCompact`` or explicit repartition-by-write-keys.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..bronze import BRONZE_BUILDERS
from ..config import load_env_config
from ..constants import AS_OF_DATE, FIXED_BATCH_ID
from ..gold import (
    vw_customer_lifetime_value,
    vw_monthly_sales_trends,
    vw_revenue_by_region,
    vw_supplier_performance,
)
from ..quality.checks import run_all_checks
from ..silver.customer_orders import silver_customer_orders
from ..silver.order_details import silver_order_details
from ..silver.supplier_parts import silver_supplier_parts

_DEFAULT_CONFIG = {
    # mirrors configs/dev.json in the reference (_context.py:28-42 fallback)
    "environment": "dev",
    "catalog": "dev_lakehouse",
    "extract_schema": "bronze",
    "refined_schema": "silver",
    "views_schema": "gold",
    "max_retries": 3,
    "retry_delay_seconds": 60,
    "pipeline_mode": "triggered",
}


@dataclass
class LakehouseConfig:
    sf_dir: str
    warehouse_dir: str
    batch_id: str = FIXED_BATCH_ID
    as_of_date: str = AS_OF_DATE
    env: str = "dev"
    settings: dict = field(default_factory=lambda: dict(_DEFAULT_CONFIG))

    @classmethod
    def from_env_file(
        cls, sf_dir: str, warehouse_dir: str, env: str = "dev", configs_dir: str | None = None
    ) -> "LakehouseConfig":
        """Load configs/{env}.json with inline fallback (reference
        _context.py:24-42)."""
        settings = {**_DEFAULT_CONFIG, **load_env_config(env, configs_dir)}
        return cls(sf_dir=sf_dir, warehouse_dir=warehouse_dir, env=env, settings=settings)

    def table_path(self, schema: str, table: str) -> str:
        return os.path.join(self.warehouse_dir, self.settings[f"{schema}_schema"], table)


def write_table(
    df: DataFrame, path: str, partition_by: str | None = None, target_files: int = 8
) -> None:
    """Atomic full-snapshot overwrite (reference INSERT OVERWRITE,
    extract_orders.py:72-88) with small-file control. Partitioned writes
    stay task-parallel (32x7 files at sf0.1): clustering by the partition
    value first (the optimizeWrite shape the MERGE path uses) was measured
    a wash here — the clustering shuffle costs the writing stage what the
    fewer files save its readers, who resolve schemas from the run's
    schema registry anyway. At 100 TB the call flips (file count dominates
    listing + open cost) and the merge path's repartition-by-dir form is
    the one to lift."""
    writer = df.coalesce(target_files) if partition_by is None else df
    w = writer.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(path)


def _run_stage(
    results: dict, name: str, fn, max_retries: int = 0, retry_delay: float = 0.0
) -> dict:
    """Timing + status capture (run_sales_analytics.py:45-60), with the
    config's ``max_retries``/``retry_delay_seconds`` honored (the reference
    declares both in configs/*.json but never wires them up — here a
    transient stage failure is retried before the gate sees it)."""
    start = time.time()
    attempts = 0
    while True:
        try:
            fn()
            results[name] = {
                "status": "SUCCESS",
                "elapsed": time.time() - start,
                "attempts": attempts + 1,
            }
            break
        except Exception as exc:  # noqa: BLE001 — stage gate decides fate
            attempts += 1
            if attempts > max_retries:
                results[name] = {
                    "status": "FAILED",
                    "elapsed": time.time() - start,
                    "attempts": attempts,
                    "error": str(exc),
                }
                break
            if retry_delay:
                time.sleep(retry_delay)
    return results[name]


def _run_stages_parallel(
    results: dict,
    stages: dict,
    max_retries: int = 0,
    retry_delay: float = 0.0,
    max_workers: int = 4,
) -> None:
    """Run INDEPENDENT stages concurrently, each under the same
    :func:`_run_stage` timing/retry capture.

    Spark's scheduler multiplexes concurrently-submitted jobs across the
    executor pool (a documented multi-thread driver pattern), so a group
    of small independent writes — the 8 bronze extracts, the silver
    builds, the gold views — overlaps its per-job fixed costs instead of
    paying them serially; each stage's tasks still use every core when it
    is the only one running. The reference's Databricks Workflow runs its
    child notebooks strictly sequentially (run_sales_analytics.py:69-134)
    — DAG-level parallelism is free wall-clock it leaves on the table.
    Stage results land under distinct keys, so concurrent capture is
    safe; gates still run AFTER the group completes."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_workers) as ex:
        futures = [
            ex.submit(_run_stage, results, name, fn, max_retries, retry_delay)
            for name, fn in stages.items()
        ]
        for f in futures:
            f.result()


def _run_dag(
    results: dict,
    stages: dict,
    max_retries: int = 0,
    retry_delay: float = 0.0,
    weights: dict | None = None,
) -> None:
    """Dependency-driven stage scheduler: each stage is ``(fn, deps)`` and
    starts the moment every named dependency has SUCCEEDED — not when its
    barrier *group* finishes. Versus the grouped runner this removes two
    false waits on the sales DAG: ``ref_customer_orders`` (needs
    customers/orders/geo) no longer waits for the slow ``ext_lineitem``,
    and ``quality_checks`` (reads bronze + silver only) overlaps the gold
    views instead of running after them. A stage whose dependency FAILED
    is recorded as FAILED with an ``upstream`` error and never runs — the
    same fail-fast outcome the group gates produced, at stage granularity.

    ``weights`` (optional, cost hints from measured stage seconds) orders
    SIMULTANEOUSLY-ready stages heaviest-first (r14, guide §2.6): Spark's
    FIFO scheduler gives earlier-submitted jobs first claim on executors
    and later jobs back-fill their stragglers, so when the two silver
    tables land and four tail stages become runnable at once, submitting
    the heaviest (CLV, QC) first lets the lighter views back-fill the
    heavies' tails instead of the reverse. Scheduling only — every stage
    still starts exactly when its deps are satisfied, and fail-fast
    semantics are unchanged.

    One worker thread per stage (threads blocked on dependency events are
    cheap; Spark jobs submitted from many driver threads multiplex across
    the executor pool), so pool-exhaustion deadlock is impossible."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    # validate the DAG before any thread starts: a dep absent from `stages`
    # (or a cycle) would otherwise strand every dependent waiting on an
    # event that never fires, hanging the pipeline instead of failing
    unknown = {
        name: [d for d in deps if d not in stages]
        for name, (_fn, deps) in stages.items()
        if any(d not in stages for d in deps)
    }
    if unknown:
        raise ValueError(f"_run_dag: stages depend on unknown stages: {unknown}")
    resolved: set[str] = set()
    pending = {name: set(deps) for name, (_fn, deps) in stages.items()}
    while pending:
        ready = [n for n, deps in pending.items() if deps <= resolved]
        if not ready:
            raise ValueError(
                f"_run_dag: dependency cycle among stages: {sorted(pending)}"
            )
        resolved.update(ready)
        for n in ready:
            del pending[n]

    weights = weights or {}
    # serializes the ready-check + start so co-ready stages start in
    # weight order; held only around bookkeeping, never around stage work
    lock = threading.Lock()
    started: set[str] = set()
    finished: set[str] = set()
    cv = threading.Condition(lock)

    def _runner(name: str, fn, deps) -> None:
        t0 = time.time()
        try:
            with cv:
                while not all(d in finished for d in deps):
                    cv.wait()
                # among co-ready unstarted stages, only the heaviest may
                # start now — lighter co-ready peers loop until it has
                # (started set + notify_all make this a total order)
                while True:
                    co_ready = [
                        n
                        for n, (_f, ds) in stages.items()
                        if n not in started
                        and all(d in finished for d in ds)
                    ]
                    if name == max(
                        co_ready, key=lambda n: (weights.get(n, 0.0), n)
                    ):
                        break
                    cv.wait()
                started.add(name)
                cv.notify_all()
            bad = [
                d for d in deps if results.get(d, {}).get("status") != "SUCCESS"
            ]
            if bad:
                results[name] = {
                    "status": "FAILED",
                    "elapsed": time.time() - t0,
                    "attempts": 0,
                    "error": f"upstream failed: {bad}",
                }
            else:
                _run_stage(results, name, fn, max_retries, retry_delay)
        finally:
            # ALWAYS release dependents, even if this runner itself raised
            # (they then observe a non-SUCCESS result and fail fast instead
            # of blocking forever)
            with cv:
                finished.add(name)
                started.add(name)  # defensive: never strand co-ready peers
                cv.notify_all()

    with ThreadPoolExecutor(max_workers=max(1, len(stages))) as ex:
        futures = [
            ex.submit(_runner, name, fn, deps)
            for name, (fn, deps) in stages.items()
        ]
        for f in futures:
            f.result()


def format_run_summary(
    pipeline_name: str, results: dict, env: str = "dev", run_id: str = ""
) -> str:
    """Formatted pipeline summary (run_sales_analytics.py:146-160) as a
    string — the reference prints it; callers here log or print it."""
    total = sum(r.get("elapsed", 0.0) for r in results.values())
    failed = {k: v for k, v in results.items() if v["status"] == "FAILED"}
    lines = [
        "=" * 65,
        f"  PIPELINE SUMMARY: {pipeline_name}",
        "=" * 65,
        f"  Run ID:   {run_id}",
        f"  Env:      {env}",
        f"  Duration: {round(total, 2)}s",
        "─" * 65,
        f"  {'Stage':<35} {'Status':<10} {'Time':<10}",
        "─" * 65,
    ]
    for stage, res in results.items():
        icon = "OK" if res["status"] == "SUCCESS" else "FAIL"
        lines.append(f"  {stage:<35} {icon:<10} {round(res['elapsed'], 3)}s")
    lines += [
        "─" * 65,
        f"  Result: {'SUCCESS' if not failed else f'FAILED ({len(failed)} failures)'}",
        "=" * 65,
    ]
    return "\n".join(lines)


def _gate(results: dict, stages: list[str], label: str) -> None:
    """Fail-fast gate between stage groups (run_sales_analytics.py:74-76)."""
    failed = [s for s in stages if results.get(s, {}).get("status") != "SUCCESS"]
    if failed:
        raise RuntimeError(f"{label} failed: {failed} — aborting pipeline")


def _stamp(df: DataFrame, ts_col: str) -> DataFrame:
    """Audit timestamp at materialization time (reference ``_ingested_at``
    create_extract_schemas.py:34 / ``_refined_at`` create_refined_schemas.py:54).
    Applied only on the write path — registry query plans stay deterministic
    for oracle comparison."""
    from pyspark.sql import functions as F

    return df.withColumn(ts_col, F.current_timestamp())


def _extract_stage(spark, cfg: LakehouseConfig, table: str, record=None):
    df = _stamp(
        BRONZE_BUILDERS[table](spark, cfg.sf_dir, batch_id=cfg.batch_id),
        "_ingested_at",
    )
    if record is not None:
        record(("extract", table), df)
    write_table(df, cfg.table_path("extract", table))


def _read(spark: SparkSession, cfg: LakehouseConfig, schema: str, table: str) -> DataFrame:
    return spark.read.parquet(cfg.table_path(schema, table))


def _schema_registry():
    """Per-run written-schema capture: ``spark.read.parquet`` without a
    schema pays partition discovery + footer inference PER READ (measured
    1.7s on the year-partitioned silver fact — the dominant hidden cost of
    the four concurrent tail stages, each re-reading the same tables). The
    writing stage already holds the exact schema, so record it at write
    time and hand it to every read-back; fields are forced nullable (a
    lit()/current_timestamp-derived column is non-null in the writer's
    frame but the reader must not carry that as an optimizer assertion —
    the same rule as the merge sidecar). On a real deployment this is the
    catalog: readers resolve schemas from the metastore, never from file
    footers."""
    from pyspark.sql.types import StructField, StructType

    schemas: dict = {}

    def record(key: tuple, df: DataFrame) -> DataFrame:
        schemas[key] = StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in df.schema.fields]
        )
        return df

    def read(spark: SparkSession, cfg: LakehouseConfig, schema: str, table: str) -> DataFrame:
        sch = schemas.get((schema, table))
        if sch is None:
            return _read(spark, cfg, schema, table)
        return spark.read.schema(sch).parquet(cfg.table_path(schema, table))

    return record, read


def run_sales_analytics(
    spark: SparkSession, cfg: LakehouseConfig, quality_raises: bool = False
) -> dict:
    """Sales DAG (run_sales_analytics.py:69-134): extracts, refined, views,
    QC — scheduled by true data dependency (:func:`_run_dag`) rather than
    the reference's strictly sequential child-notebook chain. The same
    gates fire with the same labels; they are evaluated in reference order
    once the DAG settles, and a failed upstream already blocked its
    downstream stages from running."""
    results: dict = {}
    retries = int(cfg.settings.get("max_retries", 0))
    delay = float(cfg.settings.get("retry_delay_seconds", 0))
    if os.path.isdir(cfg.warehouse_dir):
        shutil.rmtree(cfg.warehouse_dir)
    record, rd = _schema_registry()

    def _partsupp():
        # derive from the bronze tables just written, not a second
        # raw-lineitem dedup pass
        df = BRONZE_BUILDERS["partsupp"](
            spark,
            cfg.sf_dir,
            batch_id=cfg.batch_id,
            lineitem=rd(spark, cfg, "extract", "lineitem"),
            parts=rd(spark, cfg, "extract", "parts"),
        )
        write_table(
            record(("extract", "partsupp"), _stamp(df, "_ingested_at")),
            cfg.table_path("extract", "partsupp"),
        )

    def _od():
        df = silver_order_details(
            spark,
            cfg.sf_dir,
            batch_id=cfg.batch_id,
            orders=rd(spark, cfg, "extract", "orders"),
            lineitem=rd(spark, cfg, "extract", "lineitem"),
            parts=rd(spark, cfg, "extract", "parts"),
        )
        write_table(
            record(("refined", "order_details"), _stamp(df, "_refined_at")),
            cfg.table_path("refined", "order_details"),
            partition_by="order_year",
        )

    def _co():
        df = silver_customer_orders(
            spark,
            cfg.sf_dir,
            batch_id=cfg.batch_id,
            as_of_date=cfg.as_of_date,
            customers=rd(spark, cfg, "extract", "customers"),
            orders=rd(spark, cfg, "extract", "orders"),
            nation=rd(spark, cfg, "extract", "nation"),
            region=rd(spark, cfg, "extract", "region"),
        )
        write_table(
            record(("refined", "customer_orders"), _stamp(df, "_refined_at")),
            cfg.table_path("refined", "customer_orders"),
        )

    def _vw_revenue():
        od = rd(spark, cfg, "refined", "order_details")
        co = rd(spark, cfg, "refined", "customer_orders")
        write_table(
            vw_revenue_by_region(spark, cfg.sf_dir, order_details=od, customer_orders=co),
            cfg.table_path("views", "vw_revenue_by_region"),
        )

    def _vw_clv():
        od = rd(spark, cfg, "refined", "order_details")
        co = rd(spark, cfg, "refined", "customer_orders")
        write_table(
            vw_customer_lifetime_value(
                spark, cfg.sf_dir, order_details=od, customer_orders=co
            ),
            cfg.table_path("views", "vw_customer_lifetime_value"),
        )

    def _vw_monthly():
        od = rd(spark, cfg, "refined", "order_details")
        write_table(
            vw_monthly_sales_trends(spark, cfg.sf_dir, order_details=od),
            cfg.table_path("views", "vw_monthly_sales_trends"),
        )

    def _qc():
        # QC reads the materialized warehouse (reference data_quality_checks
        # reads catalog tables), not re-derived layers; supplier_parts
        # belongs to the weekly supplier DAG and is skipped if that DAG has
        # not materialized it yet. Depends on bronze + silver only, so it
        # overlaps the gold views.
        qc_src = {
            f"bronze.{t}": rd(spark, cfg, "extract", t) for t in BRONZE_BUILDERS
        }
        qc_src["silver.order_details"] = rd(spark, cfg, "refined", "order_details")
        qc_src["silver.customer_orders"] = rd(
            spark, cfg, "refined", "customer_orders"
        )
        sp_path = cfg.table_path("refined", "supplier_parts")
        qc_src["silver.supplier_parts"] = (
            spark.read.parquet(sp_path) if os.path.isdir(sp_path) else None
        )
        run_all_checks(spark, cfg.sf_dir, raise_on_fail=quality_raises, sources=qc_src)

    extracts = ("nation", "region", "customers", "suppliers", "parts", "orders", "lineitem")
    silver_deps = [f"ext_{t}" for t in extracts]
    dag: dict = {
        **{
            f"ext_{t}": ((lambda t=t: _extract_stage(spark, cfg, t, record)), [])
            for t in extracts
        },
        "ext_partsupp": (_partsupp, ["ext_lineitem", "ext_parts"]),
        "ref_order_details": (_od, ["ext_orders", "ext_lineitem", "ext_parts"]),
        "ref_customer_orders": (
            _co,
            ["ext_customers", "ext_orders", "ext_nation", "ext_region"],
        ),
        "vw_revenue_by_region": (
            _vw_revenue,
            ["ref_order_details", "ref_customer_orders"],
        ),
        "vw_customer_lifetime_value": (
            _vw_clv,
            ["ref_order_details", "ref_customer_orders"],
        ),
        "vw_monthly_sales_trends": (_vw_monthly, ["ref_order_details"]),
        "quality_checks": (
            _qc,
            silver_deps + ["ext_partsupp", "ref_order_details", "ref_customer_orders"],
        ),
    }
    # Cost hints for co-ready submission order (r14, guide §2.6), from the
    # measured per-stage seconds at sf0.1 (BENCH_DETAIL sales.* keys): when
    # the silver tables land, CLV / monthly / revenue / QC become runnable
    # together — heaviest submits first so the lighter jobs back-fill its
    # straggler tail under Spark's FIFO scheduling. Relative order is what
    # matters, not the absolute numbers.
    weights = {
        "vw_customer_lifetime_value": 5.1,
        "vw_monthly_sales_trends": 4.7,
        "vw_revenue_by_region": 4.5,
        "quality_checks": 4.1,
        "ref_order_details": 3.4,
        "ref_customer_orders": 3.0,
        "ext_lineitem": 2.0,
        "ext_orders": 1.5,
        "ext_partsupp": 1.0,
    }
    _run_dag(results, dag, retries, delay, weights=weights)

    # reference gate labels, evaluated in reference order (the scheduler
    # already blocked downstream stages of anything that failed)
    _gate(results, ["ext_nation", "ext_region"], "geo extracts")
    _gate(results, ["ext_orders", "ext_lineitem"], "critical extracts")
    _gate(
        results,
        ["ext_partsupp", "ref_order_details", "ref_customer_orders"],
        "refined models",
    )

    print(
        format_run_summary("sales_analytics", results, env=cfg.env),
        file=sys.stderr,
    )
    failed = {k: v for k, v in results.items() if v["status"] != "SUCCESS"}
    if failed:
        raise RuntimeError(f"sales pipeline completed with failures: {failed}")
    return results


def run_supplier_analytics(
    spark: SparkSession, cfg: LakehouseConfig, quality_raises: bool = False
) -> dict:
    """Supplier DAG (run_supplier_analytics.py:87-126); assumes shared
    extracts exist (run after or alongside the sales DAG, as the reference
    schedules weekly after daily sales runs)."""
    results: dict = {}
    retries = int(cfg.settings.get("max_retries", 0))
    delay = float(cfg.settings.get("retry_delay_seconds", 0))
    needed = ["orders", "lineitem", "suppliers", "parts", "partsupp", "nation", "region"]
    for t in needed:
        if not os.path.isdir(cfg.table_path("extract", t)):
            _run_stage(results, f"ext_{t}", lambda t=t: _extract_stage(spark, cfg, t), retries, delay)
    _gate(
        results,
        [k for k in results if k.startswith("ext_")],
        "supplier extracts",
    )

    record, rd = _schema_registry()  # extracts written by the SALES run
    # resolve by inference once; tables written here read back registered

    def _sp():
        df = silver_supplier_parts(
            spark,
            cfg.sf_dir,
            batch_id=cfg.batch_id,
            suppliers=rd(spark, cfg, "extract", "suppliers"),
            partsupp=rd(spark, cfg, "extract", "partsupp"),
            parts=rd(spark, cfg, "extract", "parts"),
            nation=rd(spark, cfg, "extract", "nation"),
            region=rd(spark, cfg, "extract", "region"),
        )
        write_table(
            record(("refined", "supplier_parts"), _stamp(df, "_refined_at")),
            cfg.table_path("refined", "supplier_parts"),
        )

    _run_stage(results, "ref_supplier_parts", _sp, retries, delay)
    _gate(results, ["ref_supplier_parts"], "refined supplier parts")

    def _vw():
        sp = rd(spark, cfg, "refined", "supplier_parts")
        od = rd(spark, cfg, "refined", "order_details")
        write_table(
            vw_supplier_performance(
                spark, cfg.sf_dir, supplier_parts=sp, order_details=od
            ),
            cfg.table_path("views", "vw_supplier_performance"),
        )

    _run_stage(results, "vw_supplier_performance", _vw, retries, delay)

    print(
        format_run_summary("supplier_analytics", results, env=cfg.env),
        file=sys.stderr,
    )
    failed = {k: v for k, v in results.items() if v["status"] != "SUCCESS"}
    if failed:
        raise RuntimeError(f"supplier pipeline completed with failures: {failed}")
    return results
