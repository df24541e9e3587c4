"""The benchmark's workloads.

Each workload calls only the engine's public entry points, through the
module attribute at call time (so the traced run's wrappers are seen),
and checks its outputs against the registry's DuckDB oracles with
``tests/parity.compare``, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

import numpy as np

from . import datagen, probes

PKG = "databricks_incremental_lakehouse_spark"


class Collected:
    """Rows collected inside an operation, in the shape ``parity.compare``
    reads from a DataFrame (``schema``, ``columns``, ``collect``), so the
    rows an operation returned are the rows that get checked."""

    def __init__(self, df) -> None:
        self.schema = df.schema
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self):
        return self._rows


def link_source(src: str, dst: str, replace: dict[str, str]) -> str:
    """A source dir for the oracle: every table of ``src`` hard-linked,
    except the ``replace`` ones (table name -> parquet path)."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for f in os.listdir(src):
        if f.endswith(".parquet") and f[: -len(".parquet")] not in replace:
            os.link(os.path.join(src, f), os.path.join(dst, f))
    for table, path in replace.items():
        shutil.copyfile(path, os.path.join(dst, f"{table}.parquet"))
    return dst


class Workload:
    """One operation type run in a closed loop. ``ctx`` carries the
    session, the run's work dir, the seed and the optional tracer."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.work = ctx.work
        self.stats: dict[str, list[float]] = {}

    def span(self, name: str, layer: str):
        t = self.ctx.tracer
        return t.span(name, layer) if t is not None else nullcontext()

    def note(self, key: str, value: float) -> None:
        self.stats.setdefault(key, []).append(value)

    def initial_load(self) -> None:
        pass

    def op(self, i: int) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def instrument(self, ins) -> None:
        pass

    def storage_before(self) -> None:
        pass

    def storage_after(self) -> None:
        pass


class MedallionRebuild(Workload):
    """One full sales DAG + supplier DAG into a fresh warehouse, then the
    four README BI queries over the written gold views. The initial load
    is the first rebuild, into an empty warehouse on a cold JVM."""


    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from databricks_incremental_lakehouse_spark import pipelines

        self.pipelines = pipelines
        self.cfg = pipelines.LakehouseConfig.from_env_file(
            sf_dir=ctx.src, warehouse_dir=os.path.join(self.work, "warehouse")
        )
        # the layer a write belongs to is its schema dir in the warehouse
        self.layer_dirs = {
            os.path.join(self.cfg.warehouse_dir, self.cfg.settings[f"{s}_schema"]): layer
            for s, layer in (("extract", "bronze"), ("refined", "silver"), ("views", "gold"))
        }
        self.bi: dict = {}

    def _bi_queries(self) -> dict:
        from pyspark.sql import functions as F

        sp = self.spark

        def view(name):
            return sp.read.parquet(self.cfg.table_path("views", name))

        return {
            "bi_regional_revenue_1998": lambda: view("vw_revenue_by_region").filter(
                F.col("order_year") == 1998
            ),
            "bi_top_platinum_clv": lambda: view("vw_customer_lifetime_value")
            .filter(F.col("value_tier") == "Platinum")
            .select("customer_name", "estimated_3yr_clv", "customer_segment")
            .orderBy(F.col("estimated_3yr_clv").desc(), F.col("customer_name").asc())
            .limit(20),
            "bi_strategic_suppliers": lambda: view("vw_supplier_performance")
            .filter(F.col("supplier_tier") == "Tier 1 - Strategic")
            .select(
                "supplier_name", "supplier_region", "performance_score", "on_time_delivery_rate"
            ),
            "bi_monthly_trend_series": lambda: view("vw_monthly_sales_trends").select(
                "order_year",
                "order_month",
                "total_revenue",
                "revenue_3mo_moving_avg",
                "mom_revenue_growth_pct",
            ),
        }

    def _rebuild(self) -> None:
        t0 = time.perf_counter()
        sales = self.pipelines.run_sales_analytics(self.spark, self.cfg)
        supplier = self.pipelines.run_supplier_analytics(self.spark, self.cfg)
        dag = time.perf_counter() - t0
        busy = sum(r["elapsed"] for r in [*sales.values(), *supplier.values()])
        self.note("pipelines.dag_s", dag)
        self.note("pipelines.stage_busy_s", busy)
        t1 = time.perf_counter()
        plan = 0.0
        for name, build in self._bi_queries().items():
            with self.span(name, "query"):
                tp = time.perf_counter()
                df = build()
                plan += time.perf_counter() - tp
                self.bi[name] = Collected(df)
        bi = time.perf_counter() - t1
        self.note("gold.bi_s", bi)
        self.note("query.plan_s", plan)
        self.note("query.exec_s", bi - plan)

    def initial_load(self) -> None:
        self._rebuild()

    def op(self, i: int) -> None:
        self._rebuild()

    def check(self) -> None:
        from databricks_incremental_lakehouse_spark.registry import ORACLE

        for view, name in [
            ("vw_revenue_by_region", "gold_revenue_by_region"),
            ("vw_customer_lifetime_value", "gold_customer_lifetime_value"),
            ("vw_supplier_performance", "gold_supplier_performance"),
            ("vw_monthly_sales_trends", "gold_monthly_sales_trends"),
        ]:
            df = self.spark.read.parquet(self.cfg.table_path("views", view))
            self.ctx.compare(df, ORACLE[name], self.ctx.src, name)
        for name, rows in self.bi.items():
            self.ctx.compare(rows, ORACLE[name], self.ctx.src, name)

    def instrument(self, ins) -> None:
        import importlib

        from databricks_incremental_lakehouse_spark import bronze, gold, silver
        from databricks_incremental_lakehouse_spark.pipelines import runner
        from databricks_incremental_lakehouse_spark.quality import checks

        importlib.import_module(f"{PKG}.registry")  # every importer is loaded
        ins.wrap(runner.run_sales_analytics, "pipelines", window=True)
        ins.wrap(runner.run_supplier_analytics, "pipelines", window=True)
        for fn in set(bronze.BRONZE_BUILDERS.values()):
            ins.wrap(fn, "bronze", registries=[bronze.BRONZE_BUILDERS])
        for fn in (silver.silver_order_details, silver.silver_customer_orders, silver.silver_supplier_parts):
            ins.wrap(fn, "silver")
        for fn in (
            gold.vw_revenue_by_region,
            gold.vw_customer_lifetime_value,
            gold.vw_monthly_sales_trends,
            gold.vw_supplier_performance,
        ):
            ins.wrap(fn, "gold")
        ins.wrap(checks.run_all_checks, "quality")

        def write_layer(args, kwargs):
            path = kwargs.get("path", args[1] if len(args) > 1 else "")
            return self.layer_dirs.get(os.path.dirname(path), "write")

        ins.wrap(runner.write_table, "write", layer_of=write_layer)

    def storage_after(self) -> None:
        for d, layer in self.layer_dirs.items():
            files, size = probes.tree_size(d)
            self.note(f"{layer}.files_written", files)
            self.note(f"{layer}.bytes_written", size)


class CorpusStatsFold(Workload):
    """One ``apply_doc_updates`` cycle on the next seeded slice of the
    held-out documents. Slices are disjoint, so every cycle inserts new
    documents; the initial load builds the statistics of the other 90%."""

    N_DOCS = 2000
    SLICE = 10

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from databricks_incremental_lakehouse_spark.llmdata import incrstats

        self.incrstats = incrstats
        self.root = os.path.join(self.work, "tokstats")
        self.slices = datagen.doc_slices(self.N_DOCS, ctx.seed, self.SLICE)
        self.slice_dir = os.path.join(self.work, "slices")
        os.makedirs(self.slice_dir)
        self.slice_bytes = []
        src_docs = os.path.join(ctx.src, "documents.parquet")
        for k, ids in enumerate(self.slices):
            path = os.path.join(self.slice_dir, f"slice_{k:03d}.parquet")
            self.slice_bytes.append(datagen.write_doc_slice(src_docs, path, ids))
        self.applied: list[int] = []

    def initial_load(self) -> None:
        self.incrstats.init_token_stats(self.spark, self.ctx.src, self.root)

    def op(self, i: int) -> None:
        if i >= len(self.slices):
            raise RuntimeError(f"out of held-out document slices ({len(self.slices)})")
        docs = self.spark.read.parquet(os.path.join(self.slice_dir, f"slice_{i:03d}.parquet"))
        self.incrstats.apply_doc_updates(self.spark, self.root, docs)
        self.applied.append(i)

    def check(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from databricks_incremental_lakehouse_spark.llmdata.texthash import TOKENIZE_SQL

        inc = self.incrstats
        docs = pq.read_table(os.path.join(self.ctx.src, "documents.parquet"))
        ids = docs.column("doc_id").to_numpy()
        applied = np.concatenate([self.slices[k] for k in self.applied])
        keep = (ids % datagen.ARRIVAL_MOD != 0) | np.isin(ids, applied)
        ingested = os.path.join(self.work, "ingested_documents.parquet")
        pq.write_table(docs.filter(pa.array(keep)), ingested)
        src = link_source(
            self.ctx.src, os.path.join(self.work, "check_src"), {"documents": ingested}
        )
        doc_oracle = f"""
            WITH tok AS (
                SELECT doc_id, unnest({TOKENIZE_SQL.format(c="text")}) AS token
                FROM documents
            ),
            tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_unique_tokens,
                   CAST(SUM(tf) AS DOUBLE) AS dl
            FROM tf GROUP BY doc_id"""
        for name, df, sql in [
            ("token_stats", inc.token_stats(self.spark, self.root), inc.INCR_TOKEN_STATS_ORACLE),
            ("doc_stats", inc.doc_stats(self.spark, self.root), doc_oracle),
            ("bigram_stats", inc.bigram_stats(self.spark, self.root), inc.INCR_BIGRAM_STATS_ORACLE),
        ]:
            self.ctx.compare(df, sql, src, name)

    def instrument(self, ins) -> None:
        from databricks_incremental_lakehouse_spark.streaming import incremental

        inc = self.incrstats
        ins.wrap(inc.init_token_stats, "incrstats.init")
        ins.wrap(inc.apply_doc_updates, "incrstats", window=True)
        ins.wrap(incremental.merge_upsert, "merge")
        ins.wrap(incremental.apply_cdf_delta, "cdf")

    def storage_before(self) -> None:
        self._before = probes.snapshot(self.root)

    def storage_after(self) -> None:
        after = probes.snapshot(self.root)
        logs = {p: v for p, v in after.items() if f"_log{os.sep}" in p}
        data = {p: v for p, v in after.items() if p not in logs}
        files, size = probes.written(self._before, data)
        self.note("merge.files_rewritten", files)
        self.note("merge.bytes_rewritten", size)
        self.note("merge.write_amp", size / self.slice_bytes[self.applied[-1]])
        self.note("changelog.bytes", probes.written(self._before, logs)[1])
        dirs = {os.path.dirname(p) for p in logs} - {os.path.dirname(p) for p in self._before}
        self.note(
            "changelog.commits",
            sum(os.path.basename(d).startswith("commit=") for d in dirs),
        )


WORKLOADS = {
    "medallion_rebuild": MedallionRebuild,
    "corpus_stats_fold": CorpusStatsFold,
}
