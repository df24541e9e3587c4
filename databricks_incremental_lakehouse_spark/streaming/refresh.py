"""End-to-end incremental silver/gold refresh — changed-key recompute.

The reference rebuilds every layer daily (full INSERT OVERWRITE chain,
run_sales_analytics.py:109-110). This module is the incremental
replacement: a micro-batch of changed ``orders``/``lineitem`` rows flows
bronze -> silver -> gold touching only the data that can change:

1. **Bronze**: keyed :func:`~.incremental.merge_upsert` per table
   (orders on ``o_orderkey``; lineitem on the composite line key, hash-
   bucketed by ``l_orderkey`` so a whole order's lines share a bucket).
2. **Silver** ``order_details``: the changed orders' rows are recomputed
   from merged bronze (bucket-pruned reads + broadcast semi-join on the
   changed keys) and merged with ``scope=`` replace semantics — every
   stale line of a changed order is dropped even if the new image has
   fewer/renumbered lines. The target is laid out
   ``order_year=Y/_kb=hash(order_key)`` so year predicates still prune
   for analytics while merges stay key-restricted.
3. **Gold** ``monthly_sales_trends``: the month-grain base aggregate is
   refreshed only for affected months (old image's months ∪ new image's
   months), re-aggregated from a year-pruned, month-semi-joined scan of
   silver; the trend-window layer is then recomputed wholesale over the
   month-grain base — O(#months) rows regardless of fact size.

At 100 TB the per-update cost is O(batch x table/num_buckets) for the
merges plus O(affected-month partitions) for the re-agg — never a full
fact scan. On Databricks the merge bodies become Delta ``MERGE INTO``
and the trends rewrite a gold table overwrite; semantics are identical.
"""

from __future__ import annotations

import os
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from .. import memo
from ..pinning import pin

from ..bronze import (
    bronze_customers,
    bronze_lineitem,
    bronze_nation,
    bronze_orders,
    bronze_parts,
    bronze_region,
)
from ..constants import FIXED_BATCH_ID
from ..gold.monthly_sales_trends import (
    monthly_sales_base,
    trend_windows,
    vw_monthly_sales_trends_oracle_sql,
)
from ..silver.customer_orders import (
    customer_orders_base,
    rfm_segmentation,
    silver_customer_orders_oracle_sql,
)
from ..silver.order_details import silver_order_details
from ..tables import load_table
from .incremental import (
    BUCKET_COL,
    _key_bucket,
    _read_meta,
    merge_upsert,
    read_merge_target,
)


def _parallel(*thunks) -> None:
    """Run independent merge/rewrite steps concurrently (same pattern as
    the batch runner's stage groups: Spark multiplexes concurrently
    submitted jobs, so a group of small independent writes overlaps its
    fixed costs). All steps run to completion; a single failure re-raises
    as-is, several raise together as an ExceptionGroup so no secondary
    traceback (possibly the real root cause) is discarded."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as ex:
        futures = [ex.submit(t) for t in thunks]
        errs = []
        for f in futures:
            try:
                f.result()
            except Exception as exc:  # noqa: BLE001 — re-raised below
                errs.append(exc)
        if len(errs) == 1:
            raise errs[0]
        if errs:
            raise ExceptionGroup("parallel refresh steps failed", errs)


class IncrementalWarehouse:
    """Path layout of the incremental warehouse (all merge targets)."""

    def __init__(self, root: str):
        self.root = root

    def bronze(self, table: str) -> str:
        return os.path.join(self.root, "bronze", table)

    @property
    def bronze_orders_by_customer(self) -> str:
        # secondary clustering of bronze orders: same rows, hash-bucketed by
        # o_custkey so customer-scoped recompute reads only the changed
        # customers' buckets (the classic second-sort-order copy a lakehouse
        # keeps when one fact serves two access paths)
        return os.path.join(self.root, "bronze", "orders_by_customer")

    @property
    def silver_order_details(self) -> str:
        return os.path.join(self.root, "silver", "order_details")

    @property
    def silver_customer_base(self) -> str:
        return os.path.join(self.root, "silver", "customer_orders_base")

    @property
    def gold_customer_orders(self) -> str:
        return os.path.join(self.root, "gold", "customer_orders")

    @property
    def gold_monthly_base(self) -> str:
        return os.path.join(self.root, "gold", "monthly_base")

    @property
    def gold_monthly_trends(self) -> str:
        return os.path.join(self.root, "gold", "monthly_sales_trends")


def _rewrite_trends(spark: SparkSession, wh: IncrementalWarehouse) -> None:
    """Recompute the window layer over the month-grain base (tiny at any
    SF) and publish it. A plain overwrite is fine for a table this small;
    on Delta this is the same gold-view refresh the reference runs."""
    trends = trend_windows(read_merge_target(spark, wh.gold_monthly_base))
    trends.coalesce(1).write.mode("overwrite").parquet(wh.gold_monthly_trends)


def _rewrite_customer_orders(
    spark: SparkSession, wh: IncrementalWarehouse, base: DataFrame | None = None
) -> None:
    """Recompute the RFM-quintile layer over the customer-grain base and
    publish it. Any customer's change can shift the global quintile
    boundaries, so this layer is inherently whole-population — but it runs
    over customer-grain aggregates (O(customers)), never the order fact.
    ``base`` optionally supplies the post-merge image assembled ahead of
    the merge (the update path's concurrency trick)."""
    src = base if base is not None else read_merge_target(
        spark, wh.silver_customer_base
    )
    out = rfm_segmentation(src)
    out.coalesce(4).write.mode("overwrite").parquet(wh.gold_customer_orders)


def _read_keys_pruned(
    spark: SparkSession, target: str, changed: DataFrame, key_col: str
) -> DataFrame:
    """Bucket-pruned read of a merge target restricted to the given keys.

    ``changed`` is a single-column DF of key values named ``key_col`` (the
    target's bucket key). Only bucket dirs that can contain those keys are
    scanned (the bucket-id collect is bounded by ``num_buckets``); the
    broadcast semi-join then exacts the rows — the micro-batch side is
    always the small side."""
    meta = _read_meta(target)
    nb = int(meta["num_buckets"])
    buckets = sorted(
        {
            r[0]
            for r in changed.select(
                _key_bucket([key_col], nb).alias("b")
            ).distinct().collect()
        }
    )
    df = (
        spark.read.parquet(target)
        .filter(F.col(BUCKET_COL).isin(buckets))
        .drop(BUCKET_COL)
    )
    return df.join(F.broadcast(changed), key_col, "left_semi")


def init_incremental_warehouse(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    batch_id: str = FIXED_BATCH_ID,
    num_buckets: int = 16,
) -> IncrementalWarehouse:
    """Initial (full) load of every layer into merge targets.

    ``num_buckets`` is the merge-cost dial: a B-key micro-batch touches at
    most min(B, num_buckets) buckets, so each keyed merge reads/rewrites
    <= B/num_buckets of its table. Size it so the per-bucket unit is a few
    hundred MB — at 100 TB that means thousands of buckets and a 50-key
    merge is O(batch), never O(table). At THIS harness's scale (sf0.1
    tables are ~10-60 MB) the dial inverts: a measured 256-bucket run
    (stage profile of the 50-order replay, r7) tripled the update-only time (6.0 ->
    17.3s) because hundreds of tiny files cost more to list/open than the
    full 16-bucket scan they avoid — so the local default stays 16, and
    the recorded attribution (BASELINE.md r7) shows the remaining ~5s
    floor is per-merge machinery (5 sequential-ish shuffle+write+swap
    stages of ~1s), a fixed cost a real cluster amortizes, not a scan
    defect."""
    wh = IncrementalWarehouse(root)
    # the seven bronze merge targets are independent — load concurrently
    _parallel(
        lambda: merge_upsert(
            spark,
            bronze_orders(spark, sf_dir, batch_id),
            wh.bronze("orders"),
            keys=["o_orderkey"],
            num_buckets=num_buckets,
        ),
        lambda: merge_upsert(
            spark,
            bronze_lineitem(spark, sf_dir, batch_id),
            wh.bronze("lineitem"),
            keys=["l_orderkey", "l_linenumber"],
            bucket_keys=["l_orderkey"],
            num_buckets=num_buckets,
        ),
        lambda: merge_upsert(
            spark,
            bronze_parts(spark, sf_dir, batch_id),
            wh.bronze("parts"),
            keys=["p_partkey"],
            num_buckets=num_buckets,
        ),
        lambda: merge_upsert(
            spark,
            bronze_orders(spark, sf_dir, batch_id),
            wh.bronze_orders_by_customer,
            keys=["o_custkey", "o_orderkey"],
            bucket_keys=["o_custkey"],
            num_buckets=num_buckets,
        ),
        lambda: merge_upsert(
            spark,
            bronze_customers(spark, sf_dir, batch_id),
            wh.bronze("customers"),
            keys=["c_custkey"],
            num_buckets=num_buckets,
        ),
        lambda: merge_upsert(
            spark,
            bronze_nation(spark, sf_dir, batch_id),
            wh.bronze("nation"),
            keys=["n_nationkey"],
            num_buckets=2,
        ),
        lambda: merge_upsert(
            spark,
            bronze_region(spark, sf_dir, batch_id),
            wh.bronze("region"),
            keys=["r_regionkey"],
            num_buckets=2,
        ),
    )
    # Past the bronze barrier the two grain chains are fully independent:
    # the month-grain chain owns silver order_details (its only reader
    # here), the customer-grain chain reads only bronze targets — so the
    # silver merge itself runs concurrently with the customer chain
    # rather than serializing ahead of both.
    def _monthly_chain() -> None:
        od = silver_order_details(
            spark,
            sf_dir,
            batch_id,
            orders=read_merge_target(spark, wh.bronze("orders")),
            lineitem=read_merge_target(spark, wh.bronze("lineitem")),
            parts=read_merge_target(spark, wh.bronze("parts")),
        )
        merge_upsert(
            spark,
            od,
            wh.silver_order_details,
            keys=["order_key", "line_number"],
            bucket_keys=["order_key"],
            partition_cols=["order_year"],
            num_buckets=num_buckets,
        )
        base = monthly_sales_base(
            read_merge_target(spark, wh.silver_order_details)
        )
        merge_upsert(
            spark,
            base,
            wh.gold_monthly_base,
            keys=["order_year", "order_month"],
            num_buckets=4,
        )
        _rewrite_trends(spark, wh)

    def _customer_chain() -> None:
        cust_base = customer_orders_base(
            read_merge_target(spark, wh.bronze("customers")),
            read_merge_target(spark, wh.bronze_orders_by_customer),
            read_merge_target(spark, wh.bronze("nation")),
            read_merge_target(spark, wh.bronze("region")),
        )
        merge_upsert(
            spark,
            cust_base,
            wh.silver_customer_base,
            keys=["customer_key"],
            num_buckets=num_buckets,
        )
        _rewrite_customer_orders(spark, wh)

    _parallel(_monthly_chain, _customer_chain)
    return wh


def apply_order_updates(
    spark: SparkSession,
    root: str,
    orders_updates: DataFrame | None = None,
    lineitem_updates: DataFrame | None = None,
    batch_id: str = FIXED_BATCH_ID,
    customers_updates: DataFrame | None = None,
) -> IncrementalWarehouse:
    """Flow one micro-batch of raw order/lineitem/customer changes through
    bronze -> silver -> gold, touching only affected keys/months/customers.

    Update model: an arriving ``orders`` row replaces the order (including
    a reassignment to a different customer — the old image is exact-key
    deleted from the by-customer clustering); arriving ``lineitem`` rows
    upsert individual lines; arriving ``customer`` rows replace the
    customer profile. Changed entities are re-derived wholesale from merged
    bronze, so silver images stay consistent with bronze (the invariant the
    reference's full rebuild provides, at a fraction of the cost)."""
    wh = IncrementalWarehouse(root)
    if not os.path.isdir(wh.silver_order_details):
        raise ValueError(
            f"incremental warehouse at {root!r} is not initialized; "
            "run init_incremental_warehouse first"
        )
    changed_parts = []
    if orders_updates is not None:
        changed_parts.append(
            orders_updates.select(F.col("o_orderkey").alias("order_key"))
        )
    if lineitem_updates is not None:
        changed_parts.append(
            lineitem_updates.select(F.col("l_orderkey").alias("order_key"))
        )
    if not changed_parts and customers_updates is None:
        return wh
    # Pinned eagerly: the micro-batch-sized key set is re-used by every
    # bucket-pruned read and merge scope below, and its lineage otherwise
    # re-reads the caller's source (and, after the first swap, could read
    # a target dir that no longer exists).
    changed = (
        reduce(DataFrame.unionByName, changed_parts)
        .distinct()
        .transform(pin)
        if changed_parts
        else None
    )

    # OLD images — pinned eagerly (months as a python list bounded by the
    # CALENDAR, never the batch; key-valued sets stay DataFrames pinned via
    # localCheckpoint) because the dirs they read are about to be swapped.
    # The three pre-merge reads/pins are independent given the pinned
    # ``changed`` set, so they run concurrently (r8 — sequentially they
    # were ~1s of driver-blocking eager jobs ahead of every batch); all of
    # them still complete BEFORE any merge starts swapping dirs.
    from concurrent.futures import ThreadPoolExecutor as _TPE

    def _old_months() -> list:
        return [
            (r["order_year"], r["order_month"])
            for r in _read_keys_pruned(
                spark, wh.silver_order_details, changed, "order_key"
            )
            .select("order_year", "order_month")
            .distinct()
            .collect()
        ]

    def _old_pairs() -> DataFrame:
        # old (custkey, orderkey) pairs: needed to exact-key delete stale
        # images from the by-customer clustering on reassignment, and to
        # mark the losing customer as changed. Kept as a DataFrame — a 100x
        # backfill batch must never materialize its key set in driver
        # memory (VERDICT r3 "What's wrong" §4); only bucket-id collects
        # (bounded by num_buckets) touch the driver.
        return (
            _read_keys_pruned(
                spark,
                wh.bronze("orders"),
                changed.select(F.col("order_key").alias("o_orderkey")),
                "o_orderkey",
            )
            .select("o_custkey", "o_orderkey")
            .transform(pin)
        )

    old_months: list = []
    old_pairs_df: DataFrame | None = None
    cleaned_orders = cleaned_lines = cleaned_custs = None
    with _TPE(max_workers=5) as prep_ex:
        f_months = prep_ex.submit(_old_months) if changed is not None else None
        f_pairs = (
            prep_ex.submit(_old_pairs) if orders_updates is not None else None
        )
        # the cleaned micro-batches' eager pins are independent of the
        # old-image reads (they read only the caller's update frames) —
        # pin them in the same window
        f_co = (
            prep_ex.submit(
                lambda: bronze_orders(
                    spark, "", batch_id, raw=orders_updates
                ).transform(pin)
            )
            if orders_updates is not None
            else None
        )
        f_cl = (
            prep_ex.submit(
                lambda: bronze_lineitem(
                    spark, "", batch_id, raw=lineitem_updates
                ).transform(pin)
            )
            if lineitem_updates is not None
            else None
        )
        f_cc = (
            prep_ex.submit(
                lambda: bronze_customers(
                    spark, "", batch_id, raw=customers_updates
                ).transform(pin)
            )
            if customers_updates is not None
            else None
        )
        if f_months is not None:
            old_months = f_months.result()
        if f_pairs is not None:
            old_pairs_df = f_pairs.result()
        if f_co is not None:
            cleaned_orders = f_co.result()
        if f_cl is not None:
            cleaned_lines = f_cl.result()
        if f_cc is not None:
            cleaned_custs = f_cc.result()

    # 1. bronze merges (same cleaning as the batch extract, via raw=).
    # Each cleaned micro-batch is pinned with an eager localCheckpoint: a
    # caller's updates DataFrame may lazily read the very target a merge is
    # about to swap, and a truncated lineage makes every later use (second
    # merge, semi-joins) read the pinned blocks instead of deleted files.
    # Changed customer keys accumulate as DataFrame parts for the same
    # reason — unioned and distinct'd below, never collected.
    custkey_parts: list[DataFrame] = []
    if old_pairs_df is not None:
        custkey_parts.append(
            old_pairs_df.select(F.col("o_custkey").alias("customer_key"))
        )
    # named per-target bronze merge thunks: the silver chains below wait
    # only on the TARGETS they actually read (r8 — the former all-merges
    # barrier held the order chain for the by-customer/customer merges it
    # never touches, a dead merge-duration per batch)
    bronze_thunks: dict[str, object] = {}
    if cleaned_orders is not None:
        custkey_parts.append(
            cleaned_orders.select(F.col("o_custkey").alias("customer_key"))
        )
        bronze_thunks["orders"] = lambda: merge_upsert(
            spark,
            cleaned_orders,
            wh.bronze("orders"),
            keys=["o_orderkey"],
        )
        bronze_thunks["orders_by_customer"] = lambda: merge_upsert(
            spark,
            cleaned_orders,
            wh.bronze_orders_by_customer,
            keys=["o_custkey", "o_orderkey"],
            bucket_keys=["o_custkey"],
            deletes=old_pairs_df,
        )
    if cleaned_lines is not None:
        bronze_thunks["lineitem"] = lambda: merge_upsert(
            spark,
            cleaned_lines,
            wh.bronze("lineitem"),
            keys=["l_orderkey", "l_linenumber"],
            bucket_keys=["l_orderkey"],
        )
    if cleaned_custs is not None:
        custkey_parts.append(
            cleaned_custs.select(F.col("c_custkey").alias("customer_key"))
        )
        bronze_thunks["customers"] = lambda: merge_upsert(
            spark,
            cleaned_custs,
            wh.bronze("customers"),
            keys=["c_custkey"],
        )
    changed_cust: DataFrame | None = (
        reduce(DataFrame.unionByName, custkey_parts)
        .filter(F.col("customer_key").isNotNull())
        .distinct()
        if custkey_parts
        else None
    )

    from concurrent.futures import Future, ThreadPoolExecutor

    bronze_futs: dict[str, Future] = {}

    def _await_bronze(*targets: str) -> None:
        """Block until the named bronze targets' merges finish (no-op for
        targets with no update this batch); re-raises their failures."""
        for t in targets:
            f = bronze_futs.get(t)
            if f is not None:
                f.result()

    # 2+3 (order chain) and 4 (customer chain) touch disjoint targets —
    # the silver/month path and the customer path run concurrently below,
    # each starting the moment ITS bronze inputs land.
    def _order_chain() -> None:
        if changed is None:
            return
        _await_bronze("orders", "lineitem")
        orders_new = _read_keys_pruned(
            spark,
            wh.bronze("orders"),
            changed.select(F.col("order_key").alias("o_orderkey")),
            "o_orderkey",
        )
        lines_new = _read_keys_pruned(
            spark,
            wh.bronze("lineitem"),
            changed.select(F.col("order_key").alias("l_orderkey")),
            "l_orderkey",
        )
        # pinned: the months-collect below AND the merge write both execute
        # this frame — unpinned, the bucket-pruned silver rebuild ran twice
        new_silver = silver_order_details(
            spark,
            "",
            batch_id,
            orders=orders_new,
            lineitem=lines_new,
            parts=read_merge_target(spark, wh.bronze("parts")),
        ).transform(pin)
        new_months = [
            (r["order_year"], r["order_month"])
            for r in new_silver.select("order_year", "order_month")
            .distinct()
            .collect()
        ]
        months = sorted(set(old_months) | set(new_months))
        years = sorted({y for y, _m in months})

        # 3. The affected months' POST-merge image is assembled WITHOUT
        # waiting for the silver merge: post-merge month rows = pre-merge
        # month rows minus the scoped (changed-order) keys, plus the new
        # silver image — exactly the merge's kept ∪ updates restricted to
        # the affected months (every new_silver month is in `months` by
        # construction). Pinned eagerly BEFORE the merge starts swapping
        # the very dirs it reads; the silver merge and the month-grain
        # re-aggregate then run CONCURRENTLY (r7: takes the ~1.6s silver
        # merge off the gold chain's critical path; 5.3 -> ~4.5s benched).
        month_prep = None
        if months:
            months_df = spark.createDataFrame(
                months, "order_year int, order_month int"
            )
            pre_rows = (
                spark.read.parquet(wh.silver_order_details)
                .drop(BUCKET_COL)
                .filter(F.col("order_year").isin(years))
                .join(
                    F.broadcast(months_df),
                    ["order_year", "order_month"],
                    "left_semi",
                )
                .join(
                    F.broadcast(changed.select(F.col("order_key"))),
                    ["order_key"],
                    "left_anti",
                )
            )
            month_prep = pre_rows.unionByName(new_silver.drop(BUCKET_COL))
            month_prep = month_prep.transform(pin)

        def _silver_merge() -> None:
            merge_upsert(
                spark,
                new_silver,
                wh.silver_order_details,
                keys=["order_key", "line_number"],
                bucket_keys=["order_key"],
                scope=changed,
                partition_cols=["order_year"],
                partition_scope={"order_year": years},
            )

        def _monthly_merge() -> None:
            if month_prep is None:
                return
            # pinned: two consumers inside merge_upsert, its
            # touched-bucket collect and its staging write
            merge_upsert(
                spark,
                monthly_sales_base(month_prep).transform(pin),
                wh.gold_monthly_base,
                keys=["order_year", "order_month"],
                scope=months_df,
            )
            _rewrite_trends(spark, wh)

        _parallel(_silver_merge, _monthly_merge)

    # 4. recompute the changed customers' base rows (bucket-pruned via the
    # by-customer clustering) and scope-replace them; then re-run the
    # global RFM layer over the customer-grain base
    def _customer_chain() -> None:
        if changed_cust is None or not os.path.isdir(wh.silver_customer_base):
            return
        _await_bronze("customers", "orders_by_customer")
        cust_df = changed_cust
        custs = _read_keys_pruned(
            spark,
            wh.bronze("customers"),
            cust_df.select(F.col("customer_key").alias("c_custkey")),
            "c_custkey",
        )
        ords = _read_keys_pruned(
            spark,
            wh.bronze_orders_by_customer,
            cust_df.select(F.col("customer_key").alias("o_custkey")),
            "o_custkey",
        )
        # pinned (r13): merge_upsert references its updates frame ~4-5
        # times (touched-bucket collect, the changelog's insert/pre/post
        # pieces, the staging write), and base_new is a REAL multi-join
        # aggregation over the pruned buckets — unpinned it re-executed
        # per reference (the 3.3s customer-base merge was the update
        # cycle's single largest tracked step). One execution + pinned
        # blocks now; O(changed customers) storage.
        base_new = customer_orders_base(
            custs,
            ords,
            read_merge_target(spark, wh.bronze("nation")),
            read_merge_target(spark, wh.bronze("region")),
        ).transform(pin)
        merge_upsert(
            spark,
            base_new,
            wh.silver_customer_base,
            keys=["customer_key"],
            scope=cust_df,
        )
        # NOT parallelized like the monthly chain: the RFM layer is global,
        # so pre-assembling its post-merge input means pinning the ENTIRE
        # customer base — measured costlier than the 0.5s rewrite it would
        # overlap (r7: 4.8 -> 5.5s). Sequential read-after-merge stays.
        _rewrite_customer_orders(spark, wh)

    # one pool: bronze merges start immediately, both silver chains start
    # with them and self-block on _await_bronze for exactly their inputs
    with ThreadPoolExecutor(max_workers=len(bronze_thunks) + 2) as ex:
        bronze_futs.update(
            {name: ex.submit(fn) for name, fn in bronze_thunks.items()}
        )
        chain_futs = [ex.submit(_order_chain), ex.submit(_customer_chain)]
        for f in [*bronze_futs.values(), *chain_futs]:
            f.result()
    return wh


def incremental_sales_stream(
    spark: SparkSession,
    source_dir: str,
    root: str,
    checkpoint_dir: str,
    batch_id: str = FIXED_BATCH_ID,
):
    """Structured-Streaming front door for the end-to-end refresh: newly
    arrived raw ``orders`` files flow through
    :func:`apply_order_updates` per micro-batch — files land, bronze
    merges, changed silver rows and affected gold months/customers
    refresh, all exactly-once per batch via the checkpoint.

    This is the complete replacement for the reference's daily full
    rebuild (run_sales_analytics.py:109-110): the same warehouse stays
    continuously current at O(batch) cost per trigger."""
    wh = IncrementalWarehouse(root)
    if not os.path.isdir(wh.silver_order_details):
        raise ValueError(
            f"incremental warehouse at {root!r} is not initialized; "
            "run init_incremental_warehouse first"
        )
    static = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(static.schema).parquet(source_dir)

    def _apply(batch_df: DataFrame, _batch_no: int) -> None:
        if batch_df.isEmpty():
            return
        apply_order_updates(
            batch_df.sparkSession, root, orders_updates=batch_df, batch_id=batch_id
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def _replay_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned replay micro-batch, selected once per session. Selecting
    it (a groupBy over all orders + a semi-join back) costs two full
    source scans — harness bookkeeping, not refresh work. In production
    the micro-batch ARRIVES (files/CDC feed); re-deriving it per call
    inflated the steady-state ext.incr_*_update_only numbers by those two
    scans (VERDICT r5 item 4 / r6 task 5). The pin dies with its session,
    so serving it to a LATER session would crash with a null-session NPE
    (caught by scripts/session_sequence_smoke.py) — the memo's session key
    prevents that."""

    def build() -> DataFrame:
        raw = load_table(spark, sf_dir, "orders")
        keys50 = (
            raw.groupBy("o_orderkey")
            .agg(F.max("o_orderdate").alias("d"))
            .orderBy(F.desc("d"), F.desc("o_orderkey"))
            .limit(50)
            .select("o_orderkey")
        )
        return raw.join(F.broadcast(keys50), "o_orderkey", "left_semi").transform(
            pin
        )

    return memo.once(spark, ("replay_batch", sf_dir), build)


def _refreshed_warehouse(spark: SparkSession, sf_dir: str) -> IncrementalWarehouse:
    """Build (once per session and sf_dir) the incremental warehouse and
    push the replay micro-batch through it.

    The update batch replays 50 existing orders verbatim (every raw image
    of each key, so the keyed dedup resolves exactly as the initial load
    did); the refreshed outputs must therefore equal the from-scratch
    silver/gold builds — exactly the oracles the refresh queries register
    against. The 50 keys are the most RECENT orders (latest o_orderdate):
    a real micro-batch clusters in current dates, and that is what lets the
    year-partitioned silver merge and the affected-month gold re-aggregate
    prune — a random-date batch would touch every year partition and most
    months, degenerating to a near-full rewrite. Mutating-update cases
    (values equal a true batch rebuild) are covered in pytest."""

    def build() -> str:
        root = tempfile.mkdtemp(prefix="incr_wh_")
        init_incremental_warehouse(spark, sf_dir, root)
        return root

    # the refresh queries share the warehouse (init is the expensive part);
    # the replay batch is idempotent, so each call may re-apply it
    root = memo.once(spark, ("refresh_warehouse", sf_dir), build, memo.rmtree)
    return apply_order_updates(
        spark, root, orders_updates=_replay_batch(spark, sf_dir)
    )


def _query_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: refreshed gold monthly trends after a replay batch."""
    wh = _refreshed_warehouse(spark, sf_dir)
    return spark.read.parquet(wh.gold_monthly_trends)


def _query_incr_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: refreshed customer_orders (base maintained per
    changed customer via the by-customer clustering; RFM layer recomputed
    over the customer-grain base) after the same replay batch."""
    wh = _refreshed_warehouse(spark, sf_dir)
    return spark.read.parquet(wh.gold_customer_orders)


def register_refresh(register) -> None:
    register(
        "incr_monthly_trends_refresh",
        _query_incremental_refresh,
        vw_monthly_sales_trends_oracle_sql(),
    )
    register(
        "incr_customer_orders_refresh",
        _query_incr_customer_orders,
        silver_customer_orders_oracle_sql(),
    )
