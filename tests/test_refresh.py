"""End-to-end incremental silver/gold refresh: changed-key recompute must
equal the reference-style full batch rebuild, without rerunning it."""

import os

import pytest
from pyspark.sql import functions as F

from databricks_incremental_lakehouse_spark.bronze import bronze_orders
from databricks_incremental_lakehouse_spark.gold import vw_monthly_sales_trends
from databricks_incremental_lakehouse_spark.silver.order_details import (
    silver_order_details,
)
from databricks_incremental_lakehouse_spark.streaming import (
    IncrementalWarehouse,
    apply_order_updates,
    init_incremental_warehouse,
    read_merge_target,
)
from databricks_incremental_lakehouse_spark.tables import load_table


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def warehouse(spark, sf_smoke, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("incr_wh"))
    init_incremental_warehouse(spark, sf_smoke, root)
    return root


def test_init_matches_batch_layers(spark, sf_smoke, warehouse):
    wh = IncrementalWarehouse(warehouse)
    got = spark.read.parquet(wh.gold_monthly_trends)
    want = vw_monthly_sales_trends(spark, sf_smoke)
    assert _rows(got) == _rows(want)
    silver = read_merge_target(spark, wh.silver_order_details)
    assert silver.count() == silver_order_details(spark, sf_smoke).count()


def test_update_flows_to_gold_and_matches_batch_rebuild(
    spark, sf_smoke, warehouse
):
    """One updated order + one new order flow through to the gold trends
    without a full pipeline rerun; the result equals a from-scratch batch
    rebuild over the updated source. The update moves the order's date to
    a different month, so both the old month and the new month must
    change, and the old month must shed the order's old lines."""
    raw = load_table(spark, sf_smoke, "orders")
    date_type = dict(raw.dtypes)["o_orderdate"]
    some_key = raw.select("o_orderkey").orderBy("o_orderkey").first()[0]
    new_key = raw.agg(F.max("o_orderkey")).first()[0] + 1

    upd = spark.createDataFrame(
        [
            # date moved to a different year/month; price changed
            (some_key, 42, "F", 12345.67, "1995-06-15", "1-URGENT"),
            # brand-new order (no lineitems yet -> contributes no silver rows)
            (new_key, 43, "O", 99.0, "1995-06-16", "2-HIGH"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast(date_type))

    apply_order_updates(spark, warehouse, orders_updates=upd)

    wh = IncrementalWarehouse(warehouse)
    got = spark.read.parquet(wh.gold_monthly_trends)

    # batch rebuild over the same updated source (merge semantics by key)
    merged_raw = raw.join(upd.select("o_orderkey"), "o_orderkey", "left_anti").unionByName(
        upd
    )
    od = silver_order_details(
        spark, sf_smoke, orders=bronze_orders(spark, sf_smoke, raw=merged_raw)
    )
    want = vw_monthly_sales_trends(spark, sf_smoke, order_details=od)
    assert _rows(got) == _rows(want)

    # and silver really replaced the whole order scope (date moved with it)
    silver = read_merge_target(spark, wh.silver_order_details)
    od_rows = silver.filter(F.col("order_key") == some_key)
    assert od_rows.count() > 0
    years = {r.order_year for r in od_rows.select("order_year").collect()}
    assert years == {1995}


def test_lineitem_update_refreshes_its_order(spark, sf_smoke, warehouse):
    """A single lineitem change re-derives only its order's silver rows and
    the affected month's gold aggregates."""
    raw_li = load_table(spark, sf_smoke, "lineitem")
    wh = IncrementalWarehouse(warehouse)
    first = (
        raw_li.select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
        .first()
    )
    target_line = raw_li.filter(
        (F.col("l_orderkey") == first.l_orderkey)
        & (F.col("l_linenumber") == first.l_linenumber)
    ).withColumn("l_quantity", F.col("l_quantity") + 5)

    before = spark.read.parquet(wh.gold_monthly_trends)
    before_rows = _rows(before)
    apply_order_updates(spark, warehouse, lineitem_updates=target_line)

    silver = read_merge_target(spark, wh.silver_order_details)
    got_line = silver.filter(
        (F.col("order_key") == first.l_orderkey)
        & (F.col("line_number") == first.l_linenumber)
    ).collect()
    assert len(got_line) == 1
    want_qty = target_line.first().l_quantity
    assert got_line[0].quantity == want_qty
    # gold changed (the affected month's quantities moved)
    after_rows = _rows(spark.read.parquet(wh.gold_monthly_trends))
    assert after_rows != before_rows


def test_customer_orders_refresh_matches_batch_rebuild(
    spark, sf_smoke, warehouse
):
    """An order reassigned to a DIFFERENT customer plus a customer-profile
    update flow through the by-customer clustering (exact-key delete of
    the stale image) and the refreshed customer_orders equals a
    from-scratch batch rebuild over the updated sources."""
    from databricks_incremental_lakehouse_spark.bronze import bronze_customers
    from databricks_incremental_lakehouse_spark.silver.customer_orders import (
        silver_customer_orders,
    )
    from databricks_incremental_lakehouse_spark.streaming.refresh import (
        read_merge_target,
    )

    wh = IncrementalWarehouse(warehouse)
    # current state of the warehouse's bronze (includes earlier tests' edits)
    cur_orders = read_merge_target(spark, wh.bronze("orders"))
    cur_custs = read_merge_target(spark, wh.bronze("customers"))

    # pick an order and reassign it to a different customer
    victim = cur_orders.orderBy("o_orderkey").limit(1).collect()[0]
    other_cust = (
        cur_custs.filter(F.col("c_custkey") != victim.o_custkey)
        .orderBy("c_custkey")
        .first()
        .c_custkey
    )
    from decimal import Decimal

    ord_upd = spark.createDataFrame(
        [
            (
                victim.o_orderkey,
                other_cust,
                victim.o_orderstatus,
                victim.o_totalprice + Decimal("1.00"),
                victim.o_orderdate,
                victim.o_orderpriority,
            )
        ],
        cur_orders.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ).schema,
    )
    # and bump one customer's account balance
    cust_upd = spark.createDataFrame(
        [(victim.o_custkey,)], "c_custkey long"
    ).join(cur_custs, "c_custkey").withColumn(
        "c_acctbal", F.col("c_acctbal") + 100
    ).select(*cur_custs.columns)

    apply_order_updates(
        spark, warehouse, orders_updates=ord_upd, customers_updates=cust_upd
    )

    got = spark.read.parquet(wh.gold_customer_orders)
    # batch rebuild from the SAME post-update bronze state
    want = silver_customer_orders(
        spark,
        sf_smoke,
        customers=read_merge_target(spark, wh.bronze("customers")),
        orders=read_merge_target(spark, wh.bronze("orders")),
        nation=read_merge_target(spark, wh.bronze("nation")),
        region=read_merge_target(spark, wh.bronze("region")),
    )
    assert _rows(got) == _rows(want)

    # the by-customer clustering holds exactly one image of the reassigned
    # order, under the new customer
    byc = read_merge_target(spark, wh.bronze_orders_by_customer)
    images = byc.filter(F.col("o_orderkey") == victim.o_orderkey).collect()
    assert len(images) == 1 and images[0].o_custkey == other_cust
    # and the by-customer copy agrees row-for-row with the primary
    assert byc.count() == read_merge_target(spark, wh.bronze("orders")).count()


def test_empty_update_batch_is_noop(spark, sf_smoke, warehouse):
    wh = IncrementalWarehouse(warehouse)
    before = _rows(spark.read.parquet(wh.gold_monthly_trends))
    empty = load_table(spark, sf_smoke, "orders").limit(0)
    apply_order_updates(spark, warehouse, orders_updates=empty)
    assert _rows(spark.read.parquet(wh.gold_monthly_trends)) == before


def test_uninitialized_warehouse_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="not initialized"):
        apply_order_updates(
            spark, str(tmp_path / "nope"), orders_updates=None, lineitem_updates=None
        )


def test_uninitialized_warehouse_raises_with_updates(spark, sf_smoke, tmp_path):
    upd = load_table(spark, sf_smoke, "orders").limit(1)
    with pytest.raises(ValueError, match="not initialized"):
        apply_order_updates(spark, str(tmp_path / "nope"), orders_updates=upd)


def test_streaming_front_door_refreshes_gold(spark, sf_smoke, warehouse, tmp_path):
    """Files arriving in a streaming source directory flow through the full
    refresh: after the stream drains, gold monthly trends equals a batch
    rebuild over the merged bronze state, exactly-once via the checkpoint."""
    from decimal import Decimal

    from databricks_incremental_lakehouse_spark.bronze import bronze_orders
    from databricks_incremental_lakehouse_spark.streaming import (
        incremental_sales_stream,
        read_merge_target,
    )

    wh = IncrementalWarehouse(warehouse)
    cur_orders = read_merge_target(spark, wh.bronze("orders"))
    victim = cur_orders.orderBy(F.col("o_orderkey").desc()).limit(1).collect()[0]
    upd = spark.createDataFrame(
        [
            (
                victim.o_orderkey,
                victim.o_custkey,
                victim.o_orderstatus,
                victim.o_totalprice + Decimal("500.00"),
                victim.o_orderdate,
                victim.o_orderpriority,
            )
        ],
        cur_orders.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        ).schema,
    )
    src = str(tmp_path / "stream_src")
    chk = str(tmp_path / "stream_chk")
    upd.write.mode("append").parquet(src)

    q = incremental_sales_stream(spark, src, warehouse, chk)
    q.awaitTermination(120)

    got = spark.read.parquet(wh.gold_monthly_trends)
    od = read_merge_target(spark, wh.silver_order_details)
    want = vw_monthly_sales_trends(spark, sf_smoke, order_details=od)
    assert _rows(got) == _rows(want)
    # re-running the drained stream is a no-op (checkpoint exactly-once)
    before = _rows(got)
    q = incremental_sales_stream(spark, src, warehouse, chk)
    q.awaitTermination(120)
    assert _rows(spark.read.parquet(wh.gold_monthly_trends)) == before


def test_replay_batch_memo_is_session_scoped(spark, sf_smoke):
    """r13 (found by scripts/session_sequence_smoke.py): the pinned replay
    micro-batch is localCheckpoint'd, so it dies with its session — the
    memo must key on session identity like every other DataFrame cache,
    and sweep entries of stopped sessions, or a later session in the same
    process collects a dead plan (null-session NPE)."""
    from types import SimpleNamespace

    from databricks_incremental_lakehouse_spark import memo
    from databricks_incremental_lakehouse_spark.streaming import refresh as R

    key = ("replay_batch", sf_smoke)
    upd = R._replay_batch(spark, sf_smoke)
    assert upd.count() > 0
    assert memo.get(spark, key) is upd
    assert R._replay_batch(spark, sf_smoke) is upd

    # a foreign session's entry is swept by the next miss, never served
    dead = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="dead-app", startTime=0)
    )
    memo.put(dead, key, upd)
    assert memo.get(spark, key) is None  # the live entry was swept in turn
    fresh = R._replay_batch(spark, sf_smoke)
    assert memo.get(dead, key) is None
    assert fresh is not upd and memo.get(spark, key) is fresh
