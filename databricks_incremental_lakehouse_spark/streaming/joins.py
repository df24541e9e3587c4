"""Stream-stream join — the one §2.9 operator family round 5 lacked.

``view`` events joined to ``purchase`` events of the same user arriving
within :data:`JOIN_BOUND_MIN` minutes of the view — the canonical
attribution join ("which views converted"). Three faces of one relation:

- :func:`events_view_purchase_join` — the BATCH twin over the events
  table: an equi-join on user_id with the interval predicate as a join
  filter. This is the oracle-checkable definition of the semantics.
- :func:`view_purchase_join_stream` — the STREAMING form: two
  ``readStream`` legs over the same source, both watermarked, joined with
  the same time-bound condition. Spark's stream-stream inner join keeps
  each side's rows in the state store only until the other side's
  watermark passes the time bound — state is O(watermark x arrival rate),
  not O(stream) — and emits each matched pair exactly once, so the
  drained output EQUALS the batch join row-for-row (asserted in
  tests/test_streaming.py and by the shared driver oracle).
- :func:`stream_view_purchase_join` — the registry query that drains the
  stream (availableNow, once per session) and serves the result, so
  the stream-stream path itself gets a driver CORRECTNESS row instead of
  a pytest-only check.

At 100 TB: both legs shuffle on user_id once; the interval bound is what
makes unbounded-stream state finite (without both per-side time bounds
Spark must keep every row forever). The batch twin's plan is the same
single hash join DuckDB runs for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .tuning import copy_events, drain_once

JOIN_BOUND_MIN = 30  # purchase within [view.ts, view.ts + 30 minutes]

_JOIN_COND = (
    "view_user_id = purchase_user_id "
    "AND purchase_ts >= view_ts "
    f"AND purchase_ts <= view_ts + INTERVAL {JOIN_BOUND_MIN} MINUTES"
)


def _views(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_event_id"),
        F.col("user_id").alias("view_user_id"),
        F.col("ts").cast("timestamp").alias("view_ts"),
        F.col("value").alias("view_value"),
    )


def _purchases(ev: DataFrame) -> DataFrame:
    return ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("user_id").alias("purchase_user_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )


def _project(joined: DataFrame) -> DataFrame:
    """The shared output contract of the batch and streaming forms.
    ``delay_us`` is an exact integer microsecond difference (second-grain
    epoch would floor on Spark but round on DuckDB's double epoch)."""
    return joined.select(
        "view_event_id",
        F.col("view_user_id").alias("user_id"),
        "view_ts",
        "view_value",
        "purchase_event_id",
        "purchase_ts",
        "purchase_value",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias(
            "delay_us"
        ),
    )


def events_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin: every (view, purchase) pair of the same user with the
    purchase inside the attribution bound."""
    ev = load_table(spark, sf_dir, "events")
    return _project(_views(ev).join(_purchases(ev), F.expr(_JOIN_COND)))


EVENTS_VIEW_PURCHASE_ORACLE = f"""
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                  value FROM events),
v AS (SELECT event_id AS view_event_id, user_id, ts AS view_ts,
             value AS view_value FROM e WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts,
             value AS purchase_value FROM e WHERE event_type = 'purchase')
SELECT v.view_event_id, v.user_id, v.view_ts, v.view_value,
       p.purchase_event_id, p.purchase_ts, p.purchase_value,
       epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS delay_us
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL {JOIN_BOUND_MIN} MINUTES"""


WATERMARK_DELAY = "1 hour"


def view_purchase_join_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    how: str = "inner",
):
    """The streaming form: two watermarked legs over the events source,
    stream-stream join with the per-side time bound, appended to a
    parquet sink; ``availableNow`` drains the current source and stops.

    ``how="inner"``: matches emit eagerly; the watermark only governs
    state eviction, so the drained output equals the batch join exactly.

    ``how="left_outer"``: a view's NULL row can only emit once the
    watermark proves no in-bound purchase can still arrive — i.e. when
    ``view_ts + JOIN_BOUND < watermark``, watermark = min over both legs
    of (max event time seen − delay). Views younger than that horizon at
    end-of-stream stay in state, unemitted (they would emit on the next
    trigger if more data arrived). This is the semantics the oracle
    mirrors (see LEFT_ORACLE) — the watermark horizon is part of the
    operator's CONTRACT, not an artifact."""
    static = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(static.schema).parquet(source_dir)
    views = _views(stream).withWatermark("view_ts", WATERMARK_DELAY)
    purchases = _purchases(stream).withWatermark("purchase_ts", WATERMARK_DELAY)
    joined = _project(views.join(purchases, F.expr(_JOIN_COND), how))
    return (
        joined.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def _drained_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Drain the stream-stream join over the events table once per
    (session, sf_dir, how) and serve the appended sink."""
    target = drain_once(
        spark,
        ("view_purchase_join_stream", sf_dir, how),
        "ss_join_",
        lambda src, target, ckpt: view_purchase_join_stream(
            spark, src, target, ckpt, how=how
        ),
        copy_events(sf_dir),
    )
    return spark.read.parquet(target)


def stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the drained INNER stream-stream join — checked
    against the SAME oracle as the batch twin."""
    return _drained_join(spark, sf_dir, "inner")


def stream_view_purchase_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the drained LEFT OUTER stream-stream join. The
    NULL rows are watermark-gated (see :func:`view_purchase_join_stream`),
    so the oracle is batch-matches UNION unmatched views older than the
    end-of-stream watermark horizon — the horizon is the contract."""
    return _drained_join(spark, sf_dir, "left_outer")


# The left-outer oracle mirrors Spark's eviction horizon: global watermark
# = min over both legs of (ms-floored max event time − 1 hour delay); a
# view's NULL row exists iff it is unmatched AND view_ts + 30 min < that
# watermark. (Spark tracks event-time watermarks at millisecond grain —
# hence the ms floor; the strict < matches observed behavior, and no corpus
# timestamp lands exactly on the boundary.)
STREAM_VIEW_PURCHASE_LEFT_ORACLE = f"""
WITH e AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
                  value FROM events),
v AS (SELECT event_id AS view_event_id, user_id, ts AS view_ts,
             value AS view_value FROM e WHERE event_type = 'view'),
p AS (SELECT event_id AS purchase_event_id, user_id, ts AS purchase_ts,
             value AS purchase_value FROM e WHERE event_type = 'purchase'),
wm AS (
    SELECT LEAST(
        date_trunc('milliseconds', (SELECT max(view_ts) FROM v)),
        date_trunc('milliseconds', (SELECT max(purchase_ts) FROM p))
    ) - INTERVAL '{WATERMARK_DELAY}' AS wm
)
SELECT v.view_event_id, v.user_id, v.view_ts, v.view_value,
       p.purchase_event_id, p.purchase_ts, p.purchase_value,
       epoch_us(p.purchase_ts) - epoch_us(v.view_ts) AS delay_us
FROM v JOIN p
  ON v.user_id = p.user_id
 AND p.purchase_ts >= v.view_ts
 AND p.purchase_ts <= v.view_ts + INTERVAL {JOIN_BOUND_MIN} MINUTES
UNION ALL
SELECT v.view_event_id, v.user_id, v.view_ts, v.view_value,
       CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP), CAST(NULL AS DOUBLE),
       CAST(NULL AS BIGINT)
FROM v, wm
WHERE v.view_ts + INTERVAL {JOIN_BOUND_MIN} MINUTES < wm.wm
  AND NOT EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = v.user_id
        AND p.purchase_ts >= v.view_ts
        AND p.purchase_ts <= v.view_ts + INTERVAL {JOIN_BOUND_MIN} MINUTES
  )"""


def register_joins(register) -> None:
    register(
        "events_view_purchase_join",
        events_view_purchase_join,
        EVENTS_VIEW_PURCHASE_ORACLE,
    )
    register(
        "stream_view_purchase_join",
        stream_view_purchase_join,
        EVENTS_VIEW_PURCHASE_ORACLE,
    )
    register(
        "stream_view_purchase_left_join",
        stream_view_purchase_left_join,
        STREAM_VIEW_PURCHASE_LEFT_ORACLE,
    )
