"""Event-time window operators over the ``events`` table.

The reference declares ``"pipeline_mode": "continuous"`` but implements no
streaming (SURVEY.md §2.9); these operators realize the intended incremental
semantics. Each is written as a *batch* DataFrame program over event-time —
the exact transformation a Structured Streaming query would run per
micro-batch (streaming/incremental.py drives the same logic with
``readStream`` + watermarks; tests cover both paths) — so each has a DuckDB
oracle twin:

- tumbling window  -> ``F.window``            / ``date_trunc``
- sliding window   -> ``F.window(slide=...)`` / union of shifted tumbles
- session window   -> ``F.session_window``    / gaps-and-islands (LAG + SUM)
- event dedup      -> keep-first by event_id  / ROW_NUMBER
- JSON extraction  -> ``get_json_object``     / ``json_extract_string``

Scale notes: all window aggregations shuffle on (key, window) — at 100 TB
the watermark bounds streaming state, and the batch forms here shuffle once
with map-side partial aggregation. Session windows use Spark's native
``session_window`` (state-store backed when streamed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import round_dbl
from ..tables import load_table
from .tuning import copy_events, drain_once

_EVENTS_ORACLE_VIEW = "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events"

SESSION_WATERMARK_DELAY = "1 hour"


def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate per event type (W: F.window)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            round_dbl(F.sum("value"), 2).alias("total_value"),
            round_dbl(F.avg("value"), 2).alias("avg_value"),
            F.countDistinct("user_id").alias("unique_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
            "avg_value",
            "unique_users",
        )
    )


EVENTS_TUMBLING_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW})
SELECT
    date_trunc('hour', ts) AS window_start,
    event_type,
    COUNT(*) AS event_count,
    CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_value,
    CAST(ROUND(CAST(AVG(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS avg_value,
    COUNT(DISTINCT user_id) AS unique_users
FROM e
GROUP BY 1, 2"""


def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event lands in 2)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            round_dbl(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_count",
            "total_value",
        )
    )


EVENTS_SLIDING_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
slots AS (
    SELECT *,
        to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS slot
    FROM e
),
assigned AS (
    SELECT event_id, value, slot AS window_start FROM slots
    UNION ALL
    SELECT event_id, value, slot - INTERVAL 30 MINUTE AS window_start FROM slots
)
SELECT
    CAST(window_start AS TIMESTAMP) AS window_start,
    CAST(window_start + INTERVAL 60 MINUTE AS TIMESTAMP) AS window_end,
    COUNT(*) AS event_count,
    CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_value
FROM assigned
GROUP BY 1, 2"""


def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (native ``F.session_window``; state-store backed when streamed)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            round_dbl(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_count",
            "total_value",
        )
    )


# Shared gaps-and-islands sessionization CTE: a new session starts when
# the gap from the previous event exceeds 30 min; session_end is
# last_ts + gap (Spark's definition). BOTH windows order peers by
# (ts, event_id) — the running SUM must enumerate same-timestamp peers in
# the same order LAG marked them, or a tied row could be summed before
# its own is_new marker and land in the previous session (r7 review).
_SESSION_CTE = f"""
e AS ({_EVENTS_ORACLE_VIEW}),
marked AS (
    SELECT user_id, event_id, ts, value,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL 30 MINUTE
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
    FROM e
),
numbered AS (
    SELECT *,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM marked
),
sessions AS (
    SELECT
        user_id,
        CAST(MIN(ts) AS TIMESTAMP) AS session_start,
        CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
        COUNT(*) AS event_count,
        CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_id
)"""


EVENTS_SESSION_ORACLE = f"""
WITH {_SESSION_CTE}
SELECT user_id, session_start, session_end, event_count, total_value
FROM sessions"""


def tumbling_hourly_stream(
    spark: SparkSession, source_dir: str, target_dir: str, checkpoint_dir: str
):
    """The STREAMING form of :func:`events_tumbling_hourly`: watermarked
    ``readStream``, hourly tumbling windows per event type, appended to a
    parquet sink, drained availableNow. Same append-mode contract as the
    session form: a window row emits only once the watermark passes its
    end. ``unique_users`` is absent — COUNT(DISTINCT) is not supported in
    streaming aggregation (Spark would need unbounded per-window sets;
    the batch twin carries it, and a production stream would use
    ``approx_count_distinct``)."""
    static = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(static.schema).parquet(source_dir)
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", SESSION_WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            round_dbl(F.sum("value"), 2).alias("total_value"),
            round_dbl(F.avg("value"), 2).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
            "avg_value",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: drain the streaming hourly tumbling aggregation
    and serve the appended sink (drained once per session,
    :func:`.tuning.drain_once`)."""
    target = drain_once(
        spark,
        ("tumbling_hourly_stream", sf_dir),
        "ss_tumble_",
        lambda src, target, ckpt: tumbling_hourly_stream(spark, src, target, ckpt),
        copy_events(sf_dir),
    )
    return spark.read.parquet(target)


def sliding_windows_stream(
    spark: SparkSession, source_dir: str, target_dir: str, checkpoint_dir: str
):
    """The STREAMING form of :func:`events_sliding_windows`: watermarked
    ``readStream``, 1-hour windows sliding every 30 minutes (each event
    feeds TWO state-store window rows), appended once the watermark
    passes each window's end — the overlapping-window state semantics the
    tumbling form cannot exercise."""
    static = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(static.schema).parquet(source_dir)
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", SESSION_WATERMARK_DELAY)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            round_dbl(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_count",
            "total_value",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: drain the streaming sliding-window aggregation and
    serve the appended sink (drained once per session)."""
    target = drain_once(
        spark,
        ("sliding_windows_stream", sf_dir),
        "ss_slide_",
        lambda src, target, ckpt: sliding_windows_stream(spark, src, target, ckpt),
        copy_events(sf_dir),
    )
    return spark.read.parquet(target)


# Watermark-gated batch twin of the sliding form: every 30-min slot feeds
# two overlapping windows; only windows whose END passed the horizon were
# emitted by append mode.
STREAM_SLIDING_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
wm AS (
    SELECT date_trunc('milliseconds', (SELECT max(ts) FROM e))
           - INTERVAL '{SESSION_WATERMARK_DELAY}' AS wm
),
slots AS (
    SELECT *,
        to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS slot
    FROM e
),
assigned AS (
    SELECT event_id, value, slot AS window_start FROM slots
    UNION ALL
    SELECT event_id, value, slot - INTERVAL 30 MINUTE AS window_start FROM slots
),
agg AS (
    SELECT
        CAST(window_start AS TIMESTAMP) AS window_start,
        CAST(window_start + INTERVAL 60 MINUTE AS TIMESTAMP) AS window_end,
        COUNT(*) AS event_count,
        CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_value
    FROM assigned
    GROUP BY 1, 2
)
SELECT a.window_start, a.window_end, a.event_count, a.total_value
FROM agg a, wm
WHERE a.window_end < wm.wm"""


# Watermark-gated batch twin: hourly buckets whose end has passed the
# end-of-stream horizon (same strict-< eviction contract as the session
# and LEFT OUTER join oracles).
STREAM_TUMBLING_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
wm AS (
    SELECT date_trunc('milliseconds', (SELECT max(ts) FROM e))
           - INTERVAL '1 hour' AS wm
),
agg AS (
    SELECT
        date_trunc('hour', ts) AS window_start,
        event_type,
        COUNT(*) AS event_count,
        CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS total_value,
        CAST(ROUND(CAST(AVG(value) AS DECIMAL(38,6)), 2) AS DOUBLE) AS avg_value
    FROM e
    GROUP BY 1, 2
)
SELECT a.window_start, a.event_type, a.event_count, a.total_value, a.avg_value
FROM agg a, wm
WHERE a.window_start + INTERVAL 1 HOUR < wm.wm"""


def session_windows_stream(
    spark: SparkSession, source_dir: str, target_dir: str, checkpoint_dir: str
):
    """The STREAMING form of :func:`events_session_windows`: a watermarked
    ``readStream`` over the events source, native ``session_window``
    aggregation (state-store backed session merging), appended to a
    parquet sink; ``availableNow`` drains the current source and stops.

    Append-mode semantics: a session row emits only once the event-time
    watermark (max event time seen − delay, ms-floored) passes its
    ``session_end`` — the state store must prove no future event can still
    extend the session (an event within 30 min of session_end would merge
    into it; the 1-hour delay then adds the allowed lateness). Sessions
    younger than the end-of-stream horizon stay in state, unemitted — the
    same watermark-gated contract as the stream-stream LEFT OUTER join
    (joins.py), and the oracle mirrors it (STREAM_SESSION_ORACLE).

    At 100 TB: state is O(open sessions per user inside the watermark),
    not O(stream); the aggregation shuffles on user_id once per
    micro-batch with session merge inside the state store."""
    static = spark.read.parquet(source_dir)
    stream = spark.readStream.schema(static.schema).parquet(source_dir)
    agg = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", SESSION_WATERMARK_DELAY)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            round_dbl(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "event_count",
            "total_value",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", target_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: drain the streaming sessionization over the events
    table and serve the appended sink (drained once per session: a
    timed-out drain raises and is never memoized)."""
    target = drain_once(
        spark,
        ("session_windows_stream", sf_dir),
        "ss_session_",
        lambda src, target, ckpt: session_windows_stream(spark, src, target, ckpt),
        copy_events(sf_dir),
    )
    return spark.read.parquet(target)


# The batch gaps-and-islands sessionization gated on the end-of-stream
# watermark horizon: sessions whose end (last_ts + 30 min) is strictly
# below (ms-floored max event time − 1 hour) have provably stopped growing
# and were emitted; younger sessions were still open in state. The strict
# < matches Spark's eviction predicate (validated empirically at both SFs;
# no corpus session_end lands exactly on the horizon).
STREAM_SESSION_ORACLE = f"""
WITH {_SESSION_CTE},
wm AS (
    SELECT date_trunc('milliseconds', (SELECT max(ts) FROM e))
           - INTERVAL '{SESSION_WATERMARK_DELAY}' AS wm
)
SELECT s.user_id, s.session_start, s.session_end, s.event_count, s.total_value
FROM sessions s, wm
WHERE s.session_end < wm.wm"""


def events_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed event dedup — the batch analog of streaming
    ``withWatermark().dropDuplicates(["event_id"])``."""
    from ..operators import dedup_latest

    events = load_table(spark, sf_dir, "events")
    return dedup_latest(
        events, keys=["event_id"], tiebreak_cols=["ts", "user_id", "event_type", "value", "props"]
    )


EVENTS_DEDUP_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW})
SELECT event_id, ts, user_id, event_type, value, props
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id
        ORDER BY ts ASC NULLS LAST, user_id ASC NULLS LAST,
                 event_type ASC NULLS LAST, value ASC NULLS LAST,
                 props ASC NULLS LAST
    ) AS _rn FROM e
) WHERE _rn = 1"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation (``props`` is a JSON string)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k", F.get_json_object("props", "$.k").cast("int")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            round_dbl(F.avg("k"), 2).alias("avg_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("null_k"),
        )
    )


EVENTS_JSON_ORACLE = f"""
WITH e AS ({_EVENTS_ORACLE_VIEW}),
parsed AS (
    SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM e
)
SELECT event_type,
    COUNT(*) AS event_count,
    MIN(k) AS min_k,
    MAX(k) AS max_k,
    CAST(ROUND(CAST(AVG(k) AS DECIMAL(38,6)), 2) AS DOUBLE) AS avg_k,
    COUNT(CASE WHEN k IS NULL THEN 1 END) AS null_k
FROM parsed
GROUP BY event_type"""


def stream_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming dedup under AT-LEAST-ONCE delivery: the events
    file is fed TWICE (a full redelivery — the failure mode every
    at-least-once source has), drained one file per trigger, and
    ``dropDuplicatesWithinWatermark`` must collapse the second delivery
    even though it arrives in a later micro-batch — exercising the
    watermark-bounded dedup STATE STORE, not a within-batch distinct.
    Output is checked against the batch dedup oracle
    (``EVENTS_DEDUP_ORACLE``): exactly one copy of every event survives.

    At 100 TB the state is bounded by keys inside the watermark horizon
    (here the horizon covers the corpus so the collapse is total — the
    operator's contract is exactly-once WITHIN the lateness bound,
    Spark's documented semantics for at-least-once sources)."""

    def start(src: str, target: str, ckpt: str):
        static = spark.read.parquet(src)
        return (
            spark.readStream.schema(static.schema)
            .option("maxFilesPerTrigger", 1)  # redelivery lands in a LATER batch
            .parquet(src)
            # NTZ source -> LTZ for the watermark; session tz is pinned UTC
            # so the cast is wall-clock-preserving (events_rolling_5min note)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "60 days")  # horizon covers the corpus span
            .dropDuplicatesWithinWatermark(["event_id"])
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # the same payload delivered twice
    target = drain_once(
        spark,
        ("stream_dedup_redelivery", sf_dir),
        "stream_dedup_",
        start,
        copy_events(sf_dir, deliveries=2),
    )
    return spark.read.parquet(target).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


def register_all(register) -> None:
    register("events_tumbling_hourly", events_tumbling_hourly, EVENTS_TUMBLING_ORACLE)
    register(
        "stream_dedup_redelivery", stream_dedup_redelivery, EVENTS_DEDUP_ORACLE
    )
    register("events_sliding_windows", events_sliding_windows, EVENTS_SLIDING_ORACLE)
    register("events_session_windows", events_session_windows, EVENTS_SESSION_ORACLE)
    register("stream_session_windows", stream_session_windows, STREAM_SESSION_ORACLE)
    register("stream_tumbling_hourly", stream_tumbling_hourly, STREAM_TUMBLING_ORACLE)
    register("stream_sliding_windows", stream_sliding_windows, STREAM_SLIDING_ORACLE)
    register("events_deduped", events_deduped, EVENTS_DEDUP_ORACLE)
    register("events_json_props", events_json_props, EVENTS_JSON_ORACLE)
