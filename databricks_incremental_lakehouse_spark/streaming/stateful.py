"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.9); this is the
north-star extension's custom-state path: where built-in window aggregates
(windows.py) and ``dropDuplicates`` (incremental.py) cover the declarative
cases, arbitrary per-key running state needs the Arrow-batched state API.

Operator: per-user running totals — event count, value sum, last-seen
timestamp — updated per micro-batch from explicit ``GroupState`` and merged
into a parquet target keyed by ``user_id``. After the stream drains, the
target equals the batch ``groupBy(user_id).agg(...)`` over the same input
(asserted in tests/test_streaming.py).

Scale notes: state lives in the executor state store partitioned by the
group key — per-key state is O(1) here (three scalars), so state size
grows with distinct users, not events. Arrow moves each micro-batch's
group rows into pandas in one block; the per-batch merge is
``merge_upsert`` keyed on user_id (at production scale: Delta MERGE).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .incremental import merge_upsert
from .tuning import copy_events, drain_once

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming import StreamingQuery

OUTPUT_SCHEMA = (
    "user_id bigint, event_count bigint, total_value double, last_ts timestamp"
)
STATE_SCHEMA = "event_count bigint, total_value double, last_ts timestamp"


def _update_user_totals(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """State update kernel: fold this micro-batch's rows for one user into
    the running (count, sum, last_ts) triple and emit the new totals."""
    (user_id,) = key
    if state.exists:
        count, total, last_ts = state.get
    else:
        count, total, last_ts = 0, 0.0, None
    for pdf in pdfs:
        count += len(pdf)
        total += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        if last_ts is None or batch_max > last_ts:
            last_ts = batch_max
    state.update((count, total, last_ts))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "event_count": count,
                "total_value": total,
                "last_ts": last_ts,
            }
        ]
    )


def stateful_user_totals_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
) -> "StreamingQuery":
    """readStream(events parquet) -> applyInPandasWithState running totals
    -> per-batch merge into ``target_dir`` keyed on user_id.

    Uses ``availableNow`` so the call drains the current source and
    terminates — the same incremental-batch discipline as
    :func:`incremental_events_stream`.
    """
    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(source_dir)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, batch_df, target_dir, keys=["user_id"])

    return (
        stream.writeStream.foreachBatch(_merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: drain the stateful running-totals stream over the
    ``events`` table (availableNow) and return the merged per-user target.

    After the stream drains, the explicit-state fold must equal the batch
    ``groupBy(user_id)`` aggregate — exactly what the DuckDB oracle
    computes, making the custom-stateful path driver-checkable rather than
    pytest-only. ``total_value`` is rounded through the portable decimal
    grid at the boundary: the stream accumulates each user's sum in
    per-batch pandas folds whose addition order differs from a SQL
    aggregate's (same tolerance the stream-vs-batch test uses)."""
    from pyspark.sql import functions as F

    from ..operators import round_dbl
    from .incremental import read_merge_target

    # drained once per session; the driver and the parametrized registry
    # test both call the query twice
    target = drain_once(
        spark,
        ("stateful_user_totals_stream", sf_dir),
        "stateful_q_",
        lambda src, target, ckpt: stateful_user_totals_stream(
            spark, src, target, ckpt
        ),
        copy_events(sf_dir),
    )
    return read_merge_target(spark, target).select(
        "user_id",
        "event_count",
        round_dbl(F.col("total_value"), 6).alias("total_value"),
        "last_ts",
    )


STREAM_USER_TOTALS_ORACLE = """
SELECT user_id, COUNT(*) AS event_count,
    CAST(ROUND(CAST(SUM(value) AS DECIMAL(38,10)), 6) AS DOUBLE) AS total_value,
    MAX(ts) AS last_ts
FROM events
GROUP BY user_id"""


# ---------------------------------------------------------------------------
# Streaming ordered funnel — the stateful twin of temporal.events_funnel
# ---------------------------------------------------------------------------

# Per-user state for the ordered view->click->purchase funnel, in exact
# event-time MICROSECONDS (integer state is Arrow-exact across the state
# store; deriving timestamps only at emit keeps the fold bit-stable):
#   t_view    — the earliest view seen so far (only this matters: the
#               funnel window is anchored at the MIN view, which is
#               monotone non-increasing as events arrive in any order);
#   clicks    — candidate click times still able to participate: once a
#               view exists, anything > t_view + W can never qualify
#               again (the anchor only moves DOWN, so the admission
#               window's upper bound only shrinks) and is evicted;
#               clicks BELOW t_view are kept — an earlier view may yet
#               arrive and make them valid;
#   purchases — candidates bounded by t_view + 2W for the same reason
#               (t_click <= t_view + W, valid purchase <= t_click + W).
# State is therefore bounded by the 2W event-time horizon per user — the
# honest streaming-funnel state bound — not by total event history.
FUNNEL_STATE_SCHEMA = "t_view bigint, clicks array<bigint>, purchases array<bigint>"
FUNNEL_OUTPUT_SCHEMA = (
    "user_id bigint, t_view timestamp, t_click timestamp, "
    "t_purchase timestamp, reached_step int"
)


def _update_funnel(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's micro-batch into funnel state and emit the current
    funnel row (update mode; arrival-order independent — any interleaving
    of micro-batches converges to the batch cascaded-min result)."""
    from .temporal import FUNNEL_STEPS, FUNNEL_WINDOW_HOURS

    w_us = FUNNEL_WINDOW_HOURS * 3_600_000_000
    (user_id,) = key
    if state.exists:
        t_view, clicks, purchases = state.get
        clicks, purchases = list(clicks), list(purchases)
    else:
        t_view, clicks, purchases = None, [], []
    for pdf in pdfs:
        micros = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
        for t, et in zip(micros.tolist(), pdf["event_type"].tolist()):
            if et == FUNNEL_STEPS[0]:
                if t_view is None or t < t_view:
                    t_view = t
            elif et == FUNNEL_STEPS[1]:
                clicks.append(t)
            elif et == FUNNEL_STEPS[2]:
                purchases.append(t)
    if t_view is not None:
        clicks = [c for c in clicks if c <= t_view + w_us]
        purchases = [p for p in purchases if p <= t_view + 2 * w_us]
    state.update((t_view, clicks, purchases))

    t_click = None
    if t_view is not None:
        valid = [c for c in clicks if t_view < c <= t_view + w_us]
        t_click = min(valid) if valid else None
    t_purchase = None
    if t_click is not None:
        valid = [p for p in purchases if t_click < p <= t_click + w_us]
        t_purchase = min(valid) if valid else None

    def _ts(us):
        return pd.NaT if us is None else pd.to_datetime(us, unit="us")

    reached = (
        3 if t_purchase is not None
        else 2 if t_click is not None
        else 1 if t_view is not None
        else 0
    )
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "t_view": _ts(t_view),
                "t_click": _ts(t_click),
                "t_purchase": _ts(t_purchase),
                "reached_step": reached,
            }
        ]
    )


def stateful_funnel_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> "StreamingQuery":
    """readStream(events parquet) -> per-user stateful ordered funnel ->
    per-batch merge into ``target_dir`` keyed on user_id (availableNow).

    ``max_files_per_trigger`` forces multi-micro-batch drains (tests use
    it to prove the fold is arrival-order independent)."""
    static = spark.read.parquet(source_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (
        reader.parquet(source_dir)
        .select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_funnel,
            outputStructType=FUNNEL_OUTPUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, batch_df, target_dir, keys=["user_id"])

    return (
        stream.writeStream.foreachBatch(_merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: drain the stateful streaming funnel and serve the
    merged per-user target. After the drain the explicit-state fold must
    equal the batch cascaded-min funnel — the SAME DuckDB oracle as
    ``events_funnel``/``events_funnel_aggjoin`` (third physical shape,
    identical semantics), so the custom-stateful ordered-sequence path is
    driver-checkable, not pytest-only."""
    from .incremental import read_merge_target

    target = drain_once(
        spark,
        ("stateful_funnel_stream", sf_dir),
        "stateful_funnel_",
        lambda src, target, ckpt: stateful_funnel_stream(spark, src, target, ckpt),
        copy_events(sf_dir),
    )
    return read_merge_target(spark, target).select(
        "user_id", "t_view", "t_click", "t_purchase", "reached_step"
    )


# ---------------------------------------------------------------------------
# Streaming cohort retention — the stateful twin of temporal.events_retention
# ---------------------------------------------------------------------------

# Per-user state: the distinct ACTIVE DAYS as integer epoch-days (a set —
# bounded by the retention horizon in production, by the corpus span here,
# never by event count; re-observing a day is a no-op). The cohort day is
# its minimum, so an early event arriving late simply re-anchors the
# offsets at emit time — the fold is arrival-order independent like the
# funnel's.
RETENTION_STATE_SCHEMA = "days array<int>"
RETENTION_OUTPUT_SCHEMA = "user_id bigint, cohort_day int, offsets array<int>"


def _update_retention(
    key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold one user's micro-batch into the active-day set and emit the
    current (cohort day, day offsets) image (update mode)."""
    (user_id,) = key
    days = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        epoch_days = (
            pdf["ts"].astype("datetime64[ns]").astype("int64")
            // 86_400_000_000_000
        )
        days.update(int(d) for d in epoch_days.tolist())
    ordered = sorted(days)
    state.update((ordered,))
    cohort = ordered[0]
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "cohort_day": cohort,
                "offsets": [d - cohort for d in ordered],
            }
        ]
    )


def stateful_retention_stream(
    spark: SparkSession,
    source_dir: str,
    target_dir: str,
    checkpoint_dir: str,
) -> "StreamingQuery":
    """readStream(events parquet) -> per-user active-day state -> per-batch
    merge of (cohort, offsets) images into ``target_dir`` (availableNow).

    This is how an incremental retention pipeline actually runs at scale:
    the per-user day-set is maintained stream-side (O(horizon) state per
    user), and the O(cohorts x offsets) triangle is rolled up from the
    compact per-user image on demand — the fact is never rescanned."""
    static = spark.read.parquet(source_dir)
    stream = (
        spark.readStream.schema(static.schema)
        .parquet(source_dir)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_retention,
            outputStructType=RETENTION_OUTPUT_SCHEMA,
            stateStructType=RETENTION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, batch_df, target_dir, keys=["user_id"])

    return (
        stream.writeStream.foreachBatch(_merge_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: drain the stateful retention stream, then roll the
    merged per-user (cohort, offsets) images up to the cohort triangle —
    same DuckDB oracle as the batch ``events_retention``."""
    from pyspark.sql import functions as F

    from ..operators import round_dbl
    from .incremental import read_merge_target

    target = drain_once(
        spark,
        ("stateful_retention_stream", sf_dir),
        "stateful_ret_",
        lambda src, target, ckpt: stateful_retention_stream(
            spark, src, target, ckpt
        ),
        copy_events(sf_dir),
    )
    per_user = read_merge_target(spark, target).select(
        "user_id",
        F.date_from_unix_date("cohort_day").alias("cohort_day"),
        F.explode("offsets").alias("day_offset"),
    )
    ret = per_user.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    size = ret.filter(F.col("day_offset") == 0).select(
        "cohort_day", F.col("n_active").alias("cohort_size")
    )
    return ret.join(F.broadcast(size), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_active",
        "cohort_size",
        round_dbl(
            F.col("n_active") / F.col("cohort_size").cast("double"), 6
        ).alias("retention_rate"),
    )
